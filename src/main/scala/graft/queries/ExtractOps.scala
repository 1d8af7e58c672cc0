package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.extract.{HtmlExtract, Sites}

/** Oracle-checked exercise of the HTML extraction layer (P1–P7): render
  * the `events` table into synthetic listing pages in BOTH sites' fixture
  * shapes (even event_ids → Skift articles, odd → PhocusWire items, ~20
  * elements per page), then run the real
  * [[graft.extract.HtmlExtract.articles]] path — element explode, field
  * extraction, Q1/Q2 null filters, link build (double-slash quirk), author
  * clean, per-site date parse — and union the sources (U1).
  *
  * Synthesis plants the edge branches: every 97th event has no title
  * anchor (row must be dropped, Q1) and every 7th user has no author
  * element (null Author_name, P5).
  */
object ExtractOps {

  def htmlExtract(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")

    def pages(elements: DataFrame): DataFrame =
      elements.groupBy(col("page")).agg(
        expr("concat_ws('', transform(sort_array(collect_list(struct(event_id, el))), s -> s.el))")
          .as("html"))

    val skEl = e.filter(col("event_id") % 2 === 0).select(
      expr("event_id div 40").as("page"), col("event_id"),
      concat(
        lit("<article><h3 class=\"c-tease__title\">"),
        when(col("event_id") % 97 === 0, lit("")).otherwise(concat(
          lit("<a href=\"https://skift.com/e/"), col("event_id"), lit("/\">Event "),
          col("event_id"), lit("</a>"))),
        lit("</h3><div class=\"c-tease__byline\">"),
        when(col("user_id") % 7 === 0, lit("")).otherwise(concat(
          lit("<a class=\"underline\">User "), col("user_id"), lit("</a>"))),
        lit("<time datetime=\""), date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"),
        lit("+00:00\"></time></div></article>")).as("el"))

    val pwEl = e.filter(col("event_id") % 2 === 1).select(
      expr("event_id div 40").as("page"), col("event_id"),
      concat(
        lit("<div class=\"item\">"),
        when(col("event_id") % 97 === 0, lit("")).otherwise(concat(
          lit("<a class=\"title\" href=\"/news/"), col("event_id"), lit("\">Event "),
          col("event_id"), lit("</a>"))),
        lit("<div class=\"author\">"),
        when(col("user_id") % 7 === 0, lit("")).otherwise(concat(
          lit("<span class=\"name\">By User "), col("user_id"), lit("</span>"))),
        lit(" | "), date_format(col("ts"), "MMMM d, yyyy"),
        lit("</div></div>")).as("el"))

    // PhocusWire pages carry DECOY items on BOTH sides of the listing
    // container — a sidebar promo before it and a footer promo after it,
    // each a fully-valid element that the two-sided container scope
    // (`div.article-list div.item`, PhocusWireSource.py:132; TagScope
    // depth counting here) must exclude; without scoping either would be
    // extracted and the oracle would catch the divergence.
    val pwPages = pages(pwEl).select(concat(
      lit("<aside><div class=\"item\"><a class=\"title\" href=\"/decoy\">Sidebar promo</a>" +
        "<div class=\"author\"><span class=\"name\">By Nobody</span> | January 1, 2020" +
        "</div></div></aside><div class=\"article-list\">"),
      col("html"),
      lit("</div><footer><div class=\"item\">" +
        "<a class=\"title\" href=\"/footer-decoy\">Footer promo</a>" +
        "<div class=\"author\"><span class=\"name\">By Nobody</span> | January 1, 2020" +
        "</div></div></footer>")).as("html"))
    // NOT spread before the parse: an r21 experiment repartitioned the
    // page frames so the HTML parse would run on all cores instead of
    // the few AQE-coalesced post-shuffle partitions, and measured
    // SLOWER (2.6 -> 3.3 s at sf0.1) — the depth-counting parse is
    // cheaper than the extra exchange of the page payloads it would
    // parallelize.
    val sk = HtmlExtract.articles(pages(skEl), "html", Sites.skift)
    val pw = HtmlExtract.articles(pwPages, "html", Sites.phocuswire)
    sk.unionByName(pw).select(
      col("Article_id").as("article_id"),
      col("News_link").as("news_link"),
      col("News_title").as("news_title"),
      col("Author_name").as("author_name"),
      date_format(col("News_published_time"), "yyyy-MM-dd HH:mm:ss").as("pub_time_s"),
      col("Source_name").as("source_name"))
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("html_extract", htmlExtract, """
      WITH sk_el AS (
        SELECT event_id // 40 AS page, event_id,
          '<article><h3 class="c-tease__title">' ||
          CASE WHEN event_id % 97 = 0 THEN '' ELSE
            '<a href="https://skift.com/e/' || event_id || '/">Event ' || event_id || '</a>' END ||
          '</h3><div class="c-tease__byline">' ||
          CASE WHEN user_id % 7 = 0 THEN '' ELSE
            '<a class="underline">User ' || user_id || '</a>' END ||
          '<time datetime="' || strftime(ts, '%Y-%m-%dT%H:%M:%S') ||
          '+00:00"></time></div></article>' AS el
        FROM events WHERE event_id % 2 = 0),
      sk_pages AS (SELECT string_agg(el, '' ORDER BY event_id) AS html
                   FROM sk_el GROUP BY page),
      sk_elem AS (SELECT unnest(regexp_extract_all(html, '<article[\s\S]*?</article>')) AS element
                  FROM sk_pages),
      sk_raw AS (SELECT
          nullif(regexp_extract(element, '<h3 class="c-tease__title"><a href="[^"]*">([^<]*)</a>', 1), '') AS title,
          nullif(regexp_extract(element, '<h3 class="c-tease__title"><a href="([^"]*)">', 1), '') AS href,
          nullif(regexp_extract(element, '<a class="underline">([^<]*)</a>', 1), '') AS author_raw,
          nullif(regexp_extract(element, '<time datetime="([^"]*)"', 1), '') AS date_raw
        FROM sk_elem),
      sk AS (SELECT md5(href) AS article_id, href AS news_link, title AS news_title,
          trim(author_raw) AS author_name,
          strftime(try_strptime(regexp_replace(date_raw, '([+-]\d{2}:?\d{2}|Z)$', ''),
                                '%Y-%m-%dT%H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS pub_time_s,
          'Skift' AS source_name
        FROM sk_raw WHERE title IS NOT NULL AND href IS NOT NULL),
      pw_el AS (
        SELECT event_id // 40 AS page, event_id,
          '<div class="item">' ||
          CASE WHEN event_id % 97 = 0 THEN '' ELSE
            '<a class="title" href="/news/' || event_id || '">Event ' || event_id || '</a>' END ||
          '<div class="author">' ||
          CASE WHEN user_id % 7 = 0 THEN '' ELSE
            '<span class="name">By User ' || user_id || '</span>' END ||
          ' | ' || strftime(ts, '%B %-d, %Y') || '</div></div>' AS el
        FROM events WHERE event_id % 2 = 1),
      pw_pages AS (SELECT '<aside><div class="item"><a class="title" href="/decoy">Sidebar promo</a>'
                     || '<div class="author"><span class="name">By Nobody</span> | January 1, 2020'
                     || '</div></div></aside><div class="article-list">'
                     || string_agg(el, '' ORDER BY event_id)
                     || '</div><footer><div class="item">'
                     || '<a class="title" href="/footer-decoy">Footer promo</a>'
                     || '<div class="author"><span class="name">By Nobody</span> | January 1, 2020'
                     || '</div></div></footer>' AS html
                   FROM pw_el GROUP BY page),
      -- two-sided container scope, mirroring TagScope's depth counting:
      -- split the post-marker tail on '</div>'; close #k ends the subtree
      -- when 1 + opens-before-it - k = 0 (an open is '<div' followed by
      -- space or '>'), and the scope is the joined prefix of k segments;
      -- no such k = an unbalanced container, which auto-closes at end of
      -- input (the whole tail), exactly like TagScope.scope
      pw_tail AS (SELECT substr(html, strpos(html, '<div class="article-list">') + 26) AS s
                  FROM pw_pages WHERE strpos(html, '<div class="article-list">') > 0),
      pw_segs AS (SELECT s, string_split(s, '</div>') AS g FROM pw_tail),
      pw_k AS (SELECT s, g, list_filter(range(1, len(g)),
                 k -> 1 + list_aggregate(list_transform(g[1:k],
                        x -> len(regexp_extract_all(x, '<div[ >]'))), 'sum') - k = 0)[1] AS k
               FROM pw_segs),
      pw_scoped AS (SELECT '<div class="article-list">'
                      || CASE WHEN k IS NULL THEN s
                         ELSE array_to_string(g[1:k], '</div>') || '</div>' END AS html
                    FROM pw_k),
      pw_elem AS (SELECT unnest(regexp_extract_all(html, '<div class="item">[\s\S]*?</div>\s*</div>')) AS element
                  FROM pw_scoped),
      pw_raw AS (SELECT
          nullif(regexp_extract(element, '<a class="title" href="[^"]*">([^<]*)</a>', 1), '') AS title,
          nullif(regexp_extract(element, '<a class="title" href="([^"]*)">', 1), '') AS href,
          nullif(regexp_extract(element, '<span class="name">([^<]*)</span>', 1), '') AS author_raw,
          nullif(regexp_extract(element, '\|([^<]*)</div>', 1), '') AS date_raw
        FROM pw_elem),
      pw AS (SELECT md5('https://www.phocuswire.com' || '/' || href) AS article_id,
          'https://www.phocuswire.com' || '/' || href AS news_link, title AS news_title,
          regexp_replace(trim(author_raw), '^By ', '') AS author_name,
          strftime(try_strptime(trim(date_raw), '%B %d, %Y'), '%Y-%m-%d %H:%M:%S') AS pub_time_s,
          'Phocuswire' AS source_name
        FROM pw_raw WHERE title IS NOT NULL AND href IS NOT NULL)
      SELECT * FROM sk UNION ALL SELECT * FROM pw"""),
  )
}
