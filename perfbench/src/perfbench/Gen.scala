package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter
import java.util.{Locale, SplittableRandom}

/** Seeded input generators. Every generated value is a pure function of
  * (seed, entity coordinates): each article or document draws from its own
  * `SplittableRandom`, so the same seed gives byte-identical inputs no
  * matter which pages the program asks for, in what order, or on which
  * JVM thread (executors regenerate history rows in parallel).
  */
object Gen {

  /** A 64-bit finalizer (SplitMix64) over the mixed coordinates. */
  def mix(xs: Long*): Long = xs.foldLeft(0x9E3779B97F4A7C15L) { (h, x) =>
    var z = h ^ (x + 0x9E3779B97F4A7C15L + (h << 6) + (h >>> 2))
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(xs: Long*): SplittableRandom = new SplittableRandom(mix(xs: _*))

  def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  private val Syllables = Vector(
    "ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "bi", "da", "fe", "gu",
    "ho", "ji", "ke", "la", "mo", "nu", "pa", "qi", "ro", "si", "tu", "va",
    "wi", "xo", "yu", "ze", "an", "el", "in", "or", "ul", "ba", "ce", "di",
    "fo", "ga", "he", "ki", "lu", "ma", "ni", "po", "re", "so", "ti", "vu",
    "ra", "zo", "be", "co", "du", "fi", "go", "hu", "ja", "ko", "le", "mu",
    "na", "pe", "ri", "sy")

  /** Word `i` of the synthetic vocabulary: distinct for every i < 64^3. */
  def word(i: Int): String =
    Syllables(i % 64) + Syllables((i / 64) % 64) + Syllables((i / 4096) % 64)

  def words(r: SplittableRandom, n: Int, vocab: Int): Seq[String] =
    Seq.fill(n)(word(r.nextInt(vocab)))
}

/** The two listing shapes the library extracts ([[graft.extract.Sites]]). */
sealed abstract class Site(val ordinal: Int, val sourceName: String,
                           val perPage: Int)
object Site {
  case object Skift extends Site(0, "Skift", 12)
  case object Phocus extends Site(1, "Phocuswire", 10)
  val all: Seq[Site] = Seq(Skift, Phocus)
}

/** One generated article. `day` is an epoch day; `slot` its newest-first
  * position within the day. A title revision shows on any listing viewed
  * after the publish day (the overlap-day re-ingest replaces the key).
  */
final case class GenArticle(seed: Long, site: Site, day: Long, slot: Int,
                            link: String, href: String, title0: String,
                            hasTitle: Boolean, revised: Boolean,
                            author: Option[String], time: LocalDateTime, tz: String) {
  def id: String = Gen.md5Hex(link)
  /** Listing-only text, drawn from its own stream so rows need not pay it. */
  def teaser: String =
    Gen.words(Gen.rng(seed, 7, site.ordinal, day, slot), 25 + (slot % 25), 6000).mkString(" ")
  def title(viewDay: Long): Option[String] =
    if (!hasTitle) None
    else if (revised && viewDay > day) Some("Updated: " + title0)
    else Some(title0)
}

/** Listing-page generator for both sites. Each site publishes `perDay`
  * articles every day from `firstDay` on; a listing viewed on `viewDay`
  * shows them newest first, `site.perPage` per page, wrapped in page
  * chrome. Element shares: 1/97 without a title, 1/7 without an author,
  * 1/10 with a title revised on the next day. PhocusWire pages carry a
  * decoy item before the `article-list` container (dated years back, so
  * an unscoped probe would stop the scan on page 1) and one after it
  * (dated after the view day, so an unscoped extraction would store it).
  */
final case class Listings(seed: Long, perDay: Int, firstDay: Long) {
  import Listings._

  def article(site: Site, day: Long, slot: Int): GenArticle = {
    val r = Gen.rng(seed, 1, site.ordinal, day, slot)
    val slugWords = Gen.words(r, 4 + r.nextInt(5), 6000)
    val slug = (slugWords :+ s"$day$slot").mkString("-")
    val date = LocalDate.ofEpochDay(day)
    val (href, link) = site match {
      case Site.Skift =>
        val l = s"https://skift.com/${date.format(PathDate)}/$slug/"
        (l, l)
      case Site.Phocus =>
        val h = s"/news/${Sections(r.nextInt(Sections.size))}/$slug"
        (h, "https://www.phocuswire.com/" + h)
    }
    val titleWords = Gen.words(r, 5 + r.nextInt(8), 6000).map(_.capitalize)
    val flourish = Flourishes(r.nextInt(Flourishes.size))
    val title0 = ((titleWords.head + flourish) +: titleWords.tail).mkString(" ")
    val hasTitle = r.nextInt(97) != 0
    val revised = r.nextInt(10) == 0
    val author =
      if (r.nextInt(7) == 0) None
      else Some(Seq.fill(2)(Gen.word(r.nextInt(3000)).capitalize).mkString(" "))
    // strictly newest-first within the day: slot j sits in its own window
    val spacing = 86400 / perDay
    val sec = site match {
      case Site.Skift => 86399 - slot * spacing - r.nextInt(spacing)
      case Site.Phocus => 0 // date-only listing: midnight
    }
    val tz = Offsets(r.nextInt(Offsets.size))
    GenArticle(seed, site, day, slot, link, href, title0, hasTitle, revised, author,
      date.atStartOfDay().plusSeconds(sec.toLong), tz)
  }

  /** Articles of listing page `page` (1-based) viewed on `viewDay`. */
  def pageArticles(site: Site, viewDay: Long, page: Int): Seq[GenArticle] = {
    val from = (page - 1).toLong * site.perPage
    (from until from + site.perPage).iterator.map { pos =>
      (viewDay - pos / perDay, (pos % perDay).toInt)
    }.takeWhile(_._1 >= firstDay).map { case (d, s) => article(site, d, s) }.toSeq
  }

  def page(site: Site, viewDay: Long, page: Int): String =
    render(site, viewDay, page, pageArticles(site, viewDay, page))

  /** The page HTML; chrome only (no elements) past the listing's end. */
  def render(site: Site, viewDay: Long, page: Int, arts: Seq[GenArticle]): String = {
    val sb = new java.lang.StringBuilder(16384)
    site match {
      case Site.Skift =>
        sb.append(chromeHead(site, page))
        sb.append("<main><section class=\"c-listing\">\n")
        arts.foreach { a =>
          sb.append("<article class=\"c-tease\"><h3 class=\"c-tease__title\"><a href=\"")
            .append(a.link).append("\">").append(a.title(viewDay).getOrElse(""))
            .append("</a></h3>\n<p class=\"c-tease__excerpt\">").append(a.teaser)
            .append("</p>\n<div class=\"c-tease__byline\">")
          a.author.foreach(n => sb.append("<a class=\"underline\">").append(n).append("</a> "))
          sb.append("<time datetime=\"").append(a.time.format(Iso)).append(a.tz)
            .append("\">").append(a.time.toLocalDate.format(Human))
            .append("</time></div></article>\n")
        }
        sb.append("</section></main>\n").append(chromeFoot(site))
      case Site.Phocus =>
        sb.append(chromeHead(site, page))
        sb.append("<aside class=\"sidebar\"><div class=\"item\"><a class=\"title\" ")
          .append("href=\"/sponsored/partner-spotlight\">Partner spotlight</a>")
          .append("<div class=\"author\"><span class=\"name\">By Sponsor</span> | ")
          .append(LocalDate.ofEpochDay(viewDay - 2000).format(MonthDay))
          .append("</div></div></aside>\n<div class=\"article-list\">\n")
        arts.foreach { a =>
          sb.append("<div class=\"item\"><a class=\"title\" href=\"").append(a.href)
            .append("\">").append(a.title(viewDay).getOrElse(""))
            .append("</a>\n<p class=\"teaser\">").append(a.teaser)
            .append("</p>\n<div class=\"author\">")
          a.author.foreach(n => sb.append("<span class=\"name\">By ").append(n).append("</span>"))
          sb.append(" | ").append(a.time.toLocalDate.format(MonthDay))
            .append("</div></div>\n")
        }
        sb.append("</div>\n<div class=\"promo\"><div class=\"item\"><a class=\"title\" ")
          .append("href=\"/promo/events-summit\">Register for the summit</a>")
          .append("<div class=\"author\"><span class=\"name\">By Events</span> | ")
          .append(LocalDate.ofEpochDay(viewDay + 30).format(MonthDay))
          .append("</div></div></div>\n").append(chromeFoot(site))
    }
    sb.toString
  }

  /** Fixed per-seed page chrome: head, navigation and a config blob. */
  private def chromeHead(site: Site, page: Int): String = {
    val name = site.sourceName
    val r = Gen.rng(seed, 2, site.ordinal)
    val nav = (0 until 60).map { i =>
      val w = Gen.word(r.nextInt(6000))
      s"""<li class="nav__item"><a href="/topics/$w">${w.capitalize}</a></li>"""
    }.mkString("\n")
    val cfg = (0 until 40).map(i => s""""k$i":"${Gen.word(r.nextInt(6000))}"""").mkString(",")
    s"""<!doctype html><html lang="en"><head><meta charset="utf-8">
       |<title>$name | Latest news, page $page</title>
       |<link rel="stylesheet" href="/assets/site.css"><script>window.__cfg={$cfg};</script>
       |</head><body><header class="site-header"><nav><ul>
       |$nav
       |</ul></nav></header>
       |""".stripMargin
  }

  private def chromeFoot(site: Site): String = {
    val name = site.sourceName
    val r = Gen.rng(seed, 3, site.ordinal)
    val links = (0 until 40).map { _ =>
      val w = Gen.word(r.nextInt(6000))
      s"""<a class="footer__link" href="/about/$w">${w.capitalize}</a>"""
    }.mkString(" ")
    s"""<footer class="site-footer"><p>$links</p><p>&copy; $name</p></footer></body></html>
       |""".stripMargin
  }
}

object Listings {
  private val PathDate = DateTimeFormatter.ofPattern("yyyy/MM/dd")
  private val Iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  private val Human = DateTimeFormatter.ofPattern("MMM d, yyyy", Locale.ENGLISH)
  private val MonthDay = DateTimeFormatter.ofPattern("MMMM d, yyyy", Locale.ENGLISH)
  private val Sections = Vector("distribution", "hotels", "travel-technology",
    "mobility", "payments", "funding")
  private val Offsets = Vector("+00:00", "-04:00", "-05:00", "+01:00", "+05:30", "Z")
  private val Flourishes = Vector("", "", "", "", "\u2019s", ":", " \u2014", " Meli\u00e1")
}

/** One generated corpus document and what the pipeline must do with it. */
final case class GenDoc(id: Long, text: String, kind: GenDoc.Kind)
object GenDoc {
  sealed trait Kind
  case object Fresh extends Kind
  case object ExactClone extends Kind
  case object NormClone extends Kind
  case object Repetitive extends Kind
}

/** Document generator for the daily corpus flow. Fresh documents draw
  * uniformly from a 20k-word vocabulary with lengths spread over
  * 40..640 tokens (log-uniform). A day's batch plants, per document:
  * 12% exact clones and 8% normalization clones (upper-cased, zero-width
  * characters inserted, whitespace widened) of an earlier kept document —
  * half from history, half from earlier in the same batch — and 10%
  * repetitive documents that fail the repetition gate. The rest are fresh.
  * Clones always carry a larger id than their source, so every in-batch
  * clone component keeps its source and every clone is dropped.
  */
final case class Docs(seed: Long, historyDocs: Int, perDay: Int) {
  import GenDoc._

  private val Vocab = 20000

  def freshText(id: Long): String = {
    val r = Gen.rng(seed, 4, id)
    val n = math.exp(math.log(40) + r.nextDouble() * math.log(16)).toInt
    Gen.words(r, n, Vocab).mkString(" ")
  }

  /** History docs are ids 1..historyDocs, all fresh and distinct. */
  def history(id: Long): GenDoc = GenDoc(id, freshText(id), Fresh)

  def dayBase(day: Int): Long = historyDocs.toLong + day.toLong * perDay

  /** Day `day` (0-based) of the daily batches. `keptBefore(d)` are the
    * ids kept on earlier days, which are history for this batch.
    */
  def day(day: Int, keptBefore: IndexedSeq[Long]): Seq[GenDoc] = {
    val r = Gen.rng(seed, 5, day)
    val base = dayBase(day)
    val freshToday = scala.collection.mutable.ArrayBuffer.empty[GenDoc]
    def histSource(): Long = {
      val pool = historyDocs + keptBefore.size
      val k = r.nextInt(pool)
      if (k < historyDocs) k + 1L else keptBefore(k - historyDocs)
    }
    def sourceText(): String =
      if (freshToday.nonEmpty && r.nextBoolean())
        freshToday(r.nextInt(freshToday.size)).text
      else freshText(histSource())
    (1 to perDay).map { i =>
      val id = base + i
      val u = r.nextInt(100)
      val d =
        if (u < 12) GenDoc(id, sourceText(), ExactClone)
        else if (u < 20) GenDoc(id, pollute(sourceText(), r), NormClone)
        else if (u < 30) GenDoc(id, repetitive(r), Repetitive)
        else GenDoc(id, freshText(id), Fresh)
      if (d.kind == Fresh) freshToday += d
      d
    }
  }

  /** Same content after [[graft.text.TextOps.normalize]], alien raw bytes. */
  private def pollute(text: String, r: SplittableRandom): String = {
    val zw = Array("\u200B", "\u200C", "\u200D", "\uFEFF")
    val ws = Array(" ", "  ", " \t", "\t")
    text.split(" ").map { w =>
      val cased = if (r.nextInt(3) == 0) w.toUpperCase(Locale.ROOT) else w
      if (r.nextInt(4) == 0) {
        val at = r.nextInt(cased.length + 1)
        cased.substring(0, at) + zw(r.nextInt(zw.length)) + cased.substring(at)
      } else cased
    }.mkString(ws(r.nextInt(ws.length))) + "  \t"
  }

  /** A 1-3 word phrase repeated, or one word filling a third of the doc:
    * both exceed the gate's 20% top-word share.
    */
  private def repetitive(r: SplittableRandom): String = {
    val n = 40 + r.nextInt(160)
    if (r.nextBoolean()) {
      val phrase = Gen.words(r, 1 + r.nextInt(3), Vocab)
      Iterator.continually(phrase).flatten.take(n).mkString(" ")
    } else {
      val filler = Gen.word(r.nextInt(Vocab))
      Seq.tabulate(n)(i => if (i % 3 == 0) filler else Gen.word(r.nextInt(Vocab)))
        .mkString(" ")
    }
  }
}
