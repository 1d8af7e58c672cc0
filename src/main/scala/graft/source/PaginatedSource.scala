package graft.source

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

import graft.extract.{HtmlExtract, SiteSpec}

/** A listing page provider. `fetch` returns None on unrecoverable failure
  * (which terminates the scan, like the reference's
  * PhocusWire/PhocusWireSource.py:127-129).
  */
trait PageFetcher {
  def fetch(page: Int): Option[String]
}

/** S3/S4 — HTTP page fetcher with the reference's retry/backoff/throttle
  * policy (reference: PhocusWire/PhocusWireSource.py:58-82,206-209):
  * `maxRetries` attempts waiting `backoffFactor * 2^attempt` seconds
  * between them, a fixed request timeout, optional UA headers (PhocusWire
  * sends a Chrome UA, Skift sends none — Skift/SkiftSource.py:43), and a
  * uniform(minDelay, maxDelay) seconds politeness sleep between pages.
  *
  * Network-free environments exercise the identical pagination semantics
  * through [[FixtureFetcher]]; this class is the production binding.
  */
final class HttpFetcher(
    urlForPage: Int => String,
    headers: Map[String, String] = Map.empty,
    maxRetries: Int = 3,
    backoffFactor: Double = 1.0,
    timeoutSeconds: Int = 10,
    minDelaySeconds: Double = 1.0,
    maxDelaySeconds: Double = 3.0) extends PageFetcher {

  private val client = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(timeoutSeconds.toLong))
    .followRedirects(java.net.http.HttpClient.Redirect.NORMAL)
    .build()
  private var firstFetch = true

  override def fetch(page: Int): Option[String] = {
    if (!firstFetch) { // politeness delay between pages, not before page 1
      val d = minDelaySeconds +
        java.util.concurrent.ThreadLocalRandom.current()
          .nextDouble() * (maxDelaySeconds - minDelaySeconds)
      Thread.sleep((d * 1000).toLong)
    }
    firstFetch = false
    var attempt = 0
    while (attempt < maxRetries) {
      try {
        val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(urlForPage(page)))
          .timeout(java.time.Duration.ofSeconds(timeoutSeconds.toLong))
        headers.foreach { case (k, v) => b.header(k, v) }
        val resp = client.send(b.GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        if (resp.statusCode() < 400) return Some(resp.body())
      } catch { case _: Exception => () }
      // Reference policy (PhocusWire/PhocusWireSource.py:78): wait
      // backoff_factor * 2^attempt starting at attempt = 0 (first wait is
      // 1×), and the wait runs after EVERY failure including the last.
      Thread.sleep((backoffFactor * math.pow(2, attempt.toDouble) * 1000).toLong)
      attempt += 1
    }
    None
  }
}

/** Test/fixture binding: serves a fixed page list and records which pages
  * were requested — the early-stop contract is asserted against
  * `fetched`.
  */
class FixtureFetcher(pages: Seq[String]) extends PageFetcher {
  val fetched: ArrayBuffer[Int] = ArrayBuffer.empty
  override def fetch(page: Int): Option[String] = {
    fetched += page
    if (page >= 1 && page <= pages.size) Some(pages(page - 1)) else None
  }
}

/** Fixture-directory binding: serves `dir/page-N.html`, a missing file
  * being the end of the listing (the DSv2 source's `pagesDir` mode).
  */
final class DirFetcher(dir: String) extends PageFetcher {
  override def fetch(page: Int): Option[String] = {
    val p = java.nio.file.Paths.get(dir, s"page-$page.html")
    if (java.nio.file.Files.exists(p)) Some(java.nio.file.Files.readString(p))
    else None
  }
}

/** S1/S2/O1 — the paginated scan with watermark early-stop, the
  * reference's dominant cost optimization (SURVEY.md §4): pagination
  * stops at the first article older than the watermark
  * (reference: PhocusWire/PhocusWireSource.py:180-185,203-204;
  * Skift/SkiftSource.py:165-170), on an empty page, or on fetch failure —
  * old pages are NEVER requested.
  *
  * Spark shape: the page loop is source-connector internals below the
  * plan (a MicroBatchStream would make the same sequential offset
  * decisions); the stop check is a driver-side regex probe reusing the
  * SAME element/date patterns as the distributed path, so no Spark job
  * runs per page. The surviving pages become one Dataset and the real
  * extraction (explode + project) runs distributed, once. The
  * watermark-hit page is included whole: trailing older rows are dropped
  * by the plan's Q3 filter, proven equivalent to the reference's mid-page
  * break in SURVEY.md §3.2.
  */
final class PaginatedSource(
    spark: SparkSession,
    fetcher: PageFetcher,
    spec: SiteSpec,
    maxPages: Int = 1000) {
  import PaginatedSource._

  /** Fetch pages newest-first until a stop condition, then extract. */
  def load(watermark: Timestamp): DataFrame = {
    val (kept, _) = scan(fetcher, spec, watermark, 1, maxPages)
    val pages = spark.createDataset(kept)(Encoders.STRING).toDF("html")
    HtmlExtract.articles(pages, "html", spec)
  }
}

object PaginatedSource {

  /** O1 — the page loop of both bindings (this batch source and the DSv2
    * stream): fetch pages `from`, `from + 1`, … up to `maxPages`, keeping
    * each until a stop condition. A fetch failure or an empty page ends
    * the scan unkept; a sub-watermark article ends it after its page,
    * which is kept whole (strict <: equal-date articles re-ingest, the
    * deliberate overlap day). Returns the kept pages and whether a stop
    * condition, rather than `maxPages`, ended the scan.
    */
  private[source] def scan(fetcher: PageFetcher, spec: SiteSpec,
                           watermark: Timestamp, from: Int,
                           maxPages: Int): (Seq[String], Boolean) = {
    val kept = ArrayBuffer.empty[String]
    var page = from
    var stop = false
    while (!stop && page <= maxPages) {
      fetcher.fetch(page) match {
        case None => stop = true
        case Some(html) =>
          val dates = pageDates(spec, html)
          if (dates.isEmpty) stop = true
          else {
            kept += html
            if (dates.exists(_.exists(_.before(watermark)))) stop = true
            page += 1
          }
      }
    }
    (kept.toSeq, stop)
  }

  /** Driver-side mirror of the per-site date extraction, used ONLY for
    * the early-stop probe; the authoritative parse is the Column path in
    * [[graft.extract.HtmlExtract]] with identical regex strings, and the
    * probe's parser is the SiteSpec's own `probeDate` — a new site brings
    * both dialect forms, nothing here special-cases site names.
    */
  def pageDates(spec: SiteSpec, html: String): Seq[Option[Timestamp]] = {
    // Same container scoping as HtmlExtract.elements — literally the
    // same scan (TagScope.scope): the probe must see exactly the
    // elements the distributed path extracts, or the early-stop decision
    // and the extraction could diverge on a page with decoy elements
    // outside the listing container.
    val scoped = spec.container
      .map(c => graft.funcs.TagScope.scope(html, c.openTag, c.tag))
      .getOrElse(html)
    spec.elementRe.r.findAllIn(scoped).map { el =>
      spec.dateRe.r.findFirstMatchIn(el).map(_.group(1)).flatMap(spec.probeDate)
    }.toSeq
  }
}
