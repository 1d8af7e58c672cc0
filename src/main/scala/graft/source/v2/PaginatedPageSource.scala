package graft.source.v2

import java.sql.Timestamp
import java.util

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.extract.{SiteSpec, Sites}
import graft.source.{DirFetcher, HttpFetcher, PageFetcher, PaginatedSource}

/** DataSource V2 streaming source for the paginated listing scan
  * (S1/S2/O1 as a real `MicroBatchStream`): one page = one offset, and
  * the watermark early-stop lives INSIDE offset planning — `latestOffset`
  * stops advancing at the first sub-watermark article, an empty page, or
  * a fetch failure, so pages past the cutoff are never requested. This is
  * the "pushdown below the plan" SURVEY.md §4 calls the one hand-built
  * optimization; the driver-side
  * [[graft.source.PaginatedSource]] is the batch binding of the same
  * logic.
  *
  * Options: exactly ONE of `pagesDir` (fixture mode: serves
  * `page-N.html` files) or `urlTemplate` (HTTP mode: a
  * `String.format` template with one `%d` page slot, fetched through
  * [[graft.source.HttpFetcher]] — the reference's production mode,
  * PhocusWire/PhocusWireSource.py:121-129 — honoring `maxRetries`,
  * `backoffFactor`, `timeoutSeconds`, `minDelaySeconds`,
  * `maxDelaySeconds`, `userAgent`);
  * `site` (`skift` | `phocuswire` — selects the probe's SiteSpec),
  * `watermark` (`yyyy-MM-dd HH:mm:ss`), `maxPages`.
  * Emits rows (page INT, html STRING); compose with
  * [[graft.extract.HtmlExtract.articles]] downstream — explode +
  * extraction are all streaming-supported expressions.
  *
  * Page fetching happens on the driver during offset probing (the page
  * loop is inherently sequential); fetched page strings ship to
  * executors inside the InputPartitions, so the distributed side never
  * re-fetches. After a checkpoint restart the partitions re-read from
  * the fixture dir deterministically.
  */
class PaginatedPageSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "paginated-pages"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PaginatedPageSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new PageTable(new CaseInsensitiveStringMap(properties))
}

object PaginatedPageSource {
  val schema: StructType = StructType(Seq(
    StructField("page", IntegerType, nullable = false),
    StructField("html", StringType, nullable = false)))
}

private[v2] class PageTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = "paginated_pages"
  override def schema(): StructType = PaginatedPageSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = PaginatedPageSource.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new PageMicroBatchStream(options)
    }
}

private[v2] case class PageOffset(page: Long) extends Offset {
  override def json(): String = page.toString
}

private[v2] class PageMicroBatchStream(options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private val pagesDir = options.get("pagesDir")
  private val urlTemplate = options.get("urlTemplate")
  require((pagesDir != null) != (urlTemplate != null),
    "paginated-pages requires exactly one of pagesDir (fixture mode) or " +
      "urlTemplate (HTTP mode, one %d page slot)")
  // Without a page slot String.format silently ignores the page argument
  // and every offset would re-fetch the identical URL (up to maxPages
  // duplicate requests) — fail at option-parse time instead.
  require(urlTemplate == null || urlTemplate.contains("%d"),
    s"urlTemplate must contain a %d page slot: $urlTemplate")
  private def opt(key: String): Option[String] = Option(options.get(key))
  /** The page provider: fixture files or the reference's HTTP
    * retry/backoff/throttle policy — the offset-planning early-stop is
    * identical either way, so pages past the cutoff are never read from
    * disk NOR requested over the network.
    */
  private val fetcher: PageFetcher =
    if (pagesDir != null) new DirFetcher(pagesDir)
    else new HttpFetcher(
      urlForPage = page => urlTemplate.format(page),
      headers = opt("userAgent").map(ua => Map("User-Agent" -> ua)).getOrElse(Map.empty),
      maxRetries = opt("maxRetries").map(_.toInt).getOrElse(3),
      backoffFactor = opt("backoffFactor").map(_.toDouble).getOrElse(1.0),
      timeoutSeconds = opt("timeoutSeconds").map(_.toInt).getOrElse(10),
      minDelaySeconds = opt("minDelaySeconds").map(_.toDouble).getOrElse(1.0),
      maxDelaySeconds = opt("maxDelaySeconds").map(_.toDouble).getOrElse(3.0))
  private val site: SiteSpec = options.get("site") match {
    case "phocuswire" => Sites.phocuswire
    case _ => Sites.skift
  }
  private val wm: Timestamp = {
    val raw = options.get("watermark")
    require(raw != null,
      "paginated-pages requires option watermark ('yyyy-MM-dd HH:mm:ss')")
    Timestamp.valueOf(raw)
  }
  private val maxPages: Int =
    Option(options.get("maxPages")).map(_.toInt).getOrElse(1000)

  private val fetched = mutable.Map.empty[Int, String]
  private var stopped = false
  private var probedUpTo = 0
  private var availableNowTarget: Option[Long] = None

  /** O1 — probe forward until a stop condition; never look past it. */
  private def advance(): Unit = if (!stopped) {
    val (pages, stop) =
      PaginatedSource.scan(fetcher, site, wm, probedUpTo + 1, maxPages)
    pages.foreach { html => probedUpTo += 1; fetched(probedUpTo) = html }
    stopped = stop
  }

  override def initialOffset(): Offset = PageOffset(0L)

  override def latestOffset(): Offset = availableNowTarget match {
    case Some(t) => PageOffset(t)
    case None => advance(); PageOffset(probedUpTo.toLong)
  }

  /** Admission-control variant (SupportsTriggerAvailableNow extends
    * SupportsAdmissionControl); page probing is already bounded by the
    * early-stop, so the read limit needs no further clamping.
    */
  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset =
    latestOffset()

  override def prepareForTriggerAvailableNow(): Unit = {
    advance()
    availableNowTarget = Some(probedUpTo.toLong)
  }

  override def deserializeOffset(json: String): Offset = PageOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[PageOffset].page
    val e = end.asInstanceOf[PageOffset].page
    ((s + 1) to e).map { p =>
      // A page inside a committed offset range MUST exist: after a
      // checkpoint restart it re-reads from the fixture dir (or re-fetches
      // over HTTP, like the reference's re-scrape), and a missing page
      // means fixture corruption or a checkpoint/source mismatch —
      // substituting empty html would silently extract zero articles.
      val html = fetched.getOrElse(p.toInt, fetcher.fetch(p.toInt).getOrElse(
        throw new IllegalStateException(
          s"committed page $p missing from " +
            (if (pagesDir != null) pagesDir else urlTemplate))))
      PagePartition(p.toInt, html): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    PagePartitionReaderFactory
}

private[v2] case class PagePartition(page: Int, html: String) extends InputPartition

private[v2] object PagePartitionReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val p = partition.asInstanceOf[PagePartition]
      private var consumed = false
      override def next(): Boolean = if (consumed) false else { consumed = true; true }
      override def get(): InternalRow =
        InternalRow(p.page, UTF8String.fromString(p.html))
      override def close(): Unit = ()
    }
}
