package perfbench

import java.io.File
import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, hash, lit, pmod, sum, xxhash64}

import graft.extract.{SiteSpec, Sites}
import graft.model.ArticleSchema
import graft.query.{CorpusPipeline, Pipeline}
import graft.sink.{ArticleStore, SignatureIndex}
import graft.source.{PageFetcher, PaginatedSource}

/** The benchmark's workloads. Each is a closed loop: one client starts a
  * daily run when the previous one has returned, then issues its reads one
  * at a time, each waiting for its reply.
  */
object Workloads {

  val byName: Map[String, Ctx => Unit] = Map(
    "ingest_daily" -> Ingest.daily,
    "ingest_backfill" -> Ingest.backfill,
    "corpus_daily" -> Corpus.daily)

  /** Set-ups repeated per invocation; `setup_s` takes their median. */
  val SetupRepeats = 3
}

/** The benchmark's page fetcher: the listing generator, timed, with a
  * count of pages that hold an article at or after the watermark.
  */
final class GenFetcher(gen: Listings, site: Site, viewDay: Long,
                       wm: Option[LocalDateTime]) extends PageFetcher {
  var pages = 0
  var useful = 0
  var bytes = 0L
  var nanos = 0L

  override def fetch(page: Int): Option[String] = {
    val t0 = System.nanoTime()
    val arts = gen.pageArticles(site, viewDay, page)
    val html = gen.render(site, viewDay, page, arts)
    bytes += html.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    nanos += System.nanoTime() - t0
    pages += 1
    if (wm.exists(w => arts.exists(a => !a.time.isBefore(w)))) useful += 1
    Some(html)
  }
}

object Ingest {
  import Workloads._

  /** Articles per site per day; listing pages hold 12 (Skift) or 10. */
  val PerDay = 125
  /** `ingest_daily` history: 250 days of both sites, about 125 times the
    * rows one daily run merges (the new day plus the overlap day).
    */
  val HistoryDays = 250
  val ReadsPerDay = 10
  /** `ingest_backfill` depth: days from the cold-start watermark on. */
  val BackfillDays = 40
  val ReadsPerBackfill = 25

  /** The library's cold-start watermark day. */
  val ColdStart: Long = LocalDate.parse(
    ArticleSchema.DefaultWatermark.take(10)).toEpochDay

  def spec(site: Site): SiteSpec = site match {
    case Site.Skift => Sites.skift
    case Site.Phocus => Sites.phocuswire
  }

  /** Titled articles of days [from, to] as the store must hold them once a
    * listing viewed on `viewDay` has been ingested; generated on executors.
    */
  def articleRows(spark: SparkSession, gen: Listings, from: Long, to: Long,
                  viewDay: Long): DataFrame = {
    val perDay = gen.perDay
    val n = (to - from + 1) * perDay * 2
    val rdd = spark.sparkContext.range(0L, n, 1,
      spark.sparkContext.defaultParallelism * 2).flatMap { i =>
      val k = i / 2
      val a = gen.article(Site.all((i % 2).toInt), from + k / perDay, (k % perDay).toInt)
      a.title(viewDay).map(t => Row(a.id, a.link, t, a.author.orNull,
        Timestamp.valueOf(a.time), a.site.sourceName))
    }
    spark.createDataFrame(rdd, ArticleSchema.sourceSchema)
  }

  /** The generator's newest five (id, title) as of a listing viewed on day `t`. */
  def expectedTop(gen: Listings, t: Long): Seq[(String, String)] =
    Site.all.flatMap(s => (0 until gen.perDay).map(gen.article(s, t, _)))
      .filter(_.hasTitle)
      .sortBy(a => (-a.time.toEpochSecond(java.time.ZoneOffset.UTC), a.id))
      .take(5).map(a => (a.id, a.title(t).get))

  /** Rows a run merges: titled articles of days [from, to]. */
  def titled(gen: Listings, from: Long, to: Long): Long =
    (from to to).map(d => Site.all.map(s =>
      (0 until gen.perDay).count(gen.article(s, d, _).hasTitle)).sum.toLong).sum

  def topOf(rows: Array[Row]): Seq[(String, String)] =
    rows.toSeq.map(r => (r.getAs[String](ArticleSchema.ArticleId),
      r.getAs[String](ArticleSchema.NewsTitle)))

  def sources(spark: SparkSession, gen: Listings, viewDay: Long): Seq[PaginatedSource] =
    Site.all.map(s => new PaginatedSource(spark, new GenFetcher(gen, s, viewDay, None), spec(s)))

  /** A burst of `n` top-N reads, each checked against the generator. */
  def reads(ctx: Ctx, store: ArticleStore, n: Int, want: Seq[(String, String)],
            tracer: Option[Tracer]): Unit =
    (1 to n).foreach { _ =>
      val t0 = System.nanoTime()
      val got = ctx.ops("store.topN read") {
        tracer.fold(store.topN(5).collect())(_.span("store.topN")(store.topN(5).collect()))
      }
      val ms = (System.nanoTime() - t0) / 1e6
      if (tracer.isEmpty) ctx.readMs += ms
      else { ctx.layers.add("store.topn_s", ms / 1e3); ctx.layers.add("store.topn_calls", 1) }
      got.foreach(g => ctx.ops.check("topN equals the generator's newest five")(topOf(g) == want))
    }

  /** One scrape run, untraced (`Pipeline.runScrape`) or traced (the same
    * steps called one by one, each in its own span). Returns the top five.
    */
  def run(ctx: Ctx, store: ArticleStore, base: File, gen: Listings,
          viewDay: Long, trace: Option[(Tracer, SparkProbe)]): Option[Array[Row]] =
    trace match {
      case None =>
        ctx.ops("daily run") {
          Pipeline.runScrape(ctx.spark, store, sources(ctx.spark, gen, viewDay), 5).collect()
        }
      case Some((tracer, probe)) =>
        probe.attach()
        try ctx.ops("daily run (traced)")(traced(ctx, store, base, gen, viewDay, tracer, probe))
        finally { probe.detach(); probe.clearRecords() }
    }

  /** What a traced run saw besides its spans. */
  final case class Steps(top: Array[Row], fetchers: Seq[GenFetcher],
                         extracted: Long, kept: Long)

  /** The steps of `Pipeline.runScrape`, called one by one inside spans;
    * the extraction is materialized once so that it has a span of its own.
    */
  def steps(spark: SparkSession, store: ArticleStore, gen: Listings,
            viewDay: Long, tracer: Tracer): Steps = tracer.span("run") {
    tracer.span("store.create")(store.create())
    val (wm, _) = tracer.span("store.watermark")(store.watermark())
    val fetchers = Site.all.map(s => new GenFetcher(gen, s, viewDay, Some(wm.toLocalDateTime)))
    val loads = Site.all.zip(fetchers).map { case (s, f) =>
      tracer.span("source.load")(new PaginatedSource(spark, f, spec(s)).load(wm))
    }
    val (batch, extracted, kept) = tracer.span("extract") {
      val all = Pipeline.unionSources(loads).localCheckpoint(true)
      val b = Pipeline.watermarkFilter(all, wm)
      (b, all.count(), b.count())
    }
    tracer.span("store.merge")(store.merge(batch))
    Steps(tracer.span("store.topN")(store.topN(5).collect()), fetchers, extracted, kept)
  }

  private def traced(ctx: Ctx, store: ArticleStore, base: File, gen: Listings,
                     viewDay: Long, tracer: Tracer, probe: SparkProbe): Array[Row] = {
    val spark = ctx.spark
    val v0 = StoreLayout.version(base)
    val Steps(top, fetchers, extracted, kept) = steps(spark, store, gen, viewDay, tracer)
    val spans = tracer.spans.filter(_.run == tracer.run)
    def secs(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    def cpu(name: String) = spans.filter(_.name == name).map(_.work.taskCpuNs / 1e9).sum
    val l = ctx.layers
    val runSpan = spans.find(_.name == "run").get
    l.runs += 1
    ctx.tracedRunS += runSpan.seconds
    ctx.addSparkRun(runSpan, probe.driverOnlyMs(runSpan.startMs, runSpan.endMs) / 1e3)
    l.add("source.pages", fetchers.map(_.pages).sum)
    l.add("source.useful_pages", fetchers.map(_.useful).sum)
    l.add("source.fetch_s", fetchers.map(_.nanos).sum / 1e9)
    l.add("source.load_s", secs("source.load"))
    l.add("extract.html_mb", fetchers.map(_.bytes).sum / 1e6)
    l.add("extract.s", secs("extract"))
    l.add("extract.task_cpu_s", cpu("extract"))
    l.add("extract.articles", extracted)
    l.add("extract.kept", kept)
    l.add("store.watermark_s", secs("store.watermark"))
    l.add("store.merge_s", secs("store.merge"))
    l.add("store.merge_task_cpu_s", cpu("store.merge"))
    l.add("store.merge_rows_in", kept)
    l.add("store.topn_s", secs("store.topN"))
    l.add("store.topn_calls", 1)
    val v1 = StoreLayout.version(base)
    if (v1 != v0) {
      val data = new File(base, s"v$v1/data")
      l.add("store.buckets_rewritten", StoreLayout.manifest(base, v1).count(_ == v1))
      l.add("store.rewritten_rows", spark.read.parquet(data.getPath).count())
      l.add("store.rewritten_mb", Files.dataFiles(data).map(_.length).sum / 1e6)
    }
    l.last("store.files", StoreLayout.liveFiles(base))
    top
  }

  /** Final store check: every titled article of days [from, to] with its
    * title as of `to`, nothing else, and the watermark at day `to`.
    */
  def checkStore(ctx: Ctx, store: ArticleStore, gen: Listings, from: Long, to: Long): Unit = {
    val cols = ArticleSchema.sourceSchema.fieldNames.toSeq.map(col)
    // row count and two independent order-free row digests, one scan a side
    def digest(df: DataFrame): Seq[Long] = df.agg(count(lit(1)),
      sum(hash(cols: _*).cast("long")), sum(pmod(xxhash64(cols: _*), lit(1000000007L))))
      .head().toSeq.map(_.asInstanceOf[Long])
    val want = digest(articleRows(ctx.spark, gen, from, to, to))
    val got = digest(store.read())
    ctx.ops.check("store row count matches the generator")(got.head == want.head)
    ctx.ops.check("store rows equal the generator's latest rows")(got == want)
    ctx.ops.check("store watermark is the last ingested day") {
      store.watermark()._1 == Timestamp.valueOf(LocalDate.ofEpochDay(to).atStartOfDay())
    }
  }

  /** Consecutive daily scrape runs against a store pre-filled with history. */
  def daily(ctx: Ctx): Unit = {
    val first = LocalDate.parse("2024-01-01").toEpochDay
    val t0 = first + HistoryDays // the untimed warm-up day
    val gen = Listings(ctx.args.seed, PerDay, first)
    val (base, store) = ctx.setups(SetupRepeats) { k =>
      val base = ctx.dir(s"daily-store-$k")
      val store = new ArticleStore(ctx.spark, base.getPath)
      store.merge(articleRows(ctx.spark, gen, first, t0 - 1, t0 - 1))
      (base, store)
    }(b => Files.delete(b._1))
    ctx.warmup {
      run(ctx, store, base, gen, t0, None).foreach { top =>
        ctx.ops.check("warm-up topN")(topOf(top) == expectedTop(gen, t0))
      }
    }
    val probe = new SparkProbe(ctx.spark.sparkContext)
    val tracer = new Tracer(probe)
    var last = t0
    ctx.window(minRuns = 3) { (i, isTraced) =>
      val day = t0 + 1 + i
      val want = expectedTop(gen, day)
      val merged = titled(gen, day - 1, day)
      tracer.run = i
      val trace = if (isTraced) Some((tracer, probe)) else None
      ctx.timed {
        ctx.untracedRun(isTraced)(run(ctx, store, base, gen, day, trace)).foreach { top =>
          ctx.ops.check("run's topN equals the generator's newest five")(topOf(top) == want)
        }
        reads(ctx, store, ReadsPerDay, want, trace.map(_._1))
      }
      last = day
      merged
    }
    ctx.spans = tracer.spans
    checkStore(ctx, store, gen, first, last)
    ctx.stateMb = Files.sizeMb(base)
  }

  /** Cold starts into an empty store, each one deep scan of both feeds. */
  def backfill(ctx: Ctx): Unit = {
    val gen = Listings(ctx.args.seed, PerDay, ColdStart - 3)
    val today = ColdStart + BackfillDays - 1
    val (want, merged) = ctx.setups(SetupRepeats) { _ =>
      (expectedTop(gen, today), titled(gen, ColdStart, today))
    }(_ => ())
    ctx.warmup {
      val base = ctx.dir("backfill-warmup")
      run(ctx, new ArticleStore(ctx.spark, base.getPath), base, gen, ColdStart + 1, None)
        .foreach(top => ctx.ops.check("warm-up topN")(topOf(top) == expectedTop(gen, ColdStart + 1)))
      Files.delete(base)
    }
    val probe = new SparkProbe(ctx.spark.sparkContext)
    val tracer = new Tracer(probe)
    var base: File = null
    var store: ArticleStore = null
    ctx.window(minRuns = 3) { (i, isTraced) =>
      base = ctx.dir("backfill-store")
      store = new ArticleStore(ctx.spark, base.getPath)
      tracer.run = i
      val trace = if (isTraced) Some((tracer, probe)) else None
      ctx.timed {
        ctx.untracedRun(isTraced)(run(ctx, store, base, gen, today, trace)).foreach { top =>
          ctx.ops.check("run's topN equals the generator's newest five")(topOf(top) == want)
        }
        reads(ctx, store, ReadsPerBackfill, want, trace.map(_._1))
      }
      merged
    }
    ctx.spans = tracer.spans
    checkStore(ctx, store, gen, ColdStart, today)
    ctx.stateMb = Files.sizeMb(base)
  }
}

/** Reads [[ArticleStore]]'s documented on-disk layout from outside:
  * `_CURRENT` holds the version, `vN/manifest` the bucket -> version map.
  */
object StoreLayout {
  def version(base: File): Long = {
    val f = new File(base, "_CURRENT")
    if (f.isFile) Files.read(f).trim.toLong else -1L
  }

  def manifest(base: File, v: Long): Array[Long] =
    Files.read(new File(base, s"v$v/manifest")).trim.split("\n")(1).split(",").map(_.toLong)

  /** Data files the current snapshot reads. */
  def liveFiles(base: File): Int = {
    val v = version(base)
    if (v < 0) 0
    else manifest(base, v).zipWithIndex.map { case (ver, b) =>
      Files.dataFiles(new File(base, s"v$ver/data/${ArticleStore.BucketCol}=$b")).size
    }.sum
  }
}

object Corpus {
  import Workloads._

  /** History docs bootstrapped into the index; docs per daily batch. */
  val HistoryDocs = 1000
  val PerDay = 200
  val ReadsPerDay = 12
  /** One band row per LSH band per indexed doc (4 bands of 3 rows). */
  val BandsPerDoc = 4

  def docsDf(spark: SparkSession, docs: Seq[GenDoc]): DataFrame =
    spark.createDataFrame(docs.map(d => (d.id, d.text))).toDF("doc_id", "text")

  def historyDf(spark: SparkSession, gen: Docs): DataFrame = {
    val rdd = spark.sparkContext.range(1L, gen.historyDocs + 1L, 1,
      spark.sparkContext.defaultParallelism * 2).map(id => (id, gen.freshText(id)))
    spark.createDataFrame(rdd).toDF("doc_id", "text")
  }

  def planted(batch: Seq[GenDoc]): Seq[Long] = {
    def n(k: GenDoc.Kind) = batch.count(_.kind == k).toLong
    Seq(batch.size.toLong, n(GenDoc.Repetitive),
      n(GenDoc.ExactClone) + n(GenDoc.NormClone), n(GenDoc.Fresh))
  }

  def reportOf(run: CorpusPipeline.DailyRun): Seq[Long] =
    run.report.collect().head.toSeq.map(_.asInstanceOf[Long])

  /** Which step of `runDaily` started a SQL execution: the innermost
    * `graft.*` frame that is either `SignatureIndex.append` or a line of
    * `CorpusPipeline.runDaily` the source maps to a step.
    */
  def step(frames: Seq[Frame], lines: Map[Int, String]): String =
    frames.iterator.map { f =>
      if (f.file == "SignatureIndex.scala" && f.method == "append") Some("index.append")
      else if (f.file == "CorpusPipeline.scala" && f.method == "runDaily") lines.get(f.line)
      else None
    }.collectFirst { case Some(s) => s }.getOrElse("corpus.other")

  /** Line -> step for `runDaily`, read from the library's own source: each
    * line belongs to the `val` whose definition it is part of, and the
    * vals map to steps by what they hold. Lines the table misses are
    * charged to `corpus.other_s`, never dropped.
    */
  def stepLines(root: File): Map[Int, String] = {
    val f = new File(root, "src/main/scala/graft/query/CorpusPipeline.scala")
    if (!f.isFile) return Map.empty
    val byVal = Map(
      "norm" -> "corpus.gate", "toks" -> "corpus.gate", "gateOk" -> "corpus.gate",
      "gated" -> "corpus.gate",
      "gatedSh" -> "corpus.pairs", "gatedBands" -> "corpus.pairs", "pairs" -> "corpus.pairs",
      "batchIds" -> "corpus.select", "dropHist" -> "corpus.select",
      "nnEdges" -> "corpus.select", "sym" -> "corpus.select", "dropNew" -> "corpus.select",
      "dropped" -> "corpus.select", "kept" -> "corpus.select", "keptIds" -> "corpus.select",
      "nIn" -> "corpus.report", "nGated" -> "corpus.report", "nKept" -> "corpus.report",
      "report" -> "corpus.report")
    val ValDef = """\s*val\s+\(?(\w+).*""".r
    val Method = """\s*def\s+(\w+).*""".r
    var method = ""
    var current = ""
    Files.read(f).split("\n").zipWithIndex.flatMap { case (line, i) =>
      line match {
        case Method(m) => method = m; current = ""
        case ValDef(v) if method == "runDaily" => current = v
        case _ =>
      }
      if (method == "runDaily") byVal.get(current).map(i + 1 -> _) else None
    }.toMap
  }

  def daily(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val gen = Docs(ctx.args.seed, HistoryDocs, PerDay)
    val history = historyDf(spark, gen)
    val day0 = gen.day(0, Vector.empty)
    var builds = 0
    def bootstrap(): (File, SignatureIndex) = {
      builds += 1
      val base = ctx.dir(s"corpus-index-$builds")
      val idx = new SignatureIndex(spark, base.getPath)
      CorpusPipeline.bootstrap(idx, history)
      (base, idx)
    }
    // The warm-up day runs on the first build; the later builds then give
    // the JIT time to finish compiling it before the window starts on the
    // last build, at day 0.
    val (warmBase, warmIdx) = ctx.setups(1)(_ => bootstrap())(_ => ())
    ctx.warmup {
      val rep = reportOf(CorpusPipeline.runDaily(warmIdx, docsDf(spark, day0)))
      ctx.ops.check("warm-up report equals the planted counts")(rep == planted(day0))
    }
    Files.delete(warmBase)
    val (base, idx) = ctx.setups(SetupRepeats - 1)(_ => bootstrap())(b => Files.delete(b._1))
    var kept = Vector.empty[Long]
    val lines = stepLines(ctx.args.root)
    val probe = new SparkProbe(spark.sparkContext)
    val tracer = new Tracer(probe)
    ctx.window(minRuns = 2) { (d, isTraced) =>
      val i = d
      val batch = gen.day(d, kept)
      val df = docsDf(spark, batch)
      val want = planted(batch)
      val r = Gen.rng(ctx.args.seed, 6, d)
      val probes = Seq.fill(ReadsPerDay)(batch(r.nextInt(batch.size)))
      tracer.run = i
      val before = if (isTraced) Some((idx.bands.count(), idx.shingles.count())) else None
      if (isTraced) probe.attach()
      ctx.timed {
        val rep = ctx.untracedRun(isTraced) {
          ctx.ops(if (isTraced) "daily run (traced)" else "daily run") {
            if (isTraced) reportOf(tracer.span("corpus.runDaily")(CorpusPipeline.runDaily(idx, df)))
            else reportOf(CorpusPipeline.runDaily(idx, df))
          }
        }
        rep.foreach(x => ctx.ops.check(s"day $d report equals the planted counts")(x == want))
        if (isTraced) {
          val s = tracer.spans.filter(_.run == i).find(_.name == "corpus.runDaily").get
          attribute(ctx, s, probe, lines, rep)
        }
        probes.foreach { doc =>
          val t1 = System.nanoTime()
          val n = ctx.ops("index lookup") {
            if (isTraced) tracer.span("index.lookup")(lookup(idx, doc.id))
            else lookup(idx, doc.id)
          }
          if (!isTraced) ctx.readMs += (System.nanoTime() - t1) / 1e6
          n.foreach { got =>
            val want = if (doc.kind == GenDoc.Fresh) 1 else 0
            ctx.ops.check(s"doc ${doc.id} has $want shingle rows")(got == want)
          }
        }
      }
      before.foreach { case (b0, s0) =>
        probe.detach(); probe.clearRecords()
        ctx.layers.add("index.band_rows", idx.bands.count() - b0)
        ctx.layers.add("index.shingle_rows", idx.shingles.count() - s0)
        ctx.layers.last("index.files", Files.dataFiles(base).size)
        ctx.layers.last("index.mb", Files.sizeMb(base))
      }
      kept ++= batch.filter(_.kind == GenDoc.Fresh).map(_.id)
      batch.size.toLong
    }
    ctx.spans = tracer.spans
    ctx.ops.check("index holds exactly the history and every kept doc") {
      idx.shingles.count() == HistoryDocs + kept.size &&
        idx.bands.count() == BandsPerDoc.toLong * (HistoryDocs + kept.size)
    }
    ctx.stateMb = Files.sizeMb(base)
  }

  def lookup(idx: SignatureIndex, id: Long): Long =
    idx.shingles.filter(col("doc_id") === id).count()

  /** Charge each SQL execution of a traced `runDaily` to its step. */
  private def attribute(ctx: Ctx, run: Span, probe: SparkProbe,
                        lines: Map[Int, String], rep: Option[Seq[Long]]): Unit = {
    val l = ctx.layers
    l.runs += 1
    ctx.tracedRunS += run.seconds
    ctx.addSparkRun(run, probe.driverOnlyMs(run.startMs, run.endMs) / 1e3)
    var mapped = 0.0
    probe.executions(run.startMs, run.endMs).foreach { case (x, w) =>
      val s = step(x.frames, lines)
      val secs = math.max(0L, x.endMs - x.startMs) / 1e3
      if (s != "corpus.other") {
        l.add(s + "_s", secs)
        mapped += secs
      }
      if (s == "index.append") l.add("index.append_task_cpu_s", w.taskCpuNs / 1e9)
    }
    l.add("corpus.run_s", run.seconds)
    l.add("corpus.other_s", run.seconds - mapped)
    rep.foreach { case Seq(nIn, nGated, nDup, nKept) =>
      l.add("corpus.in", nIn)
      l.add("corpus.kept", nKept)
      l.add("corpus.dup_dropped", nDup)
      l.add("corpus.gated_out", nGated)
    case _ =>
    }
  }
}
