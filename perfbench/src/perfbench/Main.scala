package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one measured window.
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --root <checkout> --work <scratch dir> --out <trace dir>
  * }}}
  *
  * With `--trace 0` every daily run is untraced and the end-to-end metrics
  * are printed. With `--trace 1` untraced and traced runs alternate, the
  * per-layer metrics come from the traced ones, and `trace.overhead_s` is
  * the difference of the two medians. The last stdout line is the JSON
  * result; the exit code is 1 when any run, read or check failed.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, root: File, work: File, out: File)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("root")), new File(need("work")),
      new File(need("out")))
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = parse(argv)
    val workload = Workloads.byName.getOrElse(a.workload,
      sys.error(s"unknown workload ${a.workload}; known: ${Workloads.byName.keys.mkString(", ")}"))
    val spark = session(a.work)
    val ctx = new Ctx(spark, a, (System.nanoTime() - t0) / 1e9)
    val failed =
      try {
        workload(ctx)
        ctx.emit()
      } finally spark.stop()
    sys.exit(if (failed) 1 else 0)
  }

  def session(work: File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val local = new File(work, "spark-local")
    local.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Counts every operation (a daily run, a read, a correctness check) and
  * every failure; a failure's message goes to stderr.
  */
final class Ops {
  var attempted = 0L
  var failed = 0L

  def apply[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"FAILED $what: $e")
        e.printStackTrace()
        None
    }
  }

  def check(what: String)(ok: => Boolean): Unit =
    apply(what)(ok) match {
      case Some(false) =>
        failed += 1
        System.err.println(s"CHECK FAILED $what")
      case _ =>
    }
}

/** Per-layer sums over the traced runs of a window. */
final class LayerAcc {
  private val sums = mutable.LinkedHashMap.empty[String, Double]
  private val lasts = mutable.LinkedHashMap.empty[String, Double]
  var runs = 0

  def add(name: String, v: Double): Unit = sums(name) = sums.getOrElse(name, 0.0) + v
  def last(name: String, v: Double): Unit = lasts(name) = v
  def sum(name: String): Double = sums.getOrElse(name, 0.0)
  def perRun(name: String): Double = if (runs == 0) 0.0 else sum(name) / runs
  def lastOf(name: String): Double = lasts.getOrElse(name, 0.0)
}

/** What one invocation measures, and how it reports it. */
final class Ctx(val spark: SparkSession, val args: Main.Args, val sessionS: Double) {
  val ops = new Ops
  val setupS = mutable.ArrayBuffer.empty[Double]
  var warmupS = 0.0
  var windowS = 0.0
  val born: Long = System.nanoTime()
  val runS = mutable.ArrayBuffer.empty[Double]
  val tracedRunS = mutable.ArrayBuffer.empty[Double]
  val readMs = mutable.ArrayBuffer.empty[Double]
  val cpuS = mutable.ArrayBuffer.empty[Double]
  var items = 0L
  var timedS = 0.0
  var stateMb = 0.0
  val layers = new LayerAcc
  var spans: Seq[Span] = Nil
  private val bean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNow(): Double = bean.getProcessCpuTime / 1e9

  def dir(name: String): File = {
    val d = new File(args.work, name)
    Files.delete(d)
    d
  }

  /** Build the persisted state the window starts from `n` times over,
    * each into fresh directories, keeping the last build and discarding
    * the others. `setup_s` is the session start, plus the median build,
    * plus the one untimed warm-up run ([[warmup]]).
    */
  def setups[T](n: Int)(build: Int => T)(discard: T => Unit): T =
    (1 to n).foldLeft(Option.empty[T]) { (prev, k) =>
      val t0 = System.nanoTime()
      val built = build(k)
      setupS += (System.nanoTime() - t0) / 1e9
      prev.foreach(discard)
      Some(built)
    }.get

  def warmup[T](body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    warmupS = (System.nanoTime() - t0) / 1e9
    r
  }

  /** Run daily steps until the window has lasted `--seconds` (at least
    * `minRuns`). `step(i, traced)` does one closed-loop run plus its reads
    * and returns the items it processed; in trace mode odd runs are traced.
    */
  def window(minRuns: Int)(step: (Int, Boolean) => Long): Unit = {
    val start = System.nanoTime()
    val deadline = start + args.seconds * 1000000000L
    var i = 0
    while (i < minRuns || System.nanoTime() < deadline) {
      items += step(i, args.trace && i % 2 == 1)
      i += 1
    }
    windowS = (System.nanoTime() - start) / 1e9
  }

  /** Time one daily run into `run_p50_s` unless it is traced. */
  def untracedRun[T](traced: Boolean)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    if (!traced) runS += (System.nanoTime() - t0) / 1e9
    r
  }

  /** The measured part of one step: a run and its reads, without the
    * benchmark's own bookkeeping around them.
    */
  def timed(body: => Unit): Unit = {
    val c0 = cpuNow()
    val t0 = System.nanoTime()
    body
    timedS += (System.nanoTime() - t0) / 1e9
    cpuS += cpuNow() - c0
  }

  private def metric(name: String, v: Double, unit: String) = (name, v, unit)

  def endToEnd: Seq[(String, Double, String)] = Seq(
    metric("setup_s", sessionS + Stats.median(setupS.toSeq) + warmupS, "s"),
    metric("run_p50_s", Stats.median(runS.toSeq), "s"),
    metric("items_per_s", if (timedS > 0) items / timedS else 0.0, "1/s"),
    metric("read_p50_ms", Stats.percentile(readMs.toSeq, 50), "ms"),
    metric("read_p90_ms", Stats.percentile(readMs.toSeq, 90), "ms"),
    metric("cpu_s", Stats.median(cpuS.toSeq), "s"),
    metric("state_mb", stateMb, "MB"))

  def perLayer: Seq[(String, Double, String)] = {
    val l = layers
    def ratio(n: String, d: String) = if (l.sum(d) > 0) l.sum(n) / l.sum(d) else 0.0
    val wall = l.sum("spark.wall_s")
    Seq(
      metric("source.pages", l.perRun("source.pages"), "count"),
      metric("source.load_s", l.perRun("source.load_s"), "s"),
      metric("source.fetch_s", l.perRun("source.fetch_s"), "s"),
      metric("source.probe_s", l.perRun("source.load_s") - l.perRun("source.fetch_s"), "s"),
      metric("source.useful_page_ratio", ratio("source.useful_pages", "source.pages"), "ratio"),
      metric("extract.s", l.perRun("extract.s"), "s"),
      metric("extract.task_cpu_s", l.perRun("extract.task_cpu_s"), "s"),
      metric("extract.html_mb", l.perRun("extract.html_mb"), "MB"),
      metric("extract.articles", l.perRun("extract.articles"), "count"),
      metric("extract.kept_ratio", ratio("extract.kept", "extract.articles"), "ratio"),
      metric("store.watermark_s", l.perRun("store.watermark_s"), "s"),
      metric("store.merge_s", l.perRun("store.merge_s"), "s"),
      metric("store.merge_task_cpu_s", l.perRun("store.merge_task_cpu_s"), "s"),
      metric("store.merge_rows_in", l.perRun("store.merge_rows_in"), "count"),
      metric("store.buckets_rewritten", l.perRun("store.buckets_rewritten"), "count"),
      metric("store.rewrite_ratio", ratio("store.rewritten_rows", "store.merge_rows_in"), "ratio"),
      metric("store.rewritten_mb", l.perRun("store.rewritten_mb"), "MB"),
      metric("store.files", l.lastOf("store.files"), "count"),
      metric("store.topn_s", ratio("store.topn_s", "store.topn_calls"), "s"),
      metric("corpus.run_s", l.perRun("corpus.run_s"), "s"),
      metric("corpus.gate_s", l.perRun("corpus.gate_s"), "s"),
      metric("corpus.pairs_s", l.perRun("corpus.pairs_s"), "s"),
      metric("corpus.select_s", l.perRun("corpus.select_s"), "s"),
      metric("corpus.report_s", l.perRun("corpus.report_s"), "s"),
      metric("corpus.other_s", l.perRun("corpus.other_s"), "s"),
      metric("corpus.kept_ratio", ratio("corpus.kept", "corpus.in"), "ratio"),
      metric("corpus.dup_dropped", l.perRun("corpus.dup_dropped"), "count"),
      metric("corpus.gated_out", l.perRun("corpus.gated_out"), "count"),
      metric("index.append_s", l.perRun("index.append_s"), "s"),
      metric("index.append_task_cpu_s", l.perRun("index.append_task_cpu_s"), "s"),
      metric("index.band_rows", l.perRun("index.band_rows"), "count"),
      metric("index.shingle_rows", l.perRun("index.shingle_rows"), "count"),
      metric("index.files", l.lastOf("index.files"), "count"),
      metric("index.mb", l.lastOf("index.mb"), "MB"),
      metric("spark.task_cpu_s", l.perRun("spark.task_cpu_s"), "s"),
      metric("spark.task_run_s", l.perRun("spark.task_run_s"), "s"),
      metric("spark.gc_s", l.perRun("spark.gc_s"), "s"),
      metric("spark.shuffle_write_mb", l.perRun("spark.shuffle_write_mb"), "MB"),
      metric("spark.shuffle_fetch_wait_s", l.perRun("spark.shuffle_fetch_wait_s"), "s"),
      metric("spark.jobs", l.perRun("spark.jobs"), "count"),
      metric("spark.stages", l.perRun("spark.stages"), "count"),
      metric("spark.tasks", l.perRun("spark.tasks"), "count"),
      metric("spark.busy_cores", if (wall > 0) l.sum("spark.task_run_s") / wall else 0.0, "cores"),
      metric("spark.driver_only_s", l.perRun("spark.driver_only_s"), "s"),
      metric("trace.overhead_s",
        Stats.median(tracedRunS.toSeq) - Stats.median(runS.toSeq), "s"))
  }

  /** Spark counters of one traced run span, into the layer sums. */
  def addSparkRun(run: Span, driverOnlyS: Double): Unit = {
    val w = run.work
    layers.add("spark.wall_s", run.seconds)
    layers.add("spark.task_cpu_s", w.taskCpuNs / 1e9)
    layers.add("spark.task_run_s", w.taskRunMs / 1e3)
    layers.add("spark.gc_s", w.gcMs / 1e3)
    layers.add("spark.shuffle_write_mb", w.shuffleWriteBytes / 1e6)
    layers.add("spark.shuffle_fetch_wait_s", w.fetchWaitMs / 1e3)
    layers.add("spark.jobs", w.jobs)
    layers.add("spark.stages", w.stages)
    layers.add("spark.tasks", w.tasks)
    layers.add("spark.driver_only_s", driverOnlyS)
  }

  /** Print the metrics, write the spans, and say whether anything failed. */
  def emit(): Boolean = {
    val ms = if (args.trace) perLayer else endToEnd
    println(s"workload ${args.workload} seed ${args.seed} trace ${if (args.trace) 1 else 0}: " +
      s"${runS.size} untraced runs, ${tracedRunS.size} traced runs, ${readMs.size} reads, " +
      s"${setupS.size} set-ups")
    def list(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString(" ")
    println(s"  session start ${f"$sessionS%.3f"} s; set-ups (s): ${list(setupS.toSeq)}; " +
      f"warm-up run $warmupS%.3f s")
    println(s"  untraced runs (s): ${list(runS.toSeq)}")
    println(f"  window $windowS%.3f s; ${(System.nanoTime() - born) / 1e9}%.3f s since the session started")
    if (args.trace) println(s"  traced runs (s): ${list(tracedRunS.toSeq)}")
    ms.foreach { case (n, v, u) => println(f"  $n%-28s $v%14.6f $u") }
    val ratio = if (ops.attempted > 0) ops.failed.toDouble / ops.attempted else 1.0
    println(f"  ${"ops_failed_ratio"}%-28s $ratio%14.6f ratio (${ops.failed}/${ops.attempted})")
    if (args.trace) {
      args.out.mkdirs()
      val f = new File(args.out, s"spans-${args.workload}-seed${args.seed}.json")
      Files.write(f, Stats.spansJson(spans))
      println(s"  spans: ${spans.size} written to ${f.getPath}")
    }
    val body = ms.map { case (n, v, u) =>
      s""""$n": {"value": ${Stats.num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${ops.failed == 0}, "attempted": ${ops.attempted}, """ +
      s""""failed": ${ops.failed}, "metrics": {$body}}""")
    ops.failed > 0
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile; 0 for an empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * p / 100.0
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0.0" else v.toString

  def spansJson(spans: Seq[Span]): String = {
    val self = Tracer.selfTimes(spans)
    spans.map { s =>
      val w = s.work
      s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "run": ${s.run}, """ +
        s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "dur_s": ${num(s.seconds)}, """ +
        s""""self_s": ${num(self(s.id) / 1e9)}, "task_cpu_s": ${num(w.taskCpuNs / 1e9)}, """ +
        s""""task_run_s": ${num(w.taskRunMs / 1e3)}, "gc_s": ${num(w.gcMs / 1e3)}, """ +
        s""""shuffle_write_mb": ${num(w.shuffleWriteBytes / 1e6)}, """ +
        s""""fetch_wait_s": ${num(w.fetchWaitMs / 1e3)}, "jobs": ${w.jobs}, """ +
        s""""stages": ${w.stages}, "tasks": ${w.tasks}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Local-filesystem helpers for state sizes and scratch directories. */
object Files {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
    ()
  }

  def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    else if (f.isFile) Seq(f) else Nil

  def sizeMb(f: File): Double = walk(f).map(_.length).sum / 1e6

  def dataFiles(f: File): Seq[File] = walk(f).filter(_.getName.endsWith(".parquet"))

  def write(f: File, s: String): Unit =
    java.nio.file.Files.write(f.toPath, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def read(f: File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), java.nio.charset.StandardCharsets.UTF_8)
}
