package perfbench

import java.io.File
import java.security.MessageDigest

import graft.model.ArticleSchema
import graft.query.Pipeline
import graft.sink.ArticleStore

/** Tests of the benchmark itself: `python3 perfbench/run.py --self-test`.
  * Exit code = number of failed tests.
  */
object SelfTest {

  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def expect(cond: Boolean, what: => String): Unit =
    if (!cond) throw new AssertionError(what)

  /** Digest of every input a seed generates at test size, visiting pages
    * in the order given.
    */
  def inputDigest(seed: Long, pageOrder: Seq[Int]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = md.update(s.getBytes("UTF-8"))
    val gen = Listings(seed, 40, 20000L)
    val pages = for (site <- Site.all; p <- pageOrder) yield (site.ordinal, p) -> gen.page(site, 20010L, p)
    pages.sortBy(_._1).foreach { case (k, html) => add(s"$k:$html") }
    val docs = Docs(seed, 200, 60)
    (1L to 200L).foreach(id => add(docs.history(id).text))
    val day0 = docs.day(0, Vector.empty)
    day0.foreach(d => add(s"${d.id}:${d.kind}:${d.text}"))
    docs.day(1, day0.filter(_.kind == GenDoc.Fresh).map(_.id).toVector)
      .foreach(d => add(s"${d.id}:${d.kind}:${d.text}"))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def main(argv: Array[String]): Unit = {
    val root = new File(argv(argv.indexOf("--root") + 1))

    test("generator: same seed gives byte-identical inputs, in any page order") {
      for (seed <- Seq(7L, 8L)) {
        val a = inputDigest(seed, 1 to 12)
        expect(a == inputDigest(seed, 1 to 12), s"seed $seed: two runs differ")
        expect(a == inputDigest(seed, (1 to 12).reverse), s"seed $seed: page order matters")
      }
      expect(inputDigest(7L, 1 to 12) != inputDigest(8L, 1 to 12), "seeds 7 and 8 agree")
    }

    test("generator: planted shares and page shapes") {
      val docs = Docs(3L, 100, 2000)
      val day = docs.day(0, Vector.empty)
      def share(k: GenDoc.Kind) = day.count(_.kind == k).toDouble / day.size
      expect(math.abs(share(GenDoc.ExactClone) - 0.12) < 0.03, s"exact clones ${share(GenDoc.ExactClone)}")
      expect(math.abs(share(GenDoc.NormClone) - 0.08) < 0.03, s"norm clones ${share(GenDoc.NormClone)}")
      expect(math.abs(share(GenDoc.Repetitive) - 0.10) < 0.03, s"repetitive ${share(GenDoc.Repetitive)}")
      val gen = Listings(3L, 500, 20000L)
      val arts = (0 until 500).map(gen.article(Site.Skift, 20001L, _))
      expect(arts.zip(arts.tail).forall { case (a, b) => a.time.isAfter(b.time) }, "not newest first")
      val page = gen.page(Site.Phocus, 20001L, 1)
      expect(page.indexOf("partner-spotlight") < page.indexOf("article-list"), "no decoy before the list")
      expect(page.indexOf("events-summit") > page.lastIndexOf("<div class=\"item\"><a class=\"title\" href=\"/news"),
        "no decoy after the list")
    }

    test("span self time subtracts the union of child intervals") {
      def sp(id: Int, parent: Int, a: Long, b: Long) =
        Span(id, s"s$id", parent, 0, a, b, a, b, SparkWork())
      val spans = Seq(sp(0, -1, 0, 100), sp(1, 0, 10, 40), sp(2, 0, 30, 60),
        sp(3, 1, 15, 20), sp(4, 0, 90, 120))
      val self = Tracer.selfTimes(spans)
      // children of 0 cover [10, 60) and [90, 100) of its [0, 100)
      expect(self(0) == 40, s"root self ${self(0)}")
      expect(self(1) == 25, s"child self ${self(1)}")
      expect(self(2) == 30 && self(3) == 5 && self(4) == 30, s"leaf self $self")
      expect(Tracer.unionLength(Seq((5L, 10L), (0L, 3L), (8L, 12L))) == 10, "union length")
    }

    test("corpus steps: runDaily's actions map to gate, pairs, select and report") {
      val lines = Corpus.stepLines(root)
      val steps = lines.values.toSet
      expect(Set("corpus.gate", "corpus.pairs", "corpus.select", "corpus.report").subsetOf(steps),
        s"steps found: $steps")
      val src = Files.read(new File(root, "src/main/scala/graft/query/CorpusPipeline.scala")).split("\n")
      val checkpoints = src.indices.filter(i => src(i).contains("localCheckpoint(")).map(i => lines.get(i + 1))
      expect(checkpoints == Seq(Some("corpus.gate"), Some("corpus.pairs"), Some("corpus.select")),
        s"checkpoint lines map to $checkpoints")
    }

    test("traced step-by-step ingest leaves the store Pipeline.runScrape leaves") {
      val work = new File("selftest").getAbsoluteFile
      val spark = Main.session(work)
      try {
        val gen = Listings(5L, 30, 20000L)
        val stores = Seq("untraced", "traced").map { n =>
          val s = new ArticleStore(spark, new File(work, n).getPath)
          s.merge(Ingest.articleRows(spark, gen, 20000L, 20004L, 20004L))
          s
        }
        val tracer = new Tracer(new SparkProbe(spark.sparkContext))
        for (day <- Seq(20005L, 20006L)) {
          val a = Pipeline.runScrape(spark, stores(0), Ingest.sources(spark, gen, day), 5).collect()
          val b = Ingest.steps(spark, stores(1), gen, day, tracer).top
          expect(Ingest.topOf(a) == Ingest.topOf(b), s"day $day: topN differs")
          expect(Ingest.topOf(a) == Ingest.expectedTop(gen, day), s"day $day: topN is not the generator's")
        }
        val Seq(u, t) = stores.map(_.read().drop(ArticleSchema.ProcessedAt))
        expect(u.count() == t.count(), s"row counts ${u.count()} vs ${t.count()}")
        expect(u.exceptAll(t).isEmpty && t.exceptAll(u).isEmpty, "contents differ")
        expect(tracer.spans.map(_.name).distinct.sorted == Seq("extract", "run", "source.load",
          "store.create", "store.merge", "store.topN", "store.watermark"), s"spans ${tracer.spans.map(_.name)}")
      } finally spark.stop()
    }

    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    sys.exit(failures)
  }
}
