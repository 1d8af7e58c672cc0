package graft

import graft.queries.Relational
import graft.streaming.StreamingMonitors

/** r19 graduations: the remaining streaming-monitor replay faces — the
  * anomaly monitor plus the drift/trend trio. Round18OpsSpec pins the
  * replay/memo mechanics; this spec pins each new face's graded ENTRY
  * contract (output equals the batch query exactly) and that the trend
  * trio shares ONE drained daily-cell state (three queries, one drain).
  */
class Round19OpsSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("anomalous_days_stream equals the graded batch query after replay") {
    rows(StreamingMonitors.anomalousDaysStream(spark, sf)) shouldBe
      rows(Relational.anomalousDays(spark, sf))
  }

  test("cusum_days_stream equals the graded batch query after replay") {
    rows(StreamingMonitors.cusumDaysStream(spark, sf)) shouldBe
      rows(Relational.cusumDays(spark, sf))
  }

  test("theil_sen_stream equals the graded batch query after replay") {
    rows(StreamingMonitors.theilSenStream(spark, sf)) shouldBe
      rows(Relational.theilSen(spark, sf))
  }

  test("mann_kendall_stream equals the graded batch query after replay") {
    rows(StreamingMonitors.mannKendallStream(spark, sf)) shouldBe
      rows(Relational.mannKendall(spark, sf))
  }

  test("the trend trio shares one drained daily-cell state") {
    rows(StreamingMonitors.cusumDaysStream(spark, sf)) // ensure drained
    val drains = StreamingMonitors.drainCount.get()
    StreamingMonitors.theilSenStream(spark, sf).collect()
    StreamingMonitors.mannKendallStream(spark, sf).collect()
    StreamingMonitors.drainCount.get() shouldBe drains
  }

  // -- r20 candidates: the sketch monitors' replay faces equal their
  // batch siblings minus the exact-side fidelity columns (which need
  // raw rows by definition — the graded form will carry subset oracles)

  test("hll_distinct replay face equals the batch sketch half") {
    rows(StreamingMonitors.hllDistinctStream(spark, sf)) shouldBe
      rows(graft.queries.RefOps.hllDistinct(spark, sf).drop("n_exact"))
  }

  test("hll_sliding_7d replay face equals the batch serving half") {
    rows(StreamingMonitors.hllSliding7dStream(spark, sf)) shouldBe
      rows(graft.queries.RefOps.hllSliding(spark, sf).drop("n_exact"))
  }

  test("quantile_sketch replay face equals the batch estimate half") {
    rows(StreamingMonitors.quantileSketchStream(spark, sf)) shouldBe
      rows(graft.queries.RefOps.quantileSketch(spark, sf)
        .drop("exact_v", "err_ppm"))
  }

  test("weighted quantile replay face equals the batch estimate half") {
    rows(StreamingMonitors.weightedQuantileStream(spark, sf)) shouldBe
      rows(graft.queries.RefOps.weightedQuantileSketch(spark, sf)
        .drop("exact_v", "err_ppm"))
  }

  test("r20 graduated faces: wired, memoized, subset columns match schema") {
    // each face's subset oracle nests its batch sibling's SQL verbatim
    val batchOf = Map("hll_distinct_stream" -> "hll_distinct",
      "hll_sliding_7d_stream" -> "hll_sliding_7d",
      "quantile_sketch_stream" -> "quantile_sketch",
      "weighted_quantile_stream" -> "weighted_quantile_sketch")
    val faces = SparkEntry.registry.filter(q => batchOf.contains(q.name))
    faces.map(_.name).toSet shouldBe batchOf.keySet
    faces.foreach { case QuerySpec(name, fn, sql, fixture) =>
      withClue(s"$name graded wiring: ") {
        fixture shouldBe true
        sql should include(SparkEntry.oracleSql(batchOf(name)))
      }
      val df = fn(spark, sf)
      withClue(s"$name: ") { df.count() should be > 0L }
      // the subset oracle's projection must name exactly the face's
      // columns (the driver compare sorts by name — a drift here is the
      // exact mismatch class the graduation would hit). Parse up to the
      // FROM keyword, not the first 'F' (r19 ADVICE): these projections
      // are plain identifier lists by construction, so the comma split
      // is safe once the FROM boundary is found correctly.
      val fromIdx = sql.indexOf(" FROM ")
      withClue(s"$name subset oracle has no FROM clause: ") {
        fromIdx should be > 0
      }
      val projected = sql.substring("SELECT ".length, fromIdx)
        .split(",").map(_.trim.toLowerCase).filter(_.nonEmpty).toSet
      withClue(s"$name subset projection vs face schema: ") {
        projected shouldBe df.columns.map(_.toLowerCase).toSet
      }
    }
  }
}
