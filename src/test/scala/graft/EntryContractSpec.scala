package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Entry-contract pins (no Spark session). `queries`, `oracleSql` and
  * `memoizedFixtureQueries` are views of ONE registry, so a query cannot
  * lack an oracle nor an oracle a query; what is left to pin is that the
  * registry refuses a name twice, that no oracle is blank, the fixture
  * flags, the count floor, and the committed artifacts' coverage.
  */
class EntryContractSpec extends AnyFunSuite with Matchers {

  test("the registry rejects a query name registered twice") {
    val q = SparkEntry.registry.head
    val e = intercept[IllegalArgumentException] {
      QuerySpec.registry(Seq(q, q.copy(oracleSql = "SELECT 1")))
    }
    e.getMessage should include(q.name)
  }

  test("every registered query carries non-blank oracle SQL") {
    val blank = SparkEntry.registry.filter(_.oracleSql.trim.isEmpty).map(_.name)
    withClue(s"queries without an oracle: ${blank.sorted.mkString(", ")} ") {
      blank shouldBe empty
    }
  }

  test("exactly the storage-fixture queries are flagged fixture") {
    SparkEntry.memoizedFixtureQueries shouldBe Set(
      "time_travel", "csv_quarantine", "cluster_from_index", "index_compaction",
      "lang_confusion_stream", "hourly_profile_stream",
      "anomalous_days_stream", "cusum_days_stream", "theil_sen_stream",
      "mann_kendall_stream",
      "hll_distinct_stream", "hll_sliding_7d_stream",
      "quantile_sketch_stream", "weighted_quantile_stream")
  }

  test("the surface only grows: the graded-query count floor ratchets") {
    // a refactor that drops map entries (e.g. a bad merge of the two
    // big literal maps) shrinks the graded surface silently — pin the
    // floor at the r13 count (the 164 r12-close entries + the r13
    // additions from N159 on, incl. the r13b batch N168-N174)
    SparkEntry.queries.size should be >= 244
    SparkEntry.oracleSql.size should be >= 244
  }

  test("the committed sf1 scale-point artifact is clean and self-consistent") {
    // r10 verdict #1 institutionalized: one 10× data point separates
    // linear operators from pruning- or SF-hidden superlinear ones.
    // BENCH_sf1.json is expensive (~1 h) and not regenerated per query
    // addition, so this pins integrity, not full coverage: the artifact
    // exists, recorded zero failures, timed a full-surface-sized set,
    // and names only queries that still exist (a renamed/dropped query
    // invalidates the scale record for its row).
    val path = java.nio.file.Paths.get("BENCH_sf1.json")
    withClue("BENCH_sf1.json missing — run Bench with " +
      "SPARK_GRAFT_SF_DIR=<sf1 dir> (GenTestData writes it): ") {
      java.nio.file.Files.exists(path) shouldBe true
    }
    val json = java.nio.file.Files.readString(path)
    val timedKeys = """"queries":\s*\{([^}]*)\}""".r
      .findFirstMatchIn(json).map(_.group(1))
      .getOrElse(fail("no queries object in BENCH_sf1.json"))
    val covered = "\"([a-z0-9_]+)\":".r.findAllMatchIn(timedKeys)
      .map(_.group(1)).toSet
    covered.size should be >= 117
    val orphans = covered.diff(SparkEntry.queries.keySet)
    withClue(s"BENCH_sf1.json times queries that no longer exist: " +
      s"${orphans.toSeq.sorted.mkString(", ")} ") {
      orphans shouldBe empty
    }
    val failed = """"failed":\s*\[([^\]]*)\]""".r
      .findFirstMatchIn(json).map(_.group(1)).getOrElse("")
    withClue(s"sf1 run recorded failures: $failed ") {
      failed.trim shouldBe empty
    }
  }

  test("the committed sf1 CORRECTNESS artifact records a full-surface pass") {
    // r11 advice institutionalized: the first CORRECTNESS_sf1.json was
    // committed with n_match 0/138 (every query felled by one DuckDB
    // glob bug in the checker, not by the engine) — an artifact that
    // *records a failure* must fail the gate, not sit in the tree
    // looking like evidence. Pins: the artifact exists, every checked
    // query matched, the mismatch list is empty, and the run covered a
    // full-surface-sized set. Regenerate with:
    //   sbt "runMain graft.Verify /tmp/verify_sf1 <sf1 dir>"
    //   python3 tools/oracle_check.py /tmp/verify_sf1 <sf1 dir> CORRECTNESS_sf1.json
    val path = java.nio.file.Paths.get("CORRECTNESS_sf1.json")
    withClue("CORRECTNESS_sf1.json missing — run Verify + tools/oracle_check.py at sf1: ") {
      java.nio.file.Files.exists(path) shouldBe true
    }
    val json = java.nio.file.Files.readString(path)
    def intField(k: String): Int = s""""$k":\\s*(\\d+)""".r
      .findFirstMatchIn(json).map(_.group(1).toInt)
      .getOrElse(fail(s"no $k in CORRECTNESS_sf1.json"))
    val (nMatch, nQueries) = (intField("n_match"), intField("n_queries"))
    // full-coverage coupling (the materialized-audit ratchet pattern,
    // r12): a query added without re-grading the sf1 scale point fails
    // HERE by count — the scale artifact must cover the whole surface,
    // because sf1 is where the sf0.01-invisible bugs live (the r12
    // sessionize seconds-truncation flip was caught only at sf1)
    withClue(s"sf1 correctness artifact covers $nQueries of " +
      s"${SparkEntry.queries.size} graded queries — re-run Verify + " +
      "oracle_check at sf1: ") {
      nQueries should be >= SparkEntry.queries.size
    }
    withClue(s"sf1 oracle run not clean: $nMatch/$nQueries matched ") {
      nMatch shouldBe nQueries
    }
    val mism = """"mismatches":\s*\[([^\]]*)\]""".r
      .findFirstMatchIn(json).map(_.group(1)).getOrElse("")
    withClue(s"sf1 mismatches recorded: $mism ") { mism.trim shouldBe empty }
  }

  test("the committed materialized-mode audit covers every graded query") {
    // r10's lesson institutionalized: count()-based benching lets column
    // pruning delete output expressions, which hid an O(n²) per-doc
    // metric for six rounds. The noop-sink audit (SPARK_GRAFT_EVAL=
    // materialize → bench_materialized.json) evaluates every output
    // column; this ratchet makes it part of the GATE — a query added
    // without re-running the audit, or an audit run that failed a
    // query, fails here by name. Regenerate with:
    //   SPARK_GRAFT_EVAL=materialize sbt "runMain graft.Bench"
    val path = java.nio.file.Paths.get("bench_materialized.json")
    withClue("bench_materialized.json missing — run the materialized audit: ") {
      java.nio.file.Files.exists(path) shouldBe true
    }
    val json = java.nio.file.Files.readString(path)
    // the artifact is one JSON object; the queries map's keys are exactly
    // the successfully-timed queries (failures are excluded from it)
    val timedKeys = """"queries":\s*\{([^}]*)\}""".r
      .findFirstMatchIn(json).map(_.group(1))
      .getOrElse(fail("no queries object in bench_materialized.json"))
    val covered = "\"([a-z0-9_]+)\":".r.findAllMatchIn(timedKeys)
      .map(_.group(1)).toSet
    val missing = SparkEntry.queries.keySet.diff(covered)
    withClue(s"graded queries absent from the materialized audit " +
      s"(stale artifact? failed run?): ${missing.toSeq.sorted.mkString(", ")} ") {
      missing shouldBe empty
    }
    val failed = """"failed":\s*\[([^\]]*)\]""".r
      .findFirstMatchIn(json).map(_.group(1)).getOrElse("")
    withClue(s"materialized audit recorded failures: $failed ") {
      failed.trim shouldBe empty
    }
  }
}
