package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One graded query: its stable id, the Spark function that runs it on
  * an sf directory, and the DuckDB oracle SQL whose result must carry the
  * IDENTICAL column names and values.
  *
  * `fixture` marks entries whose FIRST call per (session, corpus) builds
  * and persists a storage fixture (a written parquet store memoized by
  * path) that every later call serves from. Bench prices that bootstrap
  * separately (a throwaway warm-up sample at the target SF, reported as
  * `fixture_bootstrap_sec`) so scale ratios measure the SERVE path —
  * pairing one side's cold store-build against the other side's warm
  * serve graded `index_compaction` at a fictitious 180× in r16 (verdict
  * #2). Frame-level memos (substring/daily families) are NOT flagged:
  * their first-call cost is a query-shaped compute, not a storage build,
  * and the families share it by design.
  */
final case class QuerySpec(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracleSql: String,
    fixture: Boolean = false)

object QuerySpec {

  /** The specs as one registry; a name registered twice is an error
    * rather than one entry silently shadowing the other.
    */
  def registry(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    val dups = specs.groupBy(_.name).collect { case (n, s) if s.size > 1 => n }
    require(dups.isEmpty,
      s"query names registered twice: ${dups.toSeq.sorted.mkString(", ")}")
    specs
  }
}
