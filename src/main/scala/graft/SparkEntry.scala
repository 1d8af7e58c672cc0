package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.multimodal.MultimodalOps
import graft.queries.{DataOps, ExtractOps, RefOps, Relational}
import graft.streaming.StreamingMonitors

/** The graded-query contract — see SURVEY.md §7.
  *
  * Every entry in [[queries]] has a DuckDB-equivalent in [[oracleSql]] with
  * IDENTICAL output column names; the driver hash-compares both results on
  * the sf0.01 parquet tables.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q3ShippingPriority(spark, "/root/testdata/sf0.001")

  /** The md5-hex → 60-bit BIGINT hash fraction numerator shared by the
    * KMV oracles (approx_distinct_kmv, kmv_union_est) — factored so the
    * sketch and its merge grade against ONE hash definition.
    */
  private val kmvHashSql: String = (1 to 15).map(i =>
    s"(instr('0123456789abcdef', substr(md5(user_id::VARCHAR), $i, 1)) - 1)::BIGINT * ${java.lang.Long.parseLong("1" + "0" * (15 - i), 16)}")
    .mkString(" + ")

  /** 15 hex digits of md5(e) as a 60-bit BIGINT on an arbitrary
    * pre-stringified expression — the same hash dialect as
    * [[kmvHashSql]], shared by the Bloom-register oracle.
    */
  private def hex15Sql(e: String): String = (1 to 15).map(i =>
    s"(instr('0123456789abcdef', substr(md5($e), $i, 1)) - 1)::BIGINT * ${java.lang.Long.parseLong("1" + "0" * (15 - i), 16)}")
    .mkString("(", " + ", ")")

  /** sessionize oracle — factored to a val so session_stats NESTS it
    * verbatim (drift in the session rule fails both entries).
    */
  /** The per-event assignment half of the session rule — factored so
    * session_funnel NESTS it verbatim (drift in the gap rule fails
    * sessionize, session_stats AND session_funnel together).
    */
  private val sessionAssignCtes: String =
    """WITH o AS (SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       s AS (SELECT user_id, ts, event_type,
               (sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING))::BIGINT AS session_id
             FROM o)"""

  private val sessionizeOracle: String =
    s"""$sessionAssignCtes
       SELECT user_id, session_id,
              strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_s,
              strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS end_s,
              count(*) AS n_events
       FROM s GROUP BY 1, 2"""

  /** attribution_last_touch oracle — factored to a val so
    * conversion_latency NESTS it verbatim (the qualityCalibration
    * discipline: drift in attribution fails both entries).
    */
  private val attributionOracle: String =
    s"""WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS tu
          FROM events
          WHERE event_type IN ('click', 'view', 'purchase')),
       t AS (SELECT *, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS kind
             FROM e),
       c AS (SELECT *,
               last_value(CASE WHEN kind = 0 THEN event_id END IGNORE NULLS)
                 OVER wl AS t_id,
               last_value(CASE WHEN kind = 0 THEN event_type END IGNORE NULLS)
                 OVER wl AS t_type,
               last_value(CASE WHEN kind = 0 THEN tu END IGNORE NULLS)
                 OVER wl AS t_tu
             FROM t
             WINDOW wl AS (PARTITION BY user_id ORDER BY tu, kind, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       p AS (SELECT *, (t_tu IS NOT NULL
                        AND tu - t_tu <= ${Relational.AttributionWindowUs})
               AS attributed
             FROM c WHERE kind = 1)
       SELECT event_id AS purchase_id, user_id, tu AS p_tu,
              CASE WHEN attributed THEN t_id END AS touch_id,
              CASE WHEN attributed THEN t_type END AS touch_type,
              CASE WHEN attributed THEN t_tu END AS touch_tu,
              attributed
       FROM p"""

  // Batch oracles that a graded streaming face shares (r18, r17 verdict
  // #5). A face serves the IDENTICAL derive half over replayed monitor
  // state, so it grades against its batch entry's SQL verbatim: derive
  // drift between the two faces hash-mismatches both by construction.
  // The r20 sketch faces nest the batch SQL in a SUBSET oracle that
  // projects away only the exact-side fidelity columns, which need raw
  // rows by definition (validated cross-engine at sf0.01 in r19).
  private val hllDistinctOracle: String =
    s"""WITH h AS (SELECT event_type, ($kmvHashSql) AS hb FROM events),
         r AS (SELECT event_type, hb % 256 AS bucket,
                 CASE WHEN hb // 256 = 0 THEN 53
                      ELSE 53 - length(bin(hb // 256)) END AS rho
               FROM h),
         regs AS (SELECT event_type, bucket, max(rho)::BIGINT AS r
                  FROM r GROUP BY 1, 2),
         agg AS (SELECT event_type, count(*)::BIGINT AS m_used,
                   sum(1::BIGINT << (53 - r))::BIGINT AS sum_used
                 FROM regs GROUP BY 1),
         est AS (SELECT event_type, (256 - m_used)::BIGINT AS v_zero,
                   (sum_used + (256 - m_used) * (1::BIGINT << 53))::BIGINT
                     AS sum_pow
                 FROM agg)
         SELECT x.event_type, x.n_exact, e.v_zero, e.sum_pow,
                round(${RefOps.HllAlphaScaled} / e.sum_pow, 2) AS est_raw
         FROM est e JOIN (SELECT event_type,
                count(DISTINCT user_id)::BIGINT AS n_exact
              FROM events GROUP BY 1) x USING (event_type)"""

  private val hllSlidingOracle: String = s"""
       WITH h AS (SELECT date_diff('day', DATE '1970-01-01',
                    ts::DATE)::BIGINT AS d, event_type,
                    ($kmvHashSql) AS hb FROM events),
       r AS (SELECT d, event_type, hb % 256 AS bucket,
               CASE WHEN hb // 256 = 0 THEN 53
                    ELSE 53 - length(bin(hb // 256)) END AS rho FROM h),
       daily AS (SELECT d, event_type, bucket, max(rho) AS r
                 FROM r GROUP BY 1, 2, 3),
       spine AS (SELECT DISTINCT d FROM h),
       tgt AS (SELECT t.u AS day, daily.event_type, daily.bucket,
                 max(daily.r)::BIGINT AS r
               FROM daily, unnest(range(daily.d, daily.d + 7)) AS t(u)
               WHERE t.u IN (SELECT d FROM spine)
               GROUP BY 1, 2, 3),
       agg AS (SELECT day, event_type, count(*)::BIGINT AS m_used,
                 sum(1::BIGINT << (53 - r))::BIGINT AS sum_used
               FROM tgt GROUP BY 1, 2),
       est AS (SELECT day, event_type, (256 - m_used)::BIGINT AS v_zero,
                 (sum_used + (256 - m_used) * (1::BIGINT << 53))::BIGINT
                   AS sum_pow FROM agg),
       ex AS (SELECT t.u AS day, du.event_type,
                count(DISTINCT du.user_id)::BIGINT AS n_exact
              FROM (SELECT DISTINCT date_diff('day', DATE '1970-01-01',
                      ts::DATE)::BIGINT AS d, event_type, user_id
                    FROM events) du,
                unnest(range(du.d, du.d + 7)) AS t(u)
              WHERE t.u IN (SELECT d FROM spine)
              GROUP BY 1, 2),
       est2 AS (SELECT day, event_type, v_zero, sum_pow,
                  round(${RefOps.HllAlphaScaled} / sum_pow, 2) AS est_raw
                FROM est)
       SELECT e.day, e.event_type, e.v_zero, e.sum_pow, e.est_raw,
              CASE WHEN e.est_raw <= 640.0 AND e.v_zero > 0
                   THEN round(256.0 * ln(256.0 / e.v_zero), 2)
                   ELSE e.est_raw END AS est,
              ex.n_exact
       FROM est2 e JOIN ex USING (day, event_type)"""

  private val quantileSketchOracle: String = s"""
       WITH cents AS (SELECT l_returnflag AS flag,
              CAST(round(l_extendedprice * 100) AS BIGINT) AS v
            FROM lineitem),
       lv AS (SELECT flag, v, length(bin(v)) - 1 AS level FROM cents),
       keyed AS (SELECT flag,
              greatest(level - ${RefOps.QSketchSubBits}, 0)::BIGINT AS shift,
              (v >> CAST(greatest(level - ${RefOps.QSketchSubBits}, 0) AS INT))
                ::BIGINT AS sub
            FROM lv),
       regs AS (SELECT flag, shift, sub, count(*)::BIGINT AS c
            FROM keyed GROUP BY 1, 2, 3),
       tot AS (SELECT flag, sum(c)::BIGINT AS n,
              count(*)::BIGINT AS n_registers
            FROM regs GROUP BY 1),
       ranks AS (SELECT flag, n, n_registers, CAST(u.q AS BIGINT) AS q,
              ((u.q * n + 99) // 100)::BIGINT AS rank
            FROM tot CROSS JOIN (SELECT unnest([50, 90, 99]) AS q) u),
       cum AS (SELECT flag,
              (sub << CAST(shift AS INT))::BIGINT AS lo,
              (((sub + 1) << CAST(shift AS INT)) - 1)::BIGINT AS hi,
              (sum(c) OVER (PARTITION BY flag
                 ORDER BY (sub << CAST(shift AS INT))))::BIGINT AS cum
            FROM regs),
       sel AS (SELECT c.flag, r.q, min_by(c.hi, c.lo)::BIGINT AS est_hi
            FROM cum c JOIN ranks r USING (flag)
            WHERE c.cum >= r.rank GROUP BY 1, 2),
       hist AS (SELECT flag, v, count(*)::BIGINT AS cv
            FROM cents GROUP BY 1, 2),
       cumv AS (SELECT flag, v,
              (sum(cv) OVER (PARTITION BY flag ORDER BY v))::BIGINT AS cumv
            FROM hist),
       ex AS (SELECT h.flag, r.q, min(h.v)::BIGINT AS exact_v
            FROM cumv h JOIN ranks r USING (flag)
            WHERE h.cumv >= r.rank GROUP BY 1, 2)
       SELECT r.flag, r.q, r.n, r.n_registers, r.rank, s.est_hi, e.exact_v,
              ((1000000 * (s.est_hi - e.exact_v)) // e.exact_v)::BIGINT
                AS err_ppm
       FROM ranks r JOIN sel s ON s.flag = r.flag AND s.q = r.q
       JOIN ex e ON e.flag = r.flag AND e.q = r.q"""

  private val weightedQuantileSketchOracle: String = s"""
       WITH vw AS (SELECT lang AS flag, n_chars::BIGINT AS v,
              len(string_split(text, ' '))::BIGINT AS wt
            FROM documents),
       lv AS (SELECT flag, v, wt, length(bin(v)) - 1 AS level FROM vw),
       keyed AS (SELECT flag, wt,
              greatest(level - ${RefOps.QSketchSubBits}, 0)::BIGINT AS shift,
              (v >> CAST(greatest(level - ${RefOps.QSketchSubBits}, 0) AS INT))
                ::BIGINT AS sub
            FROM lv),
       regs AS (SELECT flag, shift, sub, sum(wt)::BIGINT AS c
            FROM keyed GROUP BY 1, 2, 3),
       tot AS (SELECT flag, sum(c)::BIGINT AS w_total,
              count(*)::BIGINT AS n_registers
            FROM regs GROUP BY 1),
       ranks AS (SELECT flag, w_total, n_registers, CAST(u.q AS BIGINT) AS q,
              ((u.q * w_total + 99) // 100)::BIGINT AS rank
            FROM tot CROSS JOIN (SELECT unnest([50, 90, 99]) AS q) u),
       cum AS (SELECT flag,
              (sub << CAST(shift AS INT))::BIGINT AS lo,
              (((sub + 1) << CAST(shift AS INT)) - 1)::BIGINT AS hi,
              (sum(c) OVER (PARTITION BY flag
                 ORDER BY (sub << CAST(shift AS INT))))::BIGINT AS cum
            FROM regs),
       sel AS (SELECT c.flag, r.q, min_by(c.hi, c.lo)::BIGINT AS est_hi
            FROM cum c JOIN ranks r USING (flag)
            WHERE c.cum >= r.rank GROUP BY 1, 2),
       hist AS (SELECT flag, v, sum(wt)::BIGINT AS cv
            FROM vw GROUP BY 1, 2),
       cumv AS (SELECT flag, v,
              (sum(cv) OVER (PARTITION BY flag ORDER BY v))::BIGINT AS cumv
            FROM hist),
       ex AS (SELECT h.flag, r.q, min(h.v)::BIGINT AS exact_v
            FROM cumv h JOIN ranks r USING (flag)
            WHERE h.cumv >= r.rank GROUP BY 1, 2)
       SELECT r.flag, r.q, r.w_total, r.n_registers, r.rank, s.est_hi,
              e.exact_v,
              (CASE WHEN e.exact_v > 0
                    THEN (1000000 * (s.est_hi - e.exact_v)) // e.exact_v
               END)::BIGINT AS err_ppm
       FROM ranks r JOIN sel s ON s.flag = r.flag AND s.q = r.q
       JOIN ex e ON e.flag = r.flag AND e.q = r.q"""

  private val hourlyProfileOracle: String =
    """WITH cells AS (SELECT event_type, hour(ts)::BIGINT AS hr,
                          count(*)::BIGINT AS n_events
                        FROM events GROUP BY 1, 2),
         tot AS (SELECT event_type, sum(n_events)::BIGINT AS n_type
                 FROM cells GROUP BY 1)
         SELECT c.event_type, c.hr, c.n_events,
                ((1000 * c.n_events) // t.n_type)::BIGINT AS share_milli
         FROM cells c JOIN tot t USING (event_type)"""

  private val anomalousDaysOracle: String =
    """WITH daily AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d')
                          AS day, count(*)::BIGINT AS n_events
                        FROM events GROUP BY 1),
         n AS (SELECT count(*)::BIGINT AS n_days FROM daily),
         med AS (SELECT n_events AS med_events FROM
                   (SELECT n_events,
                      row_number() OVER (ORDER BY n_events, day) AS rn
                    FROM daily) r, n
                 WHERE rn = (n_days + 1) // 2),
         dev AS (SELECT d.day, d.n_events,
                   abs(d.n_events - m.med_events)::BIGINT AS deviation
                 FROM daily d CROSS JOIN med m),
         mad AS (SELECT deviation AS mad_events FROM
                   (SELECT deviation,
                      row_number() OVER (ORDER BY deviation, day) AS rn
                    FROM dev) r, n
                 WHERE rn = (n_days + 1) // 2)
         SELECT dev.day, dev.n_events, dev.deviation,
                dev.deviation > 3 * mad.mad_events AS is_anomaly
         FROM dev CROSS JOIN mad"""

  private val cusumDaysOracle: String = """
       WITH daily AS (SELECT event_type,
              date_diff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS d,
              count(*)::BIGINT AS n
            FROM events GROUP BY 1, 2),
       mu AS (SELECT event_type,
                (1000000 * sum(n)) // count(*) AS mu_micro
              FROM daily GROUP BY 1),
       s AS (SELECT d.event_type, d.d, d.n,
               sum(1000000 * d.n - m.mu_micro) OVER (
                 PARTITION BY d.event_type ORDER BY d.d
                 ROWS UNBOUNDED PRECEDING)::BIGINT AS s_micro
             FROM daily d JOIN mu m ON m.event_type = d.event_type)
       SELECT event_type, d, n, s_micro,
              row_number() OVER (PARTITION BY event_type
                ORDER BY abs(s_micro) DESC, d) = 1 AS is_peak
       FROM s"""

  private val theilSenOracle: String = """
       WITH daily AS (SELECT event_type,
              date_diff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS d,
              count(*)::BIGINT AS n
            FROM events GROUP BY 1, 2),
       p AS (SELECT a.event_type,
               (1000000 * (b.n - a.n)) // (b.d - a.d) AS sm
             FROM daily a JOIN daily b
               ON b.event_type = a.event_type AND b.d > a.d),
       m AS (SELECT event_type, sm AS slope_micro FROM
               (SELECT *, row_number() OVER (PARTITION BY event_type
                  ORDER BY sm) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS cnt FROM p)
             WHERE rn = (cnt + 1) // 2),
       ic AS (SELECT d.event_type,
                (1000000 * d.n - m.slope_micro * d.d) AS b0
              FROM daily d JOIN m ON m.event_type = d.event_type),
       icm AS (SELECT event_type, b0 AS intercept_micro FROM
                 (SELECT *, row_number() OVER (PARTITION BY event_type
                    ORDER BY b0) AS rn,
                    count(*) OVER (PARTITION BY event_type) AS cnt FROM ic)
               WHERE rn = (cnt + 1) // 2),
       nd AS (SELECT event_type, count(*)::BIGINT AS n_days
              FROM daily GROUP BY 1)
       SELECT nd.event_type, nd.n_days,
              ((nd.n_days * (nd.n_days - 1)) // 2)::BIGINT AS n_pairs,
              m.slope_micro, icm.intercept_micro
       FROM nd JOIN m USING (event_type) JOIN icm USING (event_type)"""

  private val mannKendallOracle: String = """
       WITH daily AS (SELECT event_type,
              date_diff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS d,
              count(*)::BIGINT AS n
            FROM events GROUP BY 1, 2),
       p AS (SELECT a.event_type,
               CASE WHEN b.n > a.n THEN 1 WHEN b.n < a.n THEN -1
                    ELSE 0 END AS sgn
             FROM daily a JOIN daily b
               ON b.event_type = a.event_type AND b.d > a.d)
       SELECT event_type, count(*)::BIGINT AS n_pairs,
              sum(sgn)::BIGINT AS s_stat,
              (count(*) FILTER (sgn = 1))::BIGINT AS n_concordant,
              (count(*) FILTER (sgn = -1))::BIGINT AS n_discordant,
              (count(*) FILTER (sgn = 0))::BIGINT AS n_tied,
              CASE WHEN sum(sgn) > 0 THEN 'inc'
                   WHEN sum(sgn) < 0 THEN 'dec' ELSE 'none' END AS trend
       FROM p GROUP BY 1"""

  /** Every graded query, one [[QuerySpec]] each: the Spark function
    * and the DuckDB oracle that must give the same column names and
    * values. Built once; a name registered twice fails the build.
    */
  val registry: Seq[QuerySpec] = QuerySpec.registry(Seq(
    QuerySpec("topn", RefOps.topn,
      """SELECT event_id, user_id, event_type, value,
         strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
         FROM events ORDER BY ts DESC, event_id LIMIT 10"""),
    QuerySpec("watermark_max", RefOps.watermarkMax,
      """SELECT coalesce(strftime(date_trunc('day', max(ts)), '%Y-%m-%dT%H:%M:%S'),
                         '2025-07-25T00:00:00') AS watermark,
                max(ts) IS NOT NULL AS is_incremental
         FROM events"""),
    QuerySpec("incremental_filter", RefOps.incrementalFilter,
      """SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
         FROM events WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'"""),
    QuerySpec("dedup_keep_latest", RefOps.dedupKeepLatest,
      """SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
         FROM (SELECT user_id, event_id, ts,
                      row_number() OVER (PARTITION BY user_id
                                         ORDER BY ts DESC, event_id DESC) AS rn
               FROM events) WHERE rn = 1"""),
    QuerySpec("union_sources", RefOps.unionSources,
      """SELECT event_id, 'src_click' AS source_name FROM events
         WHERE event_type = 'click'
         UNION ALL
         SELECT event_id, 'src_purchase' AS source_name FROM events
         WHERE event_type = 'purchase'"""),
    QuerySpec("md5_id", RefOps.md5Id,
      """SELECT event_id,
                md5('https://example.com/article/' || CAST(event_id AS VARCHAR))
                  AS article_id
         FROM events"""),
    QuerySpec("parse_date_multi", RefOps.parseDateMulti,
      """SELECT event_id,
                strftime(try_strptime(strftime(ts, '%B %-d, %Y'), '%B %d, %Y'),
                         '%Y-%m-%d %H:%M:%S') AS phocus_parsed,
                strftime(try_strptime(strftime(ts, '%Y-%m-%dT%H:%M:%S'),
                                      '%Y-%m-%dT%H:%M:%S'),
                         '%Y-%m-%d %H:%M:%S') AS iso_parsed,
                try_strptime('garbage', '%Y-%m-%d') IS NULL AS garbage_is_null
         FROM events"""),
    QuerySpec("drop_tz", RefOps.dropTz,
      """SELECT event_id,
                strftime(try_strptime(
                  regexp_replace(strftime(ts, '%Y-%m-%dT%H:%M:%S')
                    || CASE WHEN event_id % 2 = 0 THEN '+05:00' ELSE 'Z' END,
                    '([+-]\d{2}:?\d{2}|Z)$', ''),
                  '%Y-%m-%dT%H:%M:%S'),
                '%Y-%m-%d %H:%M:%S') AS naive
         FROM events"""),
    QuerySpec("author_clean", RefOps.authorClean,
      """SELECT event_id,
                regexp_replace('By User' || CAST(user_id AS VARCHAR), '^By ', '')
                  AS author
         FROM events"""),
    QuerySpec("split_extract", RefOps.splitExtract,
      """SELECT event_id,
                trim(split_part('By User' || CAST(user_id AS VARCHAR) || ' | '
                                || strftime(ts, '%B %-d, %Y'), '|', 2))
                  AS byline_date
         FROM events"""),
    QuerySpec("upsert_merge", RefOps.upsertMerge,
      """WITH stored AS (
           SELECT user_id, event_id, ts,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
           FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'),
         batch AS (
           SELECT user_id, event_id, ts,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
           FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00')
         SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
         FROM stored WHERE rn = 1
           AND user_id NOT IN (SELECT user_id FROM batch WHERE rn = 1)
         UNION ALL
         SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
         FROM batch WHERE rn = 1"""),
    // r16: time travel — both retained versions replayed by the merge
    // law (v2 = v1 rows the phase-2 batch did not touch, plus phase 2)
    QuerySpec("time_travel", RefOps.timeTravelGraded,
      """WITH mk AS (
           SELECT doc_id,
                  md5('tt:' || CAST(doc_id AS VARCHAR)) AS article_id,
                  'https://example.com/tt/' || CAST(doc_id AS VARCHAR)
                    AS news_link,
                  CASE WHEN doc_id % 7 = 0 THEN NULL
                       ELSE 'User ' || CAST(doc_id % 50 AS VARCHAR)
                  END AS author_name,
                  strftime(TIMESTAMP '2024-01-01 00:00:00'
                             + (doc_id % 720) * INTERVAL 1 HOUR,
                           '%Y-%m-%d %H:%M:%S') AS published_s,
                  lang AS source_name
           FROM documents),
         v1 AS (
           SELECT article_id, news_link,
                  'v1 title ' || CAST(doc_id AS VARCHAR) AS news_title,
                  author_name, published_s, source_name
           FROM mk WHERE doc_id % 10 < 5),
         v2 AS (
           SELECT article_id, news_link,
                  'v1 title ' || CAST(doc_id AS VARCHAR) AS news_title,
                  author_name, published_s, source_name
           FROM mk WHERE doc_id % 10 < 3
           UNION ALL
           SELECT article_id, news_link,
                  'v2 title ' || CAST(doc_id AS VARCHAR) AS news_title,
                  author_name, published_s, source_name
           FROM mk WHERE doc_id % 10 BETWEEN 3 AND 7)
         SELECT 1::BIGINT AS version, * FROM v1
         UNION ALL
         SELECT 2::BIGINT AS version, * FROM v2""", fixture = true),
    QuerySpec("null_filters", RefOps.nullFilters,
      """SELECT nullif(event_type, 'error') AS et, count(*) AS n
         FROM events WHERE nullif(event_type, 'error') IS NOT NULL
         GROUP BY 1"""),
    QuerySpec("ingest_run", RefOps.ingestRun,
      """WITH stored AS (
           SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-20 00:00:00'),
         wm AS (SELECT date_trunc('day', max(ts)) AS wm FROM stored),
         incoming AS (
           SELECT e.* FROM events e, wm
           WHERE e.ts >= TIMESTAMP '2024-01-20 00:00:00' AND e.ts >= wm.wm),
         batch AS (
           SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn FROM incoming)
           WHERE rn = 1),
         stored_latest AS (
           SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn FROM stored)
           WHERE rn = 1),
         merged AS (
           SELECT * FROM stored_latest
           WHERE user_id NOT IN (SELECT user_id FROM batch)
           UNION ALL SELECT * FROM batch)
         SELECT * FROM merged ORDER BY ts_s DESC, event_id LIMIT 5"""),
    QuerySpec("asof_join", RefOps.asofJoin,
      """WITH p AS (SELECT user_id, ts, max(event_id) AS p_id FROM events
                    WHERE event_type = 'purchase' GROUP BY 1, 2),
         c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click')
         SELECT c.event_id, c.user_id,
                strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
                p.p_id AS prior_purchase
         FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts"""),
    QuerySpec("asof_join_forward", RefOps.asofJoinForward,
      """WITH p AS (SELECT user_id, ts, max(event_id) AS p_id FROM events
                    WHERE event_type = 'purchase' GROUP BY 1, 2),
         c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click')
         SELECT c.event_id, c.user_id,
                strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
                p.p_id AS next_purchase
         FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts <= p.ts"""),
    QuerySpec("data_expectations", RefOps.dataExpectations,
      """SELECT 'events_event_id_unique' AS check,
                (SELECT count(*) FROM (SELECT event_id FROM events
                  GROUP BY event_id HAVING count(*) > 1))::BIGINT AS violations,
                (SELECT count(*) FROM (SELECT event_id FROM events
                  GROUP BY event_id HAVING count(*) > 1)) = 0 AS pass
         UNION ALL
         SELECT 'events_ts_not_null',
                (SELECT count(*) FILTER (ts IS NULL) FROM events)::BIGINT,
                (SELECT count(*) FILTER (ts IS NULL) FROM events) = 0
         UNION ALL
         SELECT 'events_type_in_domain',
                (SELECT count(*) FILTER (event_type NOT IN
                  ('click','view','purchase','signup','error')) FROM events)::BIGINT,
                (SELECT count(*) FILTER (event_type NOT IN
                  ('click','view','purchase','signup','error')) FROM events) = 0
         UNION ALL
         SELECT 'docs_n_chars_consistent',
                (SELECT count(*) FILTER (n_chars != length(text)) FROM documents)::BIGINT,
                (SELECT count(*) FILTER (n_chars != length(text)) FROM documents) = 0
         UNION ALL
         SELECT 'docs_lang_in_domain',
                (SELECT count(*) FILTER (lang NOT IN ('de','en','es','fr','zh'))
                 FROM documents)::BIGINT,
                (SELECT count(*) FILTER (lang NOT IN ('de','en','es','fr','zh'))
                 FROM documents) = 0"""),
    QuerySpec("jsonl_parse", RefOps.jsonlParse,
      """WITH raw AS (
           SELECT event_id,
                  CASE WHEN event_id % 500 = 0 THEN '{not json'
                       ELSE '{"user":' || user_id || ',"type":"' || event_type
                            || '","n":' || (event_id % 1000) || '}' END AS line
           FROM events),
         parsed AS (
           SELECT event_id,
                  CASE WHEN json_valid(line)
                       THEN try_cast(json_extract_string(line, '$.user') AS BIGINT) END AS user,
                  CASE WHEN json_valid(line)
                       THEN json_extract_string(line, '$.type') END AS type,
                  CASE WHEN json_valid(line)
                       THEN try_cast(json_extract_string(line, '$.n') AS BIGINT) END AS n
           FROM raw)
         SELECT event_id, user, type, n FROM parsed
         WHERE n < 500 OR n IS NULL"""),
    // r15: the CSV quarantine contract recomputed from the planting
    // rule — the oracle never reads the file, so agreement proves the
    // engine's render → write → PERMISSIVE-parse round trip
    QuerySpec("csv_quarantine", RefOps.csvQuarantine,
      """WITH cls AS (
           SELECT CASE WHEN event_id % 500 = 0
                       THEN 'quarantined' ELSE 'clean' END AS kind,
                  user_id,
                  CASE WHEN event_id % 500 = 0
                       THEN length(event_id::VARCHAR || ',noise,'
                                   || event_type) END AS rl
           FROM events)
         SELECT kind, count(*)::BIGINT AS n_rows,
                coalesce(sum(CASE WHEN kind = 'clean' THEN user_id END),
                  0)::BIGINT AS user_sum,
                coalesce(sum(rl), 0)::BIGINT AS raw_chars
         FROM cls GROUP BY 1""", fixture = true),
    QuerySpec("range_join", RefOps.rangeJoin,
      """WITH c AS (SELECT user_id, event_id AS c_id, ts FROM events
                    WHERE event_type = 'click'),
         p AS (SELECT user_id, event_id AS p_id, ts AS p_ts FROM events
               WHERE event_type = 'purchase')
         SELECT c.c_id, c.user_id,
                strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS c_ts_s,
                p.p_id, strftime(p_ts, '%Y-%m-%d %H:%M:%S') AS p_ts_s,
                (epoch_us(c.ts) - epoch_us(p_ts))::BIGINT AS dt_us
         FROM c JOIN p ON c.user_id = p.user_id
           AND abs(epoch_us(c.ts) - epoch_us(p_ts)) <= 3600000000"""),
    QuerySpec("approx_distinct_kmv", RefOps.approxDistinctKmv,
      (s"""WITH h AS (SELECT DISTINCT event_type, ($kmvHashSql) / 2.0^60 AS h
           FROM events),
         rk AS (SELECT event_type, h,
                  row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS cnt
                FROM h),
         kth AS (SELECT event_type,
                   CASE WHEN cnt < 32 THEN cnt::DOUBLE
                        ELSE round(31 / h, 2) END AS est_distinct
                 FROM rk WHERE rn = least(32, cnt)),
         exact AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
                   FROM events GROUP BY 1)
         SELECT exact.event_type, n_exact, est_distinct
         FROM exact JOIN kth ON exact.event_type = kth.event_type""")),
    // r13: register-level HLL on the SAME hash definition as the KMV
    // family; rho is integer bin-length arithmetic, the Σ2^-rho is an
    // exact BIGINT, and the one float op divides the Scala-computed
    // constant (interpolated below so both engines parse one IEEE value)
    QuerySpec("hll_distinct", RefOps.hllDistinct, hllDistinctOracle),
    QuerySpec("hll_distinct_stream", StreamingMonitors.hllDistinctStream,
      s"SELECT event_type, v_zero, sum_pow, est_raw FROM ($hllDistinctOracle) t",
      fixture = true),
    // r14: register-level log-histogram quantile sketch — base-2
    // sub-bucketed registers (HdrHistogram/DDSketch family), integer
    // bin-length log2, rank recovery from register upper edges, exact
    // rank value graded alongside as the fidelity line
    QuerySpec("quantile_sketch", RefOps.quantileSketch, quantileSketchOracle),
    QuerySpec("quantile_sketch_stream", StreamingMonitors.quantileSketchStream,
      s"SELECT flag, q, n, n_registers, rank, est_hi FROM ($quantileSketchOracle) t",
      fixture = true),
    // r14: quantile-register cube — per-(month, flag) registers,
    // month summed away, derive over the rolled-up frame; the roll-up
    // must reproduce the direct sketch's estimates (the merge law)
    QuerySpec("quantile_sketch_cube", RefOps.quantileSketchCube, s"""
       WITH cents AS (SELECT l_returnflag AS flag,
              strftime(l_shipdate, '%Y-%m') AS m,
              CAST(round(l_extendedprice * 100) AS BIGINT) AS v
            FROM lineitem),
       lv AS (SELECT flag, m, v, length(bin(v)) - 1 AS level FROM cents),
       cube AS (SELECT flag, m,
              greatest(level - ${RefOps.QSketchSubBits}, 0)::BIGINT AS shift,
              (v >> CAST(greatest(level - ${RefOps.QSketchSubBits}, 0) AS INT))
                ::BIGINT AS sub,
              count(*)::BIGINT AS c
            FROM lv GROUP BY 1, 2, 3, 4),
       regs AS (SELECT flag, shift, sub, sum(c)::BIGINT AS c
            FROM cube GROUP BY 1, 2, 3),
       months AS (SELECT flag, count(DISTINCT m)::BIGINT AS n_months
            FROM cube GROUP BY 1),
       tot AS (SELECT flag, sum(c)::BIGINT AS n,
              count(*)::BIGINT AS n_registers
            FROM regs GROUP BY 1),
       ranks AS (SELECT flag, n, n_registers, CAST(u.q AS BIGINT) AS q,
              ((u.q * n + 99) // 100)::BIGINT AS rank
            FROM tot CROSS JOIN (SELECT unnest([50, 90, 99]) AS q) u),
       cum AS (SELECT flag,
              (sub << CAST(shift AS INT))::BIGINT AS lo,
              (((sub + 1) << CAST(shift AS INT)) - 1)::BIGINT AS hi,
              (sum(c) OVER (PARTITION BY flag
                 ORDER BY (sub << CAST(shift AS INT))))::BIGINT AS cum
            FROM regs),
       sel AS (SELECT c.flag, r.q, min_by(c.hi, c.lo)::BIGINT AS est_hi
            FROM cum c JOIN ranks r USING (flag)
            WHERE c.cum >= r.rank GROUP BY 1, 2)
       SELECT r.flag, mo.n_months, r.q, r.n, r.n_registers, r.rank,
              s.est_hi
       FROM ranks r JOIN sel s ON s.flag = r.flag AND s.q = r.q
       JOIN months mo ON mo.flag = r.flag"""),
    // r14: token-weighted quantile sketch — same register algebra with
    // count generalized to a weight sum; "the median token lives in a
    // doc of length X", per language
    QuerySpec("weighted_quantile_sketch", RefOps.weightedQuantileSketch,
      weightedQuantileSketchOracle),
    QuerySpec("weighted_quantile_stream", StreamingMonitors.weightedQuantileStream,
      s"SELECT flag, q, w_total, n_registers, rank, est_hi FROM ($weightedQuantileSketchOracle) t",
      fixture = true),
    // r13f: register-level Bloom on the KMV/HLL hash dialect — member
    // set = the user_id % 8 blocklist cohort, k=3 positions in m=16384
    // bits; probe counts per event type next to the exact membership
    QuerySpec("bloom_prune_audit", RefOps.bloomPruneAudit, {
      val mpos = (1 to RefOps.BloomHashes).map(j =>
        s"${hex15Sql(s"'bloom:$j:' || user_id::VARCHAR")} % ${RefOps.BloomBits}")
        .mkString(", ")
      s"""WITH members AS (SELECT DISTINCT user_id FROM events
                        WHERE user_id % 8 = 0),
         bits AS (SELECT DISTINCT unnest([$mpos]) AS pos FROM members),
         probe AS (SELECT DISTINCT event_type, user_id FROM events),
         pp AS (SELECT event_type, user_id, unnest([$mpos]) AS pos
                FROM probe),
         ph AS (SELECT p.event_type, p.user_id,
                  count(b.pos) = ${RefOps.BloomHashes} AS bloom_pass
                FROM pp p LEFT JOIN bits b USING (pos)
                GROUP BY 1, 2)
         SELECT ph.event_type, count(*)::BIGINT AS n_users,
                count(*) FILTER (bloom_pass)::BIGINT AS n_bloom_pass,
                count(*) FILTER (user_id IN (SELECT user_id FROM members))::BIGINT
                  AS n_member,
                (SELECT count(*)::BIGINT FROM bits) AS n_bits
         FROM ph GROUP BY 1"""
    }),
    // r13g: Morton layout audit — the bit interleave unrolled as integer
    // shift/mask arithmetic (the native expression's exact semantics on
    // 12-bit quantized inputs), 64 z-range tiles, zone maps + box prune
    QuerySpec("zorder_audit", Relational.zorderAudit, {
      val zbits = (0 until 12).flatMap(i => Seq(
        s"((x >> $i) & 1) * ${1L << (2 * i)}",
        s"((y >> $i) & 1) * ${1L << (2 * i + 1)}")).mkString(" + ")
      val (x1, x2, y1, y2) = Relational.ZBox
      s"""WITH q AS (SELECT
             least(date_diff('day', DATE '${Relational.ZEpoch}',
               o_orderdate::DATE), 4095)::BIGINT AS x,
             least(floor(o_totalprice / ${Relational.ZPriceQuantum})::BIGINT,
               4095) AS y
           FROM orders),
         z AS (SELECT x, y, ($zbits)::BIGINT AS z FROM q)
         SELECT z >> ${Relational.ZFileShift} AS file_id,
                count(*)::BIGINT AS n_rows,
                min(x) AS min_x, max(x) AS max_x,
                min(y) AS min_y, max(y) AS max_y,
                (max(x) < $x1 OR min(x) >= $x2
                 OR max(y) < $y1 OR min(y) >= $y2) AS can_prune
         FROM z GROUP BY 1"""
    }),
    // r13g: deterministic 1/16 universe sample (KMV/HLL hash dialect on
    // the event key), x16 extrapolation next to the exact answers
    QuerySpec("hash_sample_est", Relational.hashSampleEst, s"""
       WITH e AS (SELECT event_type,
              CAST(round(value * 100) AS BIGINT) AS cents,
              ${hex15Sql("'samp:' || event_id::VARCHAR")} % 16 = 0 AS in_samp
            FROM events)
       SELECT event_type, count(*)::BIGINT AS n_exact,
              sum(cents)::BIGINT AS cents_exact,
              count(*) FILTER (in_samp)::BIGINT AS n_sample,
              (count(*) FILTER (in_samp) * 16)::BIGINT AS n_est,
              (coalesce(sum(cents) FILTER (in_samp), 0) * 16)::BIGINT
                AS cents_est
       FROM e GROUP BY 1"""),
    // r13i: the HLL cube — per-(day, type) registers max-merged across
    // days; associativity makes this equal the direct sketch, and the
    // oracle recomputes the partitioned path from scratch
    QuerySpec("hll_sketch_cube", RefOps.hllSketchCube,
      s"""WITH h AS (SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
                  ($kmvHashSql) AS hb FROM events),
         r AS (SELECT day, event_type, hb % 256 AS bucket,
                 CASE WHEN hb // 256 = 0 THEN 53
                      ELSE 53 - length(bin(hb // 256)) END AS rho
               FROM h),
         daily AS (SELECT day, event_type, bucket, max(rho) AS r
                   FROM r GROUP BY 1, 2, 3),
         m AS (SELECT event_type, bucket, max(r)::BIGINT AS r
               FROM daily GROUP BY 1, 2),
         agg AS (SELECT event_type, count(*)::BIGINT AS m_used,
                   sum(1::BIGINT << (53 - r))::BIGINT AS sum_used
                 FROM m GROUP BY 1),
         est AS (SELECT event_type, (256 - m_used)::BIGINT AS v_zero,
                   (sum_used + (256 - m_used) * (1::BIGINT << 53))::BIGINT
                     AS sum_pow
                 FROM agg),
         d AS (SELECT event_type,
                 count(DISTINCT strftime(ts, '%Y-%m-%d'))::BIGINT AS n_days
               FROM events GROUP BY 1)
         SELECT d.event_type, d.n_days, e.v_zero, e.sum_pow,
                round(${RefOps.HllAlphaScaled} / e.sum_pow, 2) AS est_raw
         FROM est e JOIN d USING (event_type)"""),
    // r13i: join-size estimation, both classic sketches — Count-Min
    // inner product (min over rows, one-sided) and the AMS Tug-of-War
    // signed median (unbiased) — from one (type, user) histogram
    QuerySpec("cms_join_est", RefOps.cmsJoinEst, {
      val cmRows = (0 until RefOps.CmsJRows).map(j =>
        s"""SELECT event_type, $j AS j,
              ${hex15Sql(s"'cmsj:$j:' || user_id::VARCHAR")} % ${RefOps.CmsJWidth} AS b,
              c FROM hist""").mkString(" UNION ALL ")
      val amsRows = (0 until RefOps.AmsRows).map(j =>
        s"""SELECT event_type, $j AS j,
              ${hex15Sql(s"'amsb:$j:' || user_id::VARCHAR")} % ${RefOps.CmsJWidth} AS b,
              ((${hex15Sql(s"'amss:$j:' || user_id::VARCHAR")} % 2) * 2 - 1) AS s,
              c FROM hist""").mkString(" UNION ALL ")
      s"""WITH hist AS (SELECT event_type, user_id, count(*)::BIGINT AS c
                     FROM events GROUP BY 1, 2),
         cmbr AS ($cmRows),
         cmregs AS (SELECT event_type, j, b, sum(c)::BIGINT AS reg
                    FROM cmbr GROUP BY 1, 2, 3),
         estcm AS (SELECT event_type, min(e)::BIGINT AS est_cm FROM
                     (SELECT event_type, j, sum(reg * reg) AS e
                      FROM cmregs GROUP BY 1, 2) GROUP BY 1),
         amsbr AS ($amsRows),
         amsregs AS (SELECT event_type, j, b, sum(c * s)::BIGINT AS reg
                     FROM amsbr GROUP BY 1, 2, 3),
         amse AS (SELECT event_type, j, sum(reg * reg)::BIGINT AS e
                  FROM amsregs GROUP BY 1, 2),
         amsm AS (SELECT event_type, e AS est_ams FROM
                    (SELECT *, row_number() OVER (PARTITION BY event_type
                       ORDER BY e, j) AS rn FROM amse)
                  WHERE rn = ${(RefOps.AmsRows + 1) / 2}),
         ex AS (SELECT event_type, sum(c * c)::BIGINT AS f2_exact
                FROM hist GROUP BY 1)
         SELECT ex.event_type, ex.f2_exact, estcm.est_cm, amsm.est_ams,
                estcm.est_cm >= ex.f2_exact AS is_over
         FROM ex JOIN estcm USING (event_type) JOIN amsm USING (event_type)"""
    }),
    // r13i: FD audit — one partial-distinct aggregation per candidate
    QuerySpec("fd_audit", Relational.fdAudit,
      Seq(("event_id", "user_id"), ("event_id", "event_type"),
      ("user_id", "event_type")).map { case (l, r) =>
      s"""SELECT '$l' AS lhs, '$r' AS rhs, count(*)::BIGINT AS n_groups,
             count(*) FILTER (d > 1)::BIGINT AS n_violating,
             count(*) FILTER (d > 1) = 0 AS holds
          FROM (SELECT $l, count(DISTINCT $r) AS d FROM events GROUP BY 1)"""
    }.mkString(" UNION ALL ")),
    // r13j: Theil-Sen — micro-quantized pairwise slopes over the
    // bounded daily frame, lower-median order statistic, intercept as
    // the median residual at the chosen slope
    QuerySpec("theil_sen", Relational.theilSen, theilSenOracle),
    QuerySpec("theil_sen_stream", StreamingMonitors.theilSenStream, theilSenOracle,
      fixture = true),
    // r13p: within-session funnel — nests the factored session rule;
    // a session converts when first view strictly precedes first
    // purchase (exact micros)
    QuerySpec("session_funnel", RefOps.sessionFunnel, s"""
       $sessionAssignCtes,
       f AS (SELECT user_id, session_id,
               min(CASE WHEN event_type = 'view'
                     THEN epoch_us(ts) END) AS v_tu,
               min(CASE WHEN event_type = 'purchase'
                     THEN epoch_us(ts) END) AS p_tu
             FROM s GROUP BY 1, 2)
       SELECT count(*)::BIGINT AS n_sessions,
              count(v_tu)::BIGINT AS n_view,
              count(p_tu)::BIGINT AS n_purchase,
              (count(*) FILTER (v_tu < p_tu))::BIGINT AS n_converted,
              ((1000000 * count(*) FILTER (v_tu < p_tu))
                // count(*))::BIGINT AS conv_ppm
       FROM f"""),
    // r13p: revenue Lorenz curve over thousand-dollar lifetime-spend
    // buckets, integer cents + div-quantized cumulative shares
    QuerySpec("revenue_lorenz", Relational.revenueLorenz, """
       WITH spend AS (SELECT o_custkey,
              sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
            FROM orders GROUP BY 1),
       cells AS (SELECT cents // 100000 AS spend_k,
                   count(*)::BIGINT AS n_customers,
                   sum(cents)::BIGINT AS cents_sum
                 FROM spend GROUP BY 1),
       t AS (SELECT sum(n_customers)::BIGINT AS tc,
               sum(cents_sum)::BIGINT AS tv FROM cells),
       c AS (SELECT spend_k, n_customers, cents_sum,
               (sum(n_customers) OVER (ORDER BY spend_k))::BIGINT AS cum_cust,
               (sum(cents_sum) OVER (ORDER BY spend_k))::BIGINT AS cum_cents
             FROM cells)
       SELECT c.spend_k, c.n_customers, c.cents_sum,
              ((1000000 * c.cum_cust) // t.tc)::BIGINT AS cum_cust_ppm,
              ((1000000 * (c.cum_cents // 100))
                // (t.tv // 100))::BIGINT AS cum_cents_ppm
       FROM c CROSS JOIN t"""),
    // r13o: trailing-7d HLL serving face — daily registers scattered to
    // the <=7 window-end days they serve, max-merged, shared derive
    // half; exact trailing distinct graded alongside
    QuerySpec("hll_sliding_7d", RefOps.hllSliding, hllSlidingOracle),
    QuerySpec("hll_sliding_7d_stream", StreamingMonitors.hllSliding7dStream,
      s"SELECT day, event_type, v_zero, sum_pow, est_raw, est FROM ($hllSlidingOracle) t",
      fixture = true),
    // r13o: type-pair set cosine^2 + Jaccard over distinct-user sets
    QuerySpec("type_cosine", Relational.typeCosine, """
       WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
       n AS (SELECT event_type, count(*)::BIGINT AS nu FROM du GROUP BY 1),
       p AS (SELECT a.event_type AS t1, b.event_type AS t2,
               count(*)::BIGINT AS n_common
             FROM du a JOIN du b ON b.user_id = a.user_id
               AND b.event_type > a.event_type
             GROUP BY 1, 2)
       SELECT p.t1, p.t2, n1.nu AS n1, n2.nu AS n2, p.n_common,
              ((1000000 * p.n_common * p.n_common)
                // (n1.nu * n2.nu))::BIGINT AS cos2_ppm,
              ((1000000 * p.n_common)
                // (n1.nu + n2.nu - p.n_common))::BIGINT AS jaccard_ppm
       FROM p JOIN n n1 ON n1.event_type = p.t1
       JOIN n n2 ON n2.event_type = p.t2"""),
    // r13o: L-moments — probability-weighted sums over the (n, d)-ranked
    // daily frame, exact integer rationals micro/ppm-quantized
    QuerySpec("l_moments", Relational.lMoments, """
       WITH daily AS (SELECT event_type,
              date_diff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS d,
              count(*)::BIGINT AS n
            FROM events GROUP BY 1, 2),
       r AS (SELECT event_type, n, row_number() OVER (
               PARTITION BY event_type ORDER BY n, d) AS i FROM daily),
       s AS (SELECT event_type, count(*)::BIGINT AS nd,
               sum(n)::BIGINT AS s0, sum((i-1)*n)::BIGINT AS s1,
               sum((i-1)*(i-2)*n)::BIGINT AS s2
             FROM r GROUP BY 1)
       SELECT event_type, nd AS n_days,
              ((1000000 * s0) // nd)::BIGINT AS l1_micro,
              (CASE WHEN nd >= 2 THEN (1000000 * (2*s1 - (nd-1)*s0))
                 // (nd * (nd-1)) END)::BIGINT AS l2_micro,
              (CASE WHEN nd >= 2 THEN (1000000 * (2*s1 - (nd-1)*s0))
                 // ((nd-1) * s0) END)::BIGINT AS t2_ppm,
              (CASE WHEN nd >= 3 AND (2*s1 - (nd-1)*s0) != 0 THEN
                 (1000000 * (6*s2 - 6*(nd-2)*s1 + (nd-1)*(nd-2)*s0))
                 // ((nd-2) * (2*s1 - (nd-1)*s0)) END)::BIGINT AS t3_ppm
       FROM s"""),
    // r13n: Benford audit — expected ppm table interpolated from the
    // ONE Scala definition (Relational.BenfordPpm)
    QuerySpec("benford_audit", Relational.benfordAudit, s"""
       WITH e(digit, exp_ppm) AS (VALUES ${Relational.BenfordPpm
         .map { case (d, p) => s"($d, $p)" }.mkString(", ")}),
       o AS (SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                AS VARCHAR), 1, 1)::BIGINT AS digit,
              count(*)::BIGINT AS n_orders
            FROM orders GROUP BY 1),
       t AS (SELECT sum(n_orders)::BIGINT AS n FROM o)
       SELECT e.digit::BIGINT AS digit,
              coalesce(o.n_orders, 0)::BIGINT AS n_orders,
              ((1000000 * coalesce(o.n_orders, 0)) // t.n)::BIGINT AS obs_ppm,
              e.exp_ppm::BIGINT AS exp_ppm,
              (((1000000 * coalesce(o.n_orders, 0)) // t.n - e.exp_ppm)
               * ((1000000 * coalesce(o.n_orders, 0)) // t.n - e.exp_ppm)
               // e.exp_ppm)::BIGINT AS dev_nano
       FROM e LEFT JOIN o ON o.digit = e.digit CROSS JOIN t"""),
    // r13n: day-over-day active-user Jaccard on the distinct
    // (day, user) frame
    QuerySpec("jaccard_days", Relational.jaccardDays, """
       WITH du AS (SELECT DISTINCT ts::DATE AS day, user_id FROM events),
       n AS (SELECT day, count(*)::BIGINT AS nu FROM du GROUP BY 1),
       i AS (SELECT a.day AS day, count(*)::BIGINT AS n_common
             FROM du a JOIN du b ON b.user_id = a.user_id
               AND b.day = a.day + INTERVAL 1 DAY
             GROUP BY 1)
       SELECT strftime(n1.day, '%Y-%m-%d') AS day, n1.nu AS n_today,
              n2.nu AS n_next, coalesce(i.n_common, 0)::BIGINT AS n_common,
              (n1.nu + n2.nu - coalesce(i.n_common, 0))::BIGINT AS n_union,
              ((1000000 * coalesce(i.n_common, 0))
               // (n1.nu + n2.nu - coalesce(i.n_common, 0)))::BIGINT
                AS jaccard_ppm
       FROM n n1 JOIN n n2 ON n2.day = n1.day + INTERVAL 1 DAY
       LEFT JOIN i ON i.day = n1.day"""),
    // r13m: Mann-Kendall — integer sign pairs over the bounded daily
    // frame, the significance companion to theil_sen's slope
    QuerySpec("mann_kendall", Relational.mannKendall, mannKendallOracle),
    QuerySpec("mann_kendall_stream", StreamingMonitors.mannKendallStream,
      mannKendallOracle, fixture = true),
    // r13q: mergeable bitmap exact-distinct — 32-bit words, bit_or
    // cells, popcount-sum recovery
    QuerySpec("bitmap_distinct", Relational.bitmapDistinct, """
       WITH w AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
              (user_id - ((user_id % 32 + 32) % 32)) // 32 AS word,
              bit_or(1::BIGINT << CAST((user_id % 32 + 32) % 32 AS INT)) AS mask
            FROM events GROUP BY 1, 2)
       SELECT day, count(*)::BIGINT AS n_words,
              sum(bit_count(mask))::BIGINT AS n_users
       FROM w GROUP BY 1"""),
    // r13q: seasonal-naive backtest — lags over the zero-filled DENSE
    // calendar (type × day) spine, MAE micro + MASE ppm by integer div
    QuerySpec("forecast_backtest", Relational.forecastBacktest, """
       WITH daily AS (SELECT event_type,
              date_diff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS d,
              count(*)::BIGINT AS n
            FROM events GROUP BY 1, 2),
       spine AS (SELECT unnest(range(
                (SELECT min(d) FROM daily),
                (SELECT max(d) FROM daily) + 1))::BIGINT AS d),
       types AS (SELECT DISTINCT event_type FROM daily),
       filled AS (SELECT t.event_type, s.d, coalesce(dd.n, 0)::BIGINT AS n
                  FROM types t CROSS JOIN spine s
                  LEFT JOIN daily dd
                    ON dd.event_type = t.event_type AND dd.d = s.d),
       l AS (SELECT event_type, d, n,
               lag(n, 1) OVER (PARTITION BY event_type ORDER BY d) AS f1,
               lag(n, 7) OVER (PARTITION BY event_type ORDER BY d) AS f7
             FROM filled)
       SELECT event_type, count(*)::BIGINT AS n_eval,
              ((1000000 * sum(abs(n - f1))) // count(*))::BIGINT
                AS mae_naive_micro,
              ((1000000 * sum(abs(n - f7))) // count(*))::BIGINT
                AS mae_seasonal_micro,
              (CASE WHEN sum(abs(n - f1)) > 0
                    THEN (1000000 * sum(abs(n - f7))) // sum(abs(n - f1))
               END)::BIGINT AS mase_ppm
       FROM l WHERE f7 IS NOT NULL GROUP BY 1"""),
    // r13q: exact dyadic EWMA — alpha = 1/2 closed form as a trailing
    // 31-day bounded range join, one integer div at the edge
    QuerySpec("ewma_daily", Relational.ewmaDaily, """
       WITH daily AS (SELECT event_type,
              date_diff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS d,
              count(*)::BIGINT AS n
            FROM events GROUP BY 1, 2),
       j AS (SELECT a.event_type, a.d, a.n,
               (1::BIGINT << CAST(30 - (a.d - b.d) AS INT)) AS wgt,
               b.n * (1::BIGINT << CAST(30 - (a.d - b.d) AS INT)) AS contrib
             FROM daily a JOIN daily b
               ON b.event_type = a.event_type
              AND b.d <= a.d AND b.d > a.d - 31)
       SELECT event_type, d, max(n)::BIGINT AS n,
              ((1000 * sum(contrib)) // sum(wgt))::BIGINT AS ewma_milli,
              abs(1000 * max(n)
                - (1000 * sum(contrib)) // sum(wgt))::BIGINT AS spread_milli
       FROM j GROUP BY 1, 2"""),
    // r14: Kruskal–Wallis H — doubled mid-ranks off the pooled value
    // histogram (2F + c + 1, always integer), variance-identity form
    // (N-1)*SSB_rank/SST_rank = the tie-corrected H, balanced spine
    QuerySpec("kruskal_wallis", Relational.kruskalWallis, """
       WITH daily AS (SELECT event_type,
              date_diff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS d,
              count(*)::BIGINT AS n
            FROM events GROUP BY 1, 2),
       spine AS (SELECT DISTINCT d FROM daily),
       types AS (SELECT DISTINCT event_type FROM daily),
       filled AS (SELECT t.event_type, s.d, coalesce(dd.n, 0)::BIGINT AS n
                  FROM types t CROSS JOIN spine s
                  LEFT JOIN daily dd
                    ON dd.event_type = t.event_type AND dd.d = s.d),
       hist AS (SELECT n, count(*)::BIGINT AS c FROM filled GROUP BY 1),
       ranked AS (SELECT n,
              (2 * coalesce(sum(c) OVER (ORDER BY n
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + c + 1)::BIGINT AS r2 FROM hist),
       wr AS (SELECT f.event_type, f.d, r.r2
              FROM filled f JOIN ranked r USING (n)),
       g AS (SELECT event_type, count(*)::BIGINT AS n_days,
               sum(r2)::BIGINT AS rank_sum2 FROM wr GROUP BY 1),
       kd AS (SELECT count(*)::BIGINT AS k, max(n_days)::BIGINT AS dd,
                (count(*) * max(n_days))::BIGINT AS nn FROM g),
       b AS (SELECT sum((r2 - (kd.nn + 1)) * (r2 - (kd.nn + 1)))::BIGINT
               AS bsum
             FROM wr CROSS JOIN kd),
       a AS (SELECT sum((rank_sum2 - kd.dd * (kd.nn + 1))
                 * (rank_sum2 - kd.dd * (kd.nn + 1)))::BIGINT AS asum
             FROM g CROSS JOIN kd)
       SELECT g.event_type, g.n_days, g.rank_sum2,
              (CASE WHEN b.bsum > 0
                    THEN (1000 * (kd.nn - 1) * a.asum) // (kd.dd * b.bsum)
               END)::BIGINT AS h_milli
       FROM g CROSS JOIN kd CROSS JOIN b CROSS JOIN a"""),
    // r14: Friedman test — doubled mid-ranks WITHIN each day block
    // (per-cell doubled mean = k+1), variance-identity tie-corrected
    // form, balanced spine
    QuerySpec("friedman_test", Relational.friedmanTest, """
       WITH daily AS (SELECT event_type,
              date_diff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS d,
              count(*)::BIGINT AS n
            FROM events GROUP BY 1, 2),
       spine AS (SELECT DISTINCT d FROM daily),
       types AS (SELECT DISTINCT event_type FROM daily),
       filled AS (SELECT t.event_type, s.d, coalesce(dd.n, 0)::BIGINT AS n
                  FROM types t CROSS JOIN spine s
                  LEFT JOIN daily dd
                    ON dd.event_type = t.event_type AND dd.d = s.d),
       hist AS (SELECT d, n, count(*)::BIGINT AS c
                FROM filled GROUP BY 1, 2),
       ranked AS (SELECT d, n,
              (2 * coalesce(sum(c) OVER (PARTITION BY d ORDER BY n
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + c + 1)::BIGINT AS r2 FROM hist),
       wr AS (SELECT f.event_type, f.d, r.r2
              FROM filled f JOIN ranked r ON r.d = f.d AND r.n = f.n),
       g AS (SELECT event_type, count(*)::BIGINT AS n_days,
               sum(r2)::BIGINT AS rank_sum2 FROM wr GROUP BY 1),
       kd AS (SELECT count(*)::BIGINT AS k, max(n_days)::BIGINT AS dd FROM g),
       sst AS (SELECT sum((r2 - (kd.k + 1)) * (r2 - (kd.k + 1)))::BIGINT
                 AS sst
               FROM wr CROSS JOIN kd),
       ssb AS (SELECT sum((rank_sum2 - kd.dd * (kd.k + 1))
                   * (rank_sum2 - kd.dd * (kd.k + 1)))::BIGINT AS ssb
               FROM g CROSS JOIN kd)
       SELECT g.event_type, g.n_days, g.rank_sum2,
              (CASE WHEN sst.sst > 0
                    THEN (1000 * (kd.k - 1) * ssb.ssb) // sst.sst
               END)::BIGINT AS chi2_milli
       FROM g CROSS JOIN kd CROSS JOIN sst CROSS JOIN ssb"""),
    // r13t: balanced one-way ANOVA — the zero-filled spine equalizes
    // group sizes, making F one exact integer ratio
    QuerySpec("anova_types", Relational.anovaTypes, """
       WITH daily AS (SELECT event_type,
              date_diff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS d,
              count(*)::BIGINT AS n
            FROM events GROUP BY 1, 2),
       spine AS (SELECT DISTINCT d FROM daily),
       types AS (SELECT DISTINCT event_type FROM daily),
       filled AS (SELECT t.event_type, s.d, coalesce(dd.n, 0)::BIGINT AS n
                  FROM types t CROSS JOIN spine s
                  LEFT JOIN daily dd
                    ON dd.event_type = t.event_type AND dd.d = s.d),
       g AS (SELECT event_type, count(*)::BIGINT AS dd,
               sum(n)::BIGINT AS sg, sum(n * n)::BIGINT AS qg
             FROM filled GROUP BY 1),
       agg AS (SELECT count(*)::BIGINT AS k, max(dd)::BIGINT AS d,
                 sum(sg)::BIGINT AS s, sum(sg * sg)::BIGINT AS ssg2,
                 sum(dd * qg - sg * sg)::BIGINT AS b FROM g),
       f AS (SELECT k, d, (k * d)::BIGINT AS n,
               (k * ssg2 - s * s)::BIGINT AS a, b FROM agg)
       SELECT k, d, n, a, b,
              (CASE WHEN b > 0 AND k > 1 THEN
                 (1000::HUGEINT * a * (n - k))
                   // (k::HUGEINT * (k - 1) * b) END)::BIGINT AS f_milli
       FROM f"""),
    // r13t: Kendall tau-b — exact pair counts, IEEE-pinned ratio
    QuerySpec("kendall_tau", Relational.kendallTau, """
       WITH daily AS (SELECT event_type,
              date_diff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS d,
              count(*)::BIGINT AS n
            FROM events GROUP BY 1, 2),
       p AS (SELECT a.event_type,
               CASE WHEN b.n > a.n THEN 1 WHEN b.n < a.n THEN -1
                    ELSE 0 END AS sgn
             FROM daily a JOIN daily b
               ON b.event_type = a.event_type AND b.d > a.d),
       m AS (SELECT event_type, count(*)::BIGINT AS n0,
               (count(*) FILTER (sgn = 1))::BIGINT AS n_c,
               (count(*) FILTER (sgn = -1))::BIGINT AS n_d,
               (count(*) FILTER (sgn = 0))::BIGINT AS n_tied
             FROM p GROUP BY 1)
       SELECT event_type, n0, n_c, n_d, n_tied,
              (CASE WHEN n0 > n_tied THEN
                 floor(1000 * (n_c - n_d)::DOUBLE
                   / sqrt(n0::DOUBLE * (n0 - n_tied)::DOUBLE))
               END)::BIGINT AS tau_milli
       FROM m"""),
    // r13r: lagged view→purchase cross-correlation — exact BIGINT
    // moments on the zero-filled spine, IEEE-pinned final ratio
    QuerySpec("xcorr_daily", Relational.xcorrDaily, """
       WITH daily AS (SELECT event_type,
              date_diff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS d,
              count(*)::BIGINT AS n
            FROM events WHERE event_type IN ('view', 'purchase')
            GROUP BY 1, 2),
       spine AS (SELECT DISTINCT d FROM daily),
       x AS (SELECT s.d, coalesce(dd.n, 0)::BIGINT AS x FROM spine s
             LEFT JOIN daily dd ON dd.d = s.d AND dd.event_type = 'view'),
       y AS (SELECT s.d AS dy, coalesce(dd.n, 0)::BIGINT AS y FROM spine s
             LEFT JOIN daily dd
               ON dd.d = s.d AND dd.event_type = 'purchase'),
       l AS (SELECT unnest(range(-3, 4))::BIGINT AS lag),
       m AS (SELECT l.lag, count(*)::BIGINT AS n_days,
               sum(x.x)::BIGINT AS sx, sum(y.y)::BIGINT AS sy,
               sum(x.x * x.x)::BIGINT AS sxx, sum(y.y * y.y)::BIGINT AS syy,
               sum(x.x * y.y)::BIGINT AS sxy
             FROM x CROSS JOIN l JOIN y ON x.d + l.lag = y.dy
             GROUP BY 1),
       r AS (SELECT lag, n_days,
               (n_days * sxy - sx * sy)::BIGINT AS num,
               (n_days * sxx - sx * sx)::BIGINT AS denx,
               (n_days * syy - sy * sy)::BIGINT AS deny FROM m)
       SELECT lag, n_days,
              (CASE WHEN denx > 0 AND deny > 0 THEN
                 floor(1000 * num::DOUBLE
                   / sqrt(denx::DOUBLE * deny::DOUBLE))
               ELSE 0 END)::BIGINT AS r_milli
       FROM r"""),
    // r13m: equi-depth histogram — value-granular bucket assignment
    // over the domain-bounded whole-dollar histogram
    QuerySpec("equi_depth_hist", Relational.equiDepthHist, """
       WITH h AS (SELECT CAST(floor(o_totalprice) AS BIGINT) AS dollar,
                    count(*)::BIGINT AS c
                  FROM orders GROUP BY 1),
       cum AS (SELECT dollar, c,
                 (sum(c) OVER (ORDER BY dollar))::BIGINT AS cm,
                 (SELECT sum(c) FROM h)::BIGINT AS n FROM h),
       b AS (SELECT ((cm - 1)*16) // n + 1 AS bucket, dollar, c FROM cum)
       SELECT bucket::BIGINT AS bucket, sum(c)::BIGINT AS n_rows,
              min(dollar) AS lo_dollar, max(dollar) AS hi_dollar,
              count(*)::BIGINT AS n_distinct
       FROM b GROUP BY 1"""),
    // r13k: CUSUM — micro-quantized mean, exact BIGINT running sum,
    // deterministic (|S| DESC, day) peak rank
    QuerySpec("cusum_days", Relational.cusumDays, cusumDaysOracle),
    QuerySpec("cusum_days_stream", StreamingMonitors.cusumDaysStream, cusumDaysOracle,
      fixture = true),
    QuerySpec("sessionize", RefOps.sessionize, sessionizeOracle),
    QuerySpec("q1_pricing", Relational.q1PricingSummary,
      """SELECT l_returnflag, l_linestatus,
                round(sum(l_quantity), 2) AS sum_qty,
                round(sum(l_extendedprice), 2) AS sum_base_price,
                round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                round(avg(l_quantity), 2) AS avg_qty,
                count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
         GROUP BY 1, 2 ORDER BY 1, 2"""),
    QuerySpec("q3_shipping", Relational.q3ShippingPriority,
      """SELECT l_orderkey,
                strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                o_orderpriority,
                round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM customer, orders, lineitem
         WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
           AND l_orderkey = o_orderkey
           AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
           AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
         GROUP BY 1, 2, 3 ORDER BY revenue DESC, l_orderkey LIMIT 10"""),
    QuerySpec("q5_local_supplier", Relational.q5LocalSupplier,
      """SELECT n_name,
                round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM customer, orders, lineitem, supplier, nation, region
         WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
           AND r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY 1 ORDER BY revenue DESC, n_name"""),
    QuerySpec("window_top_customers", Relational.windowTopCustomers,
      """SELECT c_nationkey, rk, c_custkey, round(c_acctbal, 2) AS acctbal
         FROM (SELECT c_nationkey, c_custkey, c_acctbal,
                      row_number() OVER (PARTITION BY c_nationkey
                        ORDER BY c_acctbal DESC, c_custkey) AS rk
               FROM customer) WHERE rk <= 3"""),
    QuerySpec("anti_join_no_orders", Relational.customersWithoutOrders,
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)"""),
    QuerySpec("semi_join_big_parts", Relational.partsWithBigShipments,
      """SELECT p_partkey, p_brand FROM part
         WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)"""),
    QuerySpec("distinct_agg", Relational.distinctAgg,
      """SELECT l_returnflag,
                count(DISTINCT l_suppkey) AS n_suppliers,
                count(DISTINCT l_partkey) AS n_parts,
                count(*) AS n_rows
         FROM lineitem GROUP BY 1"""),
    QuerySpec("rollup_orders", Relational.rollupOrders,
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                round(sum(o_totalprice), 2) AS total
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)"""),
    QuerySpec("customer_order_stats", Relational.customerOrderStats,
      """SELECT c_custkey, c_mktsegment, n_orders, spend
         FROM (SELECT o_custkey, count(*) AS n_orders,
                      round(sum(o_totalprice), 2) AS spend
               FROM orders GROUP BY 1) o
         JOIN customer ON o_custkey = c_custkey"""),
    QuerySpec("pivot_events", Relational.pivotEvents,
      """SELECT user_id,
                count(*) FILTER (event_type = 'click') AS click,
                count(*) FILTER (event_type = 'view') AS view,
                count(*) FILTER (event_type = 'purchase') AS purchase,
                count(*) FILTER (event_type = 'signup') AS signup,
                count(*) FILTER (event_type = 'error') AS error
         FROM events GROUP BY user_id"""),
    QuerySpec("funnel", Relational.funnel,
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tu FROM events),
         v AS (SELECT user_id, min(tu) AS vt FROM e WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT e.user_id, min(tu) AS ct FROM e JOIN v USING (user_id)
               WHERE event_type = 'click' AND tu > vt
                 AND tu <= vt + 86400000000 GROUP BY 1),
         p AS (SELECT e.user_id, min(tu) AS pt FROM e JOIN c USING (user_id)
               WHERE event_type = 'purchase' AND tu > ct
                 AND tu <= ct + 86400000000 GROUP BY 1)
         SELECT v.user_id, vt, ct, pt,
                (1 + (ct IS NOT NULL)::INT + (pt IS NOT NULL)::INT) AS stage
         FROM v LEFT JOIN c ON c.user_id = v.user_id
         LEFT JOIN p ON p.user_id = v.user_id"""),
    QuerySpec("retention_cohorts", Relational.retentionCohorts,
      """WITH f AS (SELECT user_id, min(date_trunc('day', ts)) AS d0
                    FROM events GROUP BY 1),
         a AS (SELECT DISTINCT e.user_id, strftime(f.d0, '%Y-%m-%d') AS cohort,
                 ((epoch_us(date_trunc('day', e.ts)) - epoch_us(f.d0))
                   // 604800000000)::INT AS wk
               FROM events e JOIN f ON f.user_id = e.user_id)
         SELECT cohort, wk, count(*) AS n_users FROM a GROUP BY 1, 2"""),
    QuerySpec("gap_fill", Relational.gapFill,
      """WITH d AS (SELECT date_trunc('day', ts) AS d, count(*) AS n_events
                    FROM events GROUP BY 1),
         sp AS (SELECT unnest(generate_series(min(d), max(d),
                  INTERVAL 1 DAY)) AS d FROM d),
         j AS (SELECT sp.d, coalesce(n_events, 0)::BIGINT AS n_events
               FROM sp LEFT JOIN d USING (d))
         SELECT strftime(d, '%Y-%m-%d') AS day, n_events,
                last_value(CASE WHEN n_events > 0 THEN n_events END
                           IGNORE NULLS)
                  OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS n_locf
         FROM j"""),
    QuerySpec("islands_coverage", Relational.islandsCoverage,
      """WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS tu FROM events),
         f AS (SELECT user_id, event_id, tu,
                 CASE WHEN lag(tu) OVER w IS NULL
                        OR tu - lag(tu) OVER w > 1800000000
                      THEN 1 ELSE 0 END AS fresh
               FROM o WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)),
         i AS (SELECT user_id, tu,
                 sum(fresh) OVER (PARTITION BY user_id ORDER BY tu, event_id
                                  ROWS UNBOUNDED PRECEDING) AS island
               FROM f),
         g AS (SELECT user_id, island, min(tu) AS t0, max(tu) AS t1,
                 count(*) AS n
               FROM i GROUP BY 1, 2)
         SELECT user_id, count(*)::BIGINT AS n_islands,
                sum(t1 - t0)::BIGINT AS covered_us,
                sum(n)::BIGINT AS n_events
         FROM g GROUP BY 1"""),
    QuerySpec("cube_events", Relational.cubeEvents,
      """SELECT event_type, day,
                grouping(event_type)::BIGINT AS g_type,
                grouping(day)::BIGINT AS g_day,
                count(*) AS n, round(sum(value), 2) AS total
         FROM (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, value
               FROM events)
         GROUP BY CUBE (event_type, day)"""),
    QuerySpec("set_ops_parts", Relational.setOpsParts,
      """WITH bulk AS (SELECT DISTINCT l_partkey FROM lineitem
                       WHERE l_quantity > 45),
         disc AS (SELECT DISTINCT l_partkey FROM lineitem
                  WHERE l_discount > 0.08)
         SELECT l_partkey, 'bulk_and_discounted' AS tag
         FROM (SELECT l_partkey FROM bulk INTERSECT SELECT l_partkey FROM disc)
         UNION ALL
         SELECT l_partkey, 'bulk_only' AS tag
         FROM (SELECT l_partkey FROM bulk EXCEPT SELECT l_partkey FROM disc)"""),
    QuerySpec("rolling_revenue_range", Relational.rollingRevenueRange,
      """WITH o AS (SELECT o_custkey, o_orderkey,
                 epoch_us(o_orderdate) // 86400000000 AS day,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders)
         SELECT o_custkey, o_orderkey, day, cents,
                sum(cents) OVER (PARTITION BY o_custkey ORDER BY day
                                 RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
                  ::BIGINT AS rev30_cents
         FROM o"""),
    QuerySpec("props_stats", Relational.propsStats,
      """SELECT event_type,
                count(k) AS n,
                count(DISTINCT k) AS n_distinct_k,
                sum(k)::BIGINT AS sum_k,
                min(k)::BIGINT AS min_k, max(k)::BIGINT AS max_k
         FROM (SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
               FROM events)
         GROUP BY 1"""),
    QuerySpec("percentiles_by_type", Relational.percentilesByType,
      """WITH r AS (SELECT event_type, value,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY value, event_id) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS n
               FROM events)
         SELECT event_type, max(n)::BIGINT AS n,
                max(CASE WHEN rn = (n + 1) // 2 THEN value END) AS p50,
                max(CASE WHEN rn = (19 * n + 19) // 20 THEN value END) AS p95
         FROM r GROUP BY 1"""),
    QuerySpec("corpus_drift", DataOps.corpusDrift,
      """WITH t AS (SELECT lang, least(n_chars // 256, 15) AS len_bucket,
                      (CAST(substr(source, 4) AS INT) < 10)::BIGINT AS in_a
                    FROM documents),
         cells AS (SELECT lang, len_bucket, sum(in_a)::BIGINT AS n_a,
                     sum(1 - in_a)::BIGINT AS n_b
                   FROM t GROUP BY 1, 2),
         tot AS (SELECT sum(n_a)::BIGINT AS tot_a, sum(n_b)::BIGINT AS tot_b
                 FROM cells)
         SELECT lang, len_bucket, n_a, n_b,
                abs((1000 * n_a) // nullif(tot_a, 0)
                    - (1000 * n_b) // nullif(tot_b, 0))::BIGINT
                  AS drift_milli
         FROM cells, tot"""),
    QuerySpec("corpus_manifest", DataOps.corpusManifest,
      """WITH h AS (SELECT lang, md5(text) AS h,
                      substr(md5(text), 1, 2) AS bucket
                    FROM documents),
         l1 AS (SELECT lang, bucket, count(*)::BIGINT AS n,
                  md5(string_agg(h, '' ORDER BY h)) AS bh
                FROM h GROUP BY 1, 2)
         SELECT lang, sum(n)::BIGINT AS n_docs,
                count(*)::BIGINT AS n_buckets,
                md5(string_agg(bh, '' ORDER BY bucket)) AS content_hash
         FROM l1 GROUP BY 1"""),
    QuerySpec("k_anonymity", DataOps.kAnonymity,
      """SELECT lang, source, n_chars // 256 AS len_bucket,
                count(*)::BIGINT AS n, count(*) < 5 AS at_risk
         FROM documents GROUP BY 1, 2, 3"""),
    QuerySpec("edit_distance_block", DataOps.editDistanceBlock,
      """WITH d AS (SELECT doc_id, lang, substr(text, 1, 80) AS p,
                      len(substr(text, 1, 80))::BIGINT AS l
                    FROM documents),
         a AS (SELECT lang, doc_id AS a_id, p AS a_p, l AS a_l,
                 l // 4 AS bk FROM d),
         b AS (SELECT lang, doc_id AS b_id, p AS b_p, l AS b_l,
                 unnest([l // 4 - 1, l // 4, l // 4 + 1]) AS bk FROM d)
         SELECT a_id, b_id, levenshtein(a_p, b_p)::BIGINT AS dist
         FROM a JOIN b USING (lang, bk)
         WHERE a_id < b_id AND abs(a_l - b_l) <= 2
           AND levenshtein(a_p, b_p) <= 2"""),
    QuerySpec("value_outliers", Relational.valueOutliers,
      """SELECT event_id, event_type, value, rn FROM (
           SELECT event_id, event_type, value,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY value DESC, event_id) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS n
           FROM events)
         WHERE rn <= (n + 99) // 100"""),
    QuerySpec("daily_active", Relational.dailyActive,
      """WITH f AS (SELECT user_id, min(date_trunc('day', ts)) AS d0
                    FROM events GROUP BY 1),
         d AS (SELECT strftime(d0, '%Y-%m-%d') AS day, count(*) AS new_users
               FROM f GROUP BY 1)
         SELECT day, new_users,
                (sum(new_users) OVER (ORDER BY day
                   ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_users
         FROM d"""),
    QuerySpec("concurrency_peak", Relational.concurrencyPeak,
      """WITH pts AS (
           SELECT event_id, ts AS tt, 1::BIGINT AS delta FROM events
           UNION ALL
           SELECT event_id, ts + INTERVAL 30 MINUTE AS tt, -1::BIGINT AS delta
           FROM events),
         pd AS (SELECT event_id, tt, delta,
                  strftime(date_trunc('day', tt), '%Y-%m-%d') AS day
                FROM pts),
         b AS (SELECT day, sum(delta) AS dsum FROM pd GROUP BY 1),
         bb AS (SELECT day,
                  coalesce(sum(dsum) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    ::BIGINT AS base
                FROM b),
         r AS (SELECT pd.day,
                 bb.base + sum(pd.delta) OVER (PARTITION BY pd.day
                   ORDER BY pd.tt, pd.delta, pd.event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS running
               FROM pd JOIN bb USING (day))
         SELECT day, max(running)::BIGINT AS peak_concurrent
         FROM r GROUP BY day"""),
    QuerySpec("attribution_last_touch", Relational.attributionLastTouch, attributionOracle),
    QuerySpec("scd2_intervals", Relational.scd2Intervals,
      """WITH m AS (
           SELECT user_id, event_id, ts, event_type,
                  lag(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS prev
           FROM events),
         g AS (SELECT user_id, ts, event_type,
                 sum(CASE WHEN prev IS NULL OR prev <> event_type
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS grp
               FROM m),
         runs AS (SELECT user_id, grp, event_type, min(ts) AS t0,
                         count(*)::BIGINT AS n_events
                  FROM g GROUP BY 1, 2, 3),
         iv AS (SELECT user_id, event_type, t0, n_events,
                  lead(t0) OVER (PARTITION BY user_id ORDER BY grp) AS t_next
                FROM runs)
         SELECT user_id, event_type,
                strftime(t0, '%Y-%m-%d %H:%M:%S') AS valid_from_s,
                strftime(t_next, '%Y-%m-%d %H:%M:%S') AS valid_to_s,
                n_events, t_next IS NULL AS is_current
         FROM iv"""),
    QuerySpec("key_skew", Relational.keySkew,
      """SELECT user_id, count(*) AS n_rows,
                ((1000 * count(*)) // (SELECT count(*) FROM events))::BIGINT
                  AS share_milli
         FROM events GROUP BY 1
         ORDER BY n_rows DESC, user_id LIMIT 10"""),
    // Hop windows of size 2×slide: event at µs `tu` falls in starts
    // (tu div slide - k)·slide for k in {0, 1} — the same alignment
    // (multiples of the slide from the epoch) Spark's window() uses.
    QuerySpec("window_hopping", Relational.windowHopping,
      """WITH e AS (SELECT epoch_us(ts)::BIGINT AS tu, event_type, user_id
                    FROM events),
         k AS (SELECT unnest([0, 1]) AS k),
         w AS (SELECT ((tu // 1800000000 - k.k) * 1800000000)::BIGINT AS ws,
                      event_type, user_id
               FROM e, k)
         SELECT strftime(make_timestamp(ws), '%Y-%m-%d %H:%M:%S') AS window_start,
                event_type, count(*)::BIGINT AS n_events,
                count(DISTINCT user_id)::BIGINT AS n_users
         FROM w GROUP BY 1, 2"""),
    // Each user-day serves report days day..day+6; only observed days
    // are reported (join with the day table).
    QuerySpec("rolling_active_7d", Relational.rollingActive,
      """WITH du AS (SELECT DISTINCT date_trunc('day', ts)::DATE AS day, user_id
                     FROM events),
         days AS (SELECT DISTINCT day FROM du),
         ex AS (SELECT (du.day + k.k)::DATE AS day, du.user_id
                FROM du CROSS JOIN (SELECT unnest(range(0, 7))::INT AS k) k),
         r AS (SELECT ex.day, count(DISTINCT ex.user_id)::BIGINT AS n_users_7d
               FROM ex JOIN days USING (day) GROUP BY 1),
         d1 AS (SELECT day, count(DISTINCT user_id)::BIGINT AS n_users_1d
                FROM du GROUP BY 1)
         SELECT strftime(r.day, '%Y-%m-%d') AS day, d1.n_users_1d, r.n_users_7d
         FROM r JOIN d1 USING (day)"""),
    // Sequence order is (event-time µs, event_id) so same-µs ties are
    // deterministic in both engines.
    QuerySpec("event_transitions", Relational.eventTransitions,
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts)::BIGINT AS tu,
                           event_id
                    FROM events),
         s AS (SELECT user_id, event_type,
                 lead(event_type) OVER (PARTITION BY user_id
                                        ORDER BY tu, event_id) AS next_type
               FROM e),
         g AS (SELECT event_type AS prev_type, next_type,
                 count(*)::BIGINT AS n_transitions
               FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2)
         SELECT prev_type, next_type, n_transitions,
                ((1000 * n_transitions) //
                 (sum(n_transitions) OVER (PARTITION BY prev_type)))::BIGINT
                  AS p_milli
         FROM g"""),
    QuerySpec("event_trigrams", Relational.eventTrigrams,
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts)::BIGINT AS tu,
                           event_id
                    FROM events),
         s AS (SELECT user_id, event_type AS e1,
                 lead(event_type, 1) OVER (PARTITION BY user_id
                                           ORDER BY tu, event_id) AS e2,
                 lead(event_type, 2) OVER (PARTITION BY user_id
                                           ORDER BY tu, event_id) AS e3
               FROM e),
         g AS (SELECT e1, e2, e3, count(*)::BIGINT AS n_paths
               FROM s WHERE e3 IS NOT NULL GROUP BY 1, 2, 3)
         SELECT e1, e2, e3, n_paths,
                ((1000 * n_paths) //
                 (sum(n_paths) OVER (PARTITION BY e1, e2)))::BIGINT
                  AS p_milli
         FROM g"""),
    QuerySpec("part_best_supplier", Relational.partBestSupplier,
      """WITH li AS (SELECT l_partkey, l_suppkey, l_orderkey,
                       round(l_extendedprice * 100)::BIGINT AS cents
                     FROM lineitem),
         b AS (SELECT l_partkey, cents AS best_cents,
                 l_suppkey AS best_suppkey
               FROM (SELECT *, row_number() OVER (PARTITION BY l_partkey
                       ORDER BY cents, l_suppkey, l_orderkey) AS rn
                     FROM li)
               WHERE rn = 1)
         SELECT p.p_partkey, p.p_name, b.best_cents, s.s_name, n.n_name
         FROM b JOIN part p ON p.p_partkey = b.l_partkey
         JOIN supplier s ON s.s_suppkey = b.best_suppkey
         JOIN nation n ON n.n_nationkey = s.s_nationkey"""),
    QuerySpec("q18_large_orders", Relational.q18LargeOrders,
      """WITH tq AS (SELECT l_orderkey, sum(l_quantity)::BIGINT AS total_qty
                     FROM lineitem GROUP BY 1
                     HAVING sum(l_quantity) > 300)
         SELECT c_custkey, c_name, o_orderkey, total_qty
         FROM tq JOIN orders ON o_orderkey = l_orderkey
         JOIN customer ON c_custkey = o_custkey"""),
    QuerySpec("q4_priority_late", Relational.q4PriorityLate,
      """WITH ls AS (SELECT l_orderkey, max(l_shipdate) AS last_ship
                     FROM lineitem GROUP BY 1)
         SELECT o_orderpriority, count(*)::BIGINT AS n_late
         FROM orders JOIN ls ON l_orderkey = o_orderkey
         WHERE last_ship > o_orderdate + INTERVAL 60 DAY
         GROUP BY 1"""),
    QuerySpec("q14_promo_share", Relational.q14PromoShare,
      """SELECT strftime(l_shipdate, '%Y-%m') AS month,
                sum(CASE WHEN p_type = 'PROMO'
                      THEN round(l_extendedprice * (1 - l_discount) * 100)::BIGINT
                      ELSE 0 END)::BIGINT AS promo_cents,
                sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT)
                  ::BIGINT AS total_cents,
                count(*)::BIGINT AS n_lines
         FROM lineitem JOIN part ON p_partkey = l_partkey
         GROUP BY 1"""),
    QuerySpec("q19_bracket_revenue", Relational.q19BracketRevenue,
      """SELECT count(*)::BIGINT AS n_lines,
                sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT)
                  ::BIGINT AS revenue_cents
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 1 AND 20)
            OR (p_brand = 'Brand#20' AND p_size BETWEEN 5 AND 30
                AND l_quantity BETWEEN 10 AND 35)
            OR (p_brand = 'Brand#25' AND p_size BETWEEN 15 AND 50
                AND l_quantity BETWEEN 25 AND 50)"""),
    QuerySpec("q22_idle_balances", Relational.q22IdleBalances,
      """WITH c AS (SELECT c_custkey, c_nationkey::BIGINT AS nationkey,
                      round(c_acctbal * 100)::BIGINT AS cents FROM customer),
         thr AS (SELECT avg(cents) AS thr FROM c WHERE cents > 0)
         SELECT nationkey, count(*)::BIGINT AS n_custs,
                sum(cents)::BIGINT AS total_cents
         FROM c, thr
         WHERE cents > thr AND NOT EXISTS (
           SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
             AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
         GROUP BY 1"""),
    QuerySpec("q6_forecast_revenue", Relational.q6ForecastRevenue,
      """SELECT count(*)::BIGINT AS n_lines,
                sum(round(l_extendedprice * l_discount * 100)::BIGINT)
                  ::BIGINT AS revenue_cents
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
           AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""),
    QuerySpec("q12_service_by_delay", Relational.q12ServiceByDelay,
      """SELECT least(greatest(date_diff('day', o_orderdate::DATE,
                  l_shipdate::DATE), 0) // 30, 6)::BIGINT AS delay_bucket,
                sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 ELSE 0 END)::BIGINT AS high_lines,
                sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 0 ELSE 1 END)::BIGINT AS low_lines
         FROM lineitem JOIN orders ON o_orderkey = l_orderkey
         GROUP BY 1"""),
    QuerySpec("q13_customer_distribution", Relational.q13CustomerDistribution,
      """WITH per AS (SELECT c_custkey, count(o_orderkey)::BIGINT AS n_orders
                      FROM customer LEFT JOIN (
                        SELECT o_custkey, o_orderkey FROM orders
                        WHERE o_orderpriority <> '4-NOT SPECIFIED') o
                        ON o.o_custkey = c_custkey
                      GROUP BY 1)
         SELECT n_orders, count(*)::BIGINT AS n_custs FROM per GROUP BY 1"""),
    QuerySpec("q15_top_supplier", Relational.q15TopSupplier,
      """WITH rev AS (SELECT l_suppkey,
                        sum(round(l_extendedprice * (1 - l_discount) * 100)
                          ::BIGINT)::BIGINT AS revenue_cents
                      FROM lineitem
                      WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
                        AND l_shipdate < TIMESTAMP '1998-04-01 00:00:00'
                      GROUP BY 1)
         SELECT s_suppkey, s_name, revenue_cents
         FROM rev JOIN supplier ON s_suppkey = l_suppkey
         WHERE revenue_cents = (SELECT max(revenue_cents) FROM rev)"""),
    QuerySpec("q16_part_supplier_counts", Relational.q16PartSupplierCounts,
      """WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
                        WHERE l_suppkey NOT IN (
                          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
         SELECT p_brand, p_type, p_size,
                count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
         FROM pairs JOIN part ON p_partkey = l_partkey
         WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
         GROUP BY 1, 2, 3"""),
    QuerySpec("q8_market_share", Relational.q8MarketShare,
      """WITH ac AS (SELECT c_custkey FROM customer
                     JOIN nation ON n_nationkey = c_nationkey
                     JOIN region ON r_regionkey = n_regionkey
                     WHERE r_name = 'ASIA'),
         sf AS (SELECT s_suppkey, (n_name = 'NATION_5') AS is_n5
                FROM supplier JOIN nation ON n_nationkey = s_nationkey)
         SELECT year(o_orderdate)::BIGINT AS o_year,
                sum(CASE WHEN is_n5 THEN
                      round(l_extendedprice * (1 - l_discount) * 100)::BIGINT
                      ELSE 0 END)::BIGINT AS nation_cents,
                sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT)
                  ::BIGINT AS total_cents,
                count(*)::BIGINT AS n_lines
         FROM lineitem
         JOIN part ON p_partkey = l_partkey AND p_type = 'STANDARD'
         JOIN orders ON o_orderkey = l_orderkey
         JOIN ac ON c_custkey = o_custkey
         JOIN sf ON s_suppkey = l_suppkey
         GROUP BY 1"""),
    QuerySpec("q9_product_profit", Relational.q9ProductProfit,
      """SELECT n_name, year(o_orderdate)::BIGINT AS o_year,
                sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT
                    - l_quantity::BIGINT * round(p_retailprice * 100)::BIGINT)
                  ::BIGINT AS profit_cents
         FROM lineitem
         JOIN part ON p_partkey = l_partkey AND p_name LIKE '%red%'
         JOIN supplier ON s_suppkey = l_suppkey
         JOIN nation ON n_nationkey = s_nationkey
         JOIN orders ON o_orderkey = l_orderkey
         GROUP BY 1, 2"""),
    QuerySpec("q11_important_parts", Relational.q11ImportantParts,
      """WITH v AS (SELECT l_partkey, sum(round(l_extendedprice * 100)::BIGINT)
                      ::BIGINT AS value_cents
                    FROM lineitem
                    JOIN supplier ON s_suppkey = l_suppkey
                    JOIN nation ON n_nationkey = s_nationkey
                      AND n_name = 'NATION_7'
                    GROUP BY 1)
         SELECT l_partkey, value_cents FROM v
         WHERE value_cents * (SELECT count(*) FROM v)
               > 2 * (SELECT sum(value_cents) FROM v)"""),
    QuerySpec("q20_excess_suppliers", Relational.q20ExcessSuppliers,
      """WITH pl AS (SELECT l_partkey, l_suppkey, l_quantity::BIGINT AS q
                     FROM lineitem
                     JOIN part ON p_partkey = l_partkey AND p_type = 'PROMO'
                     WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'),
         ps AS (SELECT l_partkey, l_suppkey, sum(q)::BIGINT AS supp_q
                FROM pl GROUP BY 1, 2),
         pt AS (SELECT l_partkey AS pk, sum(q)::BIGINT AS part_q
                FROM pl GROUP BY 1),
         w AS (SELECT DISTINCT l_suppkey FROM ps JOIN pt ON l_partkey = pk
               WHERE supp_q * 4 > part_q)
         SELECT s_suppkey, s_name, n_name
         FROM w JOIN supplier ON s_suppkey = l_suppkey
         JOIN nation ON n_nationkey = s_nationkey"""),
    QuerySpec("q21_waiting_suppliers", Relational.q21WaitingSuppliers,
      """WITH pos AS (SELECT l_orderkey, l_suppkey, max(l_shipdate) AS ms
                      FROM lineitem
                      JOIN orders ON o_orderkey = l_orderkey
                        AND o_orderstatus = 'F'
                      GROUP BY 1, 2),
         po AS (SELECT l_orderkey AS ok, max(ms) AS m1,
                  count(*)::BIGINT AS n_supps
                FROM pos GROUP BY 1),
         ls AS (SELECT l_orderkey, l_suppkey FROM pos JOIN po ON
                  l_orderkey = ok AND ms = m1
                WHERE n_supps >= 2),
         u AS (SELECT l_orderkey, count(*)::BIGINT AS n_at_max,
                 min(l_suppkey) AS supp
               FROM ls GROUP BY 1 HAVING count(*) = 1)
         SELECT s_suppkey, s_name, count(*)::BIGINT AS numwait
         FROM u JOIN supplier ON s_suppkey = supp
         GROUP BY 1, 2"""),
    QuerySpec("q17_small_quantity", Relational.q17SmallQuantity,
      """WITH li AS (SELECT l_partkey, l_quantity::BIGINT AS q,
                       round(l_extendedprice * 100)::BIGINT AS cents
                     FROM lineitem),
         pp AS (SELECT l_partkey AS pk, sum(q)::BIGINT AS sum_q,
                  count(*)::BIGINT AS n_q
                FROM li GROUP BY 1),
         sm AS (SELECT p_partkey FROM part WHERE p_type = 'SMALL')
         SELECT count(*)::BIGINT AS n_lines, sum(cents)::BIGINT AS total_cents
         FROM li JOIN pp ON li.l_partkey = pk JOIN sm ON p_partkey = pk
         WHERE 5 * q * n_q < sum_q"""),
    QuerySpec("weighted_median", Relational.weightedMedian,
      """WITH h AS (SELECT l_returnflag,
                      round(l_extendedprice * 100)::BIGINT AS cents,
                      sum(l_quantity)::BIGINT AS w
                    FROM lineitem GROUP BY 1, 2),
         c AS (SELECT l_returnflag, cents, w,
                 sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents) AS cum,
                 sum(w) OVER (PARTITION BY l_returnflag) AS tw
               FROM h)
         SELECT l_returnflag, min(cents)::BIGINT AS median_cents,
                max(tw)::BIGINT AS total_weight
         FROM c WHERE 2 * cum >= tw GROUP BY 1"""),
    // Oracle ranks globally; the Spark plan's bucketed rank equals it
    // because the buckets are monotone in the ranked value.
    QuerySpec("rfm_segments", Relational.rfmSegments,
      """WITH per AS (SELECT o_custkey AS c_custkey,
               date_diff('day', DATE '1995-01-01', max(o_orderdate)::DATE)
                 ::BIGINT AS r_days,
               count(*)::BIGINT AS f_orders,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS m_cents
             FROM orders GROUP BY 1),
         n AS (SELECT count(*)::BIGINT AS n_custs FROM per),
         rk AS (SELECT c_custkey,
                 row_number() OVER (ORDER BY r_days, c_custkey) AS r_rank,
                 row_number() OVER (ORDER BY f_orders, c_custkey) AS f_rank,
                 row_number() OVER (ORDER BY m_cents, c_custkey) AS m_rank
                FROM per),
         sc AS (SELECT c_custkey,
                 ((4 * (r_rank - 1)) // n_custs + 1)::BIGINT AS r_score,
                 ((4 * (f_rank - 1)) // n_custs + 1)::BIGINT AS f_score,
                 ((4 * (m_rank - 1)) // n_custs + 1)::BIGINT AS m_score
                FROM rk, n)
         SELECT c_custkey, r_score, f_score, m_score,
                (r_score * 100 + f_score * 10 + m_score)::BIGINT AS rfm
         FROM sc"""),
    // The salt cancels out by construction — the oracle is the PLAIN
    // join, proving the salted rewrite is semantics-preserving.
    QuerySpec("salted_join", Relational.saltedJoinHot,
      """WITH e AS (SELECT CASE WHEN user_id % 10 < 5 THEN 0
                                ELSE user_id END AS k, event_id
                    FROM events),
         dim AS (SELECT DISTINCT k, k % 7 AS cohort FROM e)
         SELECT dim.cohort::BIGINT AS cohort, count(*)::BIGINT AS n_events,
                count(DISTINCT e.k)::BIGINT AS n_keys
         FROM e JOIN dim USING (k) GROUP BY 1"""),
    // ts distinctness counted on epoch MICROS — the table's read dialect
    // (nanos→µs) — so both engines see the same aliasing.
    QuerySpec("table_profile", Relational.tableProfile,
      """SELECT 'event_id' AS col_name, count(*)::BIGINT AS n_rows,
                (count(*) - count(event_id))::BIGINT AS n_nulls,
                count(DISTINCT event_id)::BIGINT AS n_distinct,
                min(event_id)::BIGINT AS min_id, max(event_id)::BIGINT AS max_id
         FROM events
         UNION ALL
         SELECT 'ts', count(*), count(*) - count(ts),
                count(DISTINCT epoch_us(ts)), NULL::BIGINT, NULL::BIGINT
         FROM events
         UNION ALL
         SELECT 'user_id', count(*), count(*) - count(user_id),
                count(DISTINCT user_id), min(user_id), max(user_id)
         FROM events
         UNION ALL
         SELECT 'event_type', count(*), count(*) - count(event_type),
                count(DISTINCT event_type), NULL::BIGINT, NULL::BIGINT
         FROM events
         UNION ALL
         SELECT 'value', count(*), count(*) - count(value),
                count(DISTINCT value), NULL::BIGINT, NULL::BIGINT
         FROM events
         UNION ALL
         SELECT 'props', count(*), count(*) - count(props),
                count(DISTINCT props), NULL::BIGINT, NULL::BIGINT
         FROM events"""),
    // r12: TPC-H Q7/Q10 shapes and the events-side robust statistics
    QuerySpec("q7_nation_flows", Relational.q7NationFlows,
      """WITH n AS (SELECT n_nationkey, n_name FROM nation
                    WHERE n_name IN ('NATION_1', 'NATION_2')),
         s AS (SELECT s_suppkey, n_name AS supp_nation
               FROM supplier JOIN n ON s_nationkey = n_nationkey),
         c AS (SELECT c_custkey, n_name AS cust_nation
               FROM customer JOIN n ON c_nationkey = n_nationkey)
         SELECT supp_nation, cust_nation,
                year(l_shipdate)::BIGINT AS l_year,
                sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT)
                  ::BIGINT AS revenue_cents
         FROM lineitem JOIN s ON l_suppkey = s_suppkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN c ON o_custkey = c_custkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
           AND supp_nation <> cust_nation
         GROUP BY 1, 2, 3"""),
    QuerySpec("q10_returned", Relational.q10Returned,
      """SELECT c_custkey, c_name, n_name,
                sum(round(l_extendedprice * (1 - l_discount) * 100)::BIGINT)
                  ::BIGINT AS revenue_cents
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
         GROUP BY 1, 2, 3
         ORDER BY revenue_cents DESC, c_custkey LIMIT 20"""),
    QuerySpec("trimmed_stats", Relational.trimmedStats,
      """WITH e AS (SELECT event_type, event_id,
                      round(value * 100)::BIGINT AS cents FROM events),
         r AS (SELECT *,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY cents, event_id) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS n
               FROM e)
         SELECT event_type, count(*)::BIGINT AS n_kept,
                sum(cents)::BIGINT AS sum_cents,
                (sum(cents) // count(*))::BIGINT AS mean_cents
         FROM r WHERE rn > (5 * n) // 100 AND rn <= (95 * n) // 100
         GROUP BY 1"""),
    QuerySpec("trend_slope", Relational.trendSlope,
      """WITH daily AS (
           SELECT event_type,
                  date_diff('day', DATE '1970-01-01',
                            date_trunc('day', ts))::BIGINT AS x,
                  sum(round(value * 100)::BIGINT)::BIGINT AS y
           FROM events GROUP BY 1, 2),
         m AS (SELECT event_type, count(*)::BIGINT AS n_days,
                 sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                 sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx
               FROM daily GROUP BY 1)
         SELECT event_type, n_days,
                (n_days * sxy - sx * sy)::BIGINT AS slope_num,
                (n_days * sxx - sx * sx)::BIGINT AS slope_den
         FROM m"""),
    QuerySpec("interevent_gaps", Relational.intereventGaps,
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts)::BIGINT AS tu
                    FROM events),
         g0 AS (SELECT user_id, event_id, tu,
                  lag(tu) OVER (PARTITION BY user_id
                                ORDER BY tu, event_id) AS prev
                FROM e),
         g AS (SELECT user_id, event_id, (tu - prev) // 1000000 AS gap_s
               FROM g0 WHERE prev IS NOT NULL),
         r AS (SELECT *,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY gap_s, event_id) AS rn,
                 count(*) OVER (PARTITION BY user_id) AS n
               FROM g)
         SELECT user_id, max(n)::BIGINT AS n_gaps,
                max(CASE WHEN rn = (n + 1) // 2 THEN gap_s END)::BIGINT
                  AS median_gap_s,
                max(CASE WHEN rn = (95 * n + 99) // 100 THEN gap_s END)::BIGINT
                  AS p95_gap_s,
                max(gap_s)::BIGINT AS max_gap_s
         FROM r GROUP BY 1"""),
    QuerySpec("adaptive_sessionize", Relational.adaptiveSessionize,
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts)::BIGINT AS tu
                    FROM events),
         g0 AS (SELECT user_id, event_id, tu,
                  lag(tu) OVER (PARTITION BY user_id
                                ORDER BY tu, event_id) AS prev
                FROM e),
         g AS (SELECT user_id, event_id, (tu - prev) // 1000000 AS gap_s
               FROM g0 WHERE prev IS NOT NULL),
         r AS (SELECT *,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY gap_s, event_id) AS rn,
                 count(*) OVER (PARTITION BY user_id) AS n
               FROM g),
         med AS (SELECT user_id,
                   least(greatest(
                     3 * max(CASE WHEN rn = (n + 1) // 2 THEN gap_s END),
                     60), 3600)::BIGINT AS threshold_s
                 FROM r GROUP BY 1),
         br AS (SELECT g.user_id, count(*)::BIGINT AS n_breaks
                FROM g JOIN med USING (user_id)
                WHERE g.gap_s > med.threshold_s GROUP BY 1),
         base AS (SELECT user_id, count(*)::BIGINT AS n_events
                  FROM e GROUP BY 1)
         SELECT base.user_id, base.n_events,
                coalesce(med.threshold_s, 60)::BIGINT AS threshold_s,
                (1 + coalesce(br.n_breaks, 0))::BIGINT AS n_sessions
         FROM base LEFT JOIN med USING (user_id)
         LEFT JOIN br USING (user_id)"""),
    QuerySpec("basket_affinity", Relational.basketAffinity,
      """WITH ot AS (SELECT DISTINCT l_orderkey, p_type
                     FROM lineitem JOIN part ON l_partkey = p_partkey),
         marg AS (SELECT p_type, count(*)::BIGINT AS c FROM ot GROUP BY 1),
         tot AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS n_orders FROM ot),
         pairs AS (SELECT a.p_type AS type_a, b.p_type AS type_b,
                     count(*)::BIGINT AS c_ab
                   FROM ot a JOIN ot b
                     ON a.l_orderkey = b.l_orderkey AND a.p_type < b.p_type
                   GROUP BY 1, 2)
         SELECT p.type_a, p.type_b, p.c_ab,
                ((1000 * p.c_ab * t.n_orders) // (ma.c * mb.c))::BIGINT
                  AS lift_milli
         FROM pairs p JOIN marg ma ON ma.p_type = p.type_a
         JOIN marg mb ON mb.p_type = p.type_b
         CROSS JOIN tot t"""),
    QuerySpec("conversion_latency", Relational.conversionLatency,
      s"""WITH att AS ($attributionOracle),
         l AS (SELECT touch_type, purchase_id,
                 (p_tu - touch_tu) // 1000000 AS lat_s
               FROM att WHERE attributed),
         r AS (SELECT *,
                 row_number() OVER (PARTITION BY touch_type
                                    ORDER BY lat_s, purchase_id) AS rn,
                 count(*) OVER (PARTITION BY touch_type) AS n
               FROM l)
         SELECT touch_type, max(n)::BIGINT AS n_conversions,
                max(CASE WHEN rn = (n + 1) // 2 THEN lat_s END)::BIGINT
                  AS median_lat_s,
                max(CASE WHEN rn = (95 * n + 99) // 100 THEN lat_s END)::BIGINT
                  AS p95_lat_s,
                max(lat_s)::BIGINT AS max_lat_s
         FROM r GROUP BY 1"""),
    QuerySpec("hourly_profile", Relational.hourlyProfile, hourlyProfileOracle),
    QuerySpec("hourly_profile_stream", StreamingMonitors.hourlyProfileStream,
      hourlyProfileOracle, fixture = true),
    QuerySpec("kmv_union_est", RefOps.kmvUnionEst,
      s"""WITH h AS (SELECT DISTINCT event_type, ($kmvHashSql) / 2.0^60 AS h
            FROM events),
         rk AS (SELECT event_type, h,
                  row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
                FROM h),
         surv AS (SELECT event_type, h FROM rk WHERE rn <= 32),
         tp AS (SELECT DISTINCT event_type FROM events),
         pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b
                   FROM tp a JOIN tp b ON a.event_type < b.event_type),
         mh AS (SELECT DISTINCT p.type_a, p.type_b, s.h
                FROM pairs p JOIN surv s
                  ON s.event_type IN (p.type_a, p.type_b)),
         mrk AS (SELECT type_a, type_b, h,
                   row_number() OVER (PARTITION BY type_a, type_b
                                      ORDER BY h) AS rn,
                   count(*) OVER (PARTITION BY type_a, type_b) AS cnt
                 FROM mh),
         est AS (SELECT type_a, type_b,
                   CASE WHEN cnt < 32 THEN cnt::DOUBLE
                        ELSE round(31 / h, 2) END AS est_union
                 FROM mrk WHERE rn = least(32, cnt)),
         tu AS (SELECT DISTINCT event_type, user_id FROM events),
         ct AS (SELECT event_type, count(*)::BIGINT AS c FROM tu GROUP BY 1),
         inter AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                     count(*)::BIGINT AS i
                   FROM tu a JOIN tu b ON a.user_id = b.user_id
                     AND a.event_type < b.event_type
                   GROUP BY 1, 2)
         SELECT e.type_a, e.type_b,
                (ca.c + cb.c - coalesce(i.i, 0))::BIGINT AS n_exact_union,
                e.est_union
         FROM est e JOIN ct ca ON ca.event_type = e.type_a
         JOIN ct cb ON cb.event_type = e.type_b
         LEFT JOIN inter i ON i.type_a = e.type_a AND i.type_b = e.type_b"""),
    QuerySpec("order_gaps", Relational.orderGaps,
      """WITH o AS (SELECT o_custkey, o_orderkey,
                      date_diff('day', DATE '1970-01-01',
                                date_trunc('day', o_orderdate))::BIGINT AS d
                    FROM orders),
         g0 AS (SELECT o_custkey, o_orderkey, d,
                  lag(d) OVER (PARTITION BY o_custkey
                               ORDER BY d, o_orderkey) AS prev
                FROM o),
         g AS (SELECT o_custkey, o_orderkey, d - prev AS gap_d
               FROM g0 WHERE prev IS NOT NULL),
         r AS (SELECT *,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY gap_d, o_orderkey) AS rn,
                 count(*) OVER (PARTITION BY o_custkey) AS n
               FROM g)
         SELECT o_custkey, max(n)::BIGINT AS n_gaps,
                max(CASE WHEN rn = (n + 1) // 2 THEN gap_d END)::BIGINT
                  AS median_gap_d,
                max(gap_d)::BIGINT AS max_gap_d
         FROM r GROUP BY 1"""),
    QuerySpec("grouping_sets_events", Relational.groupingSetsEvents,
      """SELECT event_type,
                strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                count(*) AS n_events
         FROM events
         GROUP BY GROUPING SETS (
           (event_type, strftime(date_trunc('day', ts), '%Y-%m-%d')),
           (event_type), ())"""),
    QuerySpec("attribution_first_touch", Relational.attributionFirstTouch,
      s"""WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS tu
            FROM events),
         t AS (SELECT user_id, event_id AS t_id, event_type AS t_type,
                 tu AS t_tu
               FROM e WHERE event_type IN ('click', 'view')),
         p AS (SELECT user_id, event_id AS purchase_id, tu AS p_tu
               FROM e WHERE event_type = 'purchase'),
         j AS (SELECT p.purchase_id, t.t_tu, t.t_id, t.t_type,
                 row_number() OVER (PARTITION BY p.purchase_id
                                    ORDER BY t.t_tu, t.t_id) AS rn
               FROM p JOIN t ON t.user_id = p.user_id
                 AND t.t_tu <= p.p_tu
                 AND p.p_tu - t.t_tu <= ${Relational.AttributionWindowUs}),
         f AS (SELECT purchase_id, t_id, t_type, t_tu FROM j WHERE rn = 1)
         SELECT p.purchase_id, p.user_id, p.p_tu,
                f.t_id AS touch_id, f.t_type AS touch_type,
                f.t_tu AS touch_tu, f.t_tu IS NOT NULL AS attributed
         FROM p LEFT JOIN f USING (purchase_id)"""),
    QuerySpec("session_stats", RefOps.sessionStats,
      s"""WITH s AS ($sessionizeOracle),
         d AS (SELECT epoch(strptime(end_s, '%Y-%m-%d %H:%M:%S'))::BIGINT
                   - epoch(strptime(start_s, '%Y-%m-%d %H:%M:%S'))::BIGINT
                   AS dur_s,
                 n_events
               FROM s),
         n AS (SELECT count(*)::BIGINT AS n_sessions FROM d),
         rd AS (SELECT dur_s,
                  row_number() OVER (ORDER BY dur_s) AS rn
                FROM d),
         re AS (SELECT n_events,
                  row_number() OVER (ORDER BY n_events) AS rn
                FROM d)
         SELECT n.n_sessions,
                (SELECT dur_s FROM rd, n
                 WHERE rn = (n_sessions + 1) // 2)::BIGINT AS median_dur_s,
                (SELECT dur_s FROM rd, n
                 WHERE rn = (95 * n_sessions + 99) // 100)::BIGINT AS p95_dur_s,
                (SELECT max(dur_s) FROM d)::BIGINT AS max_dur_s,
                (SELECT n_events FROM re, n
                 WHERE rn = (n_sessions + 1) // 2)::BIGINT AS median_events
         FROM n"""),
    QuerySpec("anomalous_days", Relational.anomalousDays, anomalousDaysOracle),
    QuerySpec("anomalous_days_stream", StreamingMonitors.anomalousDaysStream,
      anomalousDaysOracle, fixture = true),
  ) ++ DataOps.specs ++ ExtractOps.specs ++ MultimodalOps.specs)

  // The views of the registry that Bench, Verify, PlanDump and ExplainTool read.
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap
  val oracleSql: Map[String, String] = registry.map(q => q.name -> q.oracleSql).toMap
  val memoizedFixtureQueries: Set[String] = registry.filter(_.fixture).map(_.name).toSet
}
