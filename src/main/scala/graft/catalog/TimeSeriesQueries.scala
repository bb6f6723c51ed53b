package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Time-series queries ([[operators.TimeSeries]]): outliers, gap
  * filling, interval algebra, downsampling, smoothing, trend,
  * availability and SLO burn rate.
  */
object TimeSeriesQueries {

  /** Shared Theil–Sen staging (VERDICT r13 task 8): `q_theil_sen`
    * (exact, cap 4096) and `q_theil_sen_sampled` (cap 64, mod-7 pair
    * sample) fit DIFFERENT policies over the SAME per-user series —
    * the dominant cost of both is the in-series pair self-join, and
    * the sampled arm's pair set is a pure filter of the exact arm's.
    * Stage the points + pair pool once per (session, dir)
    * (checkpointed), let each query run only its
    * [[operators.TimeSeries.theilSenFit]] policy tail. Fits are
    * bit-identical to the one-shot operator (TimeSeriesSpec pins the
    * pooled-vs-direct differential), so both oracles stand unchanged.
    */
  private def theilSenStaged(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    Staged(s, "theil_sen_pool", dir) {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), unix_timestamp(col("ts")).as("x"),
          col("value"))
      val (pts, pool) = operators.TimeSeries.theilSenPairPool(
        ev, Seq("user_id"), "x", "value")
      (pts.localCheckpoint(true), pool.localCheckpoint(true))
    }

  /** LTTB replay: the B−2 middle-bucket argmax stages unrolled as
    * chained CTEs (the kcenter pattern, per key): integer-division
    * bucket map, decimal-chain bucket averages, IEEE-double triangle
    * areas against the PREVIOUS stage's pick, (area desc, index asc)
    * ties. Series with ≤ B samples pass through whole.
    */
  private def lttbOracleSql(buckets: Int): String = {
    val mid = buckets - 2
    val head =
      s"""base AS (
         | SELECT user_id AS k,
         |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS e,
         |  CAST(event_id AS BIGINT) AS tb, CAST(value AS DOUBLE) AS v
         | FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
         |  AND value IS NOT NULL),
         |items AS (
         | SELECT k, e, v,
         |  row_number() OVER (PARTITION BY k ORDER BY e, tb, v) - 1
         |    AS i,
         |  count(*) OVER (PARTITION BY k) AS n
         | FROM base),
         |big AS (SELECT * FROM items WHERE n > $buckets),
         |mb AS (
         | SELECT k, e, v, i, n,
         |  ((i - 1) * $mid) // (n - 2) AS b
         | FROM big WHERE i >= 1 AND i <= n - 2),
         |avgs AS (
         | SELECT k, b,
         |  round(CAST(sum(e) AS DOUBLE) / count(*), 6) AS xb,
         |  round(CAST(sum(CAST(round(v, 12) AS DECIMAL(38,12)))
         |    AS DOUBLE) / count(*), 6) AS yb
         | FROM mb GROUP BY 1, 2),
         |lastp AS (SELECT k, e, v FROM big WHERE i = n - 1),
         |s0 AS (SELECT k, i, e, v FROM big WHERE i = 0)""".stripMargin
    val stages = (1 to mid).map { st =>
      val b = st - 1
      val next =
        if (st == mid)
          "SELECT k, CAST(e AS DOUBLE) AS xb, v AS yb FROM lastp"
        else s"SELECT k, xb, yb FROM avgs WHERE b = $st"
      s"""s$st AS (
         | SELECT k, i, e, v FROM (
         |  SELECT m.k, m.i, m.e, m.v,
         |   row_number() OVER (PARTITION BY m.k ORDER BY
         |     abs((CAST(a.e AS DOUBLE) - nx.xb) * (m.v - a.v)
         |       - (CAST(a.e AS DOUBLE) - CAST(m.e AS DOUBLE))
         |         * (nx.yb - a.v)) DESC, m.i ASC) AS rn
         |  FROM mb m
         |  JOIN s${st - 1} a ON m.k = a.k
         |  JOIN ($next) nx ON nx.k = m.k
         |  WHERE m.b = $b) t WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val bigRows = (0 until mid + 1).map {
      case 0 => s"SELECT k, CAST(0 AS BIGINT) AS sel_rank, e, v FROM s0"
      case st => s"SELECT k, CAST($st AS BIGINT), e, v FROM s$st"
    }.mkString("\nUNION ALL ")
    s"""WITH $head,
       |$stages
       |SELECT k AS user_id, sel_rank, e AS ts_epoch, v AS value
       |FROM (
       | $bigRows
       | UNION ALL SELECT k, CAST(${buckets - 1} AS BIGINT), e, v
       |  FROM big WHERE i = n - 1
       | UNION ALL SELECT k, CAST(i AS BIGINT), e, v FROM items
       |  WHERE n <= $buckets
       |) u""".stripMargin
  }

  lazy val all: Seq[Query] = Seq(
    // per-key anomaly scoring (the monitoring domain's bread and
    // butter): z-score every event against its user's mean/stddev —
    // one grouped aggregate joined back onto the stream, flag |z|>2.
    // Moments via exact decimal sums (order-independent), then IEEE
    // double arithmetic — bit-identical across engines, so the
    // boundary membership hash-matches. No broadcast hint: stats
    // cardinality = number of active keys, unbounded at scale — AQE
    // picks broadcast while the build side fits and sort-merge after.
    Query("q_zscore_outliers", (s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .select(col("event_id"), col("user_id"), col("value"))
      val stats = ev.groupBy(col("user_id"))
        .agg(
          sum(col("value").cast("decimal(28,10)")).cast("double").as("__s1"),
          sum((col("value") * col("value")).cast("decimal(28,10)"))
            .cast("double").as("__s2"),
          count(lit(1)).cast("double").as("__n"))
        .filter(col("__n") >= 5)
      val mu = col("__s1") / col("__n")
      // clamp at 0: constant-valued groups round the moment difference
      // a few ulps NEGATIVE (s2/n exact, mu*mu not) — sqrt of that is
      // NaN here and an error in the oracle; the guard must sit on the
      // VARIANCE (NaN compares greater-than in Spark, so a sigma > 0
      // guard would pass garbage through)
      val variance = greatest(col("__s2") / col("__n") - mu * mu, lit(0.0))
      val z = (col("value") - mu) / sqrt(variance)
      ev.join(stats, Seq("user_id"))
        .filter(variance > 0 && abs(z) > 2)
        .select(col("event_id"), col("user_id"), round(z, 4).as("z"))
    }, oracle =
      // variance clamped at 0 (matching the Spark side): a constant
      // group's moment difference rounds ulps-negative and sqrt of that
      // ERRORS in DuckDB
      """WITH stats AS (
        | SELECT user_id,
        |  CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS s1,
        |  CAST(sum(CAST(value * value AS DECIMAL(28,10))) AS DOUBLE) AS s2,
        |  CAST(count(*) AS DOUBLE) AS n
        | FROM events WHERE value IS NOT NULL
        | GROUP BY user_id HAVING count(*) >= 5),
        |v AS (
        | SELECT user_id, s1 / n AS mu,
        |  greatest(s2 / n - (s1 / n) * (s1 / n), 0) AS var
        | FROM stats)
        |SELECT e.event_id, e.user_id,
        | round((e.value - v.mu) / sqrt(v.var), 4) AS z
        |FROM events e JOIN v ON e.user_id = v.user_id
        |WHERE e.value IS NOT NULL AND v.var > 0
        |  AND abs((e.value - v.mu) / sqrt(v.var)) > 2""".stripMargin),

    // seasonal-baseline anomalies — the "this hour is unusual FOR
    // THIS HOUR" monitoring readout: per (series, hour-of-day slot)
    // baseline via the q_zscore_outliers exact-moment recipe, flag
    // events deviating > 2 sigma from their own seasonal slot (a
    // plain global z-score would alert on every daily peak)
    Query("q_seasonal_anomalies", (s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull && col("event_type").isNotNull &&
          col("ts").isNotNull)
        .select(col("event_id"), col("event_type"),
          hour(col("ts")).cast("long").as("slot"), col("value"))
      val stats = ev.groupBy(col("event_type"), col("slot"))
        .agg(
          sum(col("value").cast("decimal(28,10)")).cast("double").as("__s1"),
          sum((col("value") * col("value")).cast("decimal(28,10)"))
            .cast("double").as("__s2"),
          count(lit(1)).cast("double").as("__n"))
        .filter(col("__n") >= 5)
      val mu = col("__s1") / col("__n")
      val variance = greatest(col("__s2") / col("__n") - mu * mu, lit(0.0))
      val z = (col("value") - mu) / sqrt(variance)
      ev.join(stats, Seq("event_type", "slot"))
        .filter(variance > 0 && abs(z) > 2)
        .select(col("event_id"), col("event_type"), col("slot"),
          round(z, 4).as("z"))
    }, oracle =
      // the zscore recipe per (event_type, hour-of-day) seasonal slot
      """WITH ev AS (
        | SELECT event_id, event_type,
        |  CAST(hour(ts) AS BIGINT) AS slot, value
        | FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |  AND ts IS NOT NULL),
        |stats AS (
        | SELECT event_type, slot,
        |  CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS s1,
        |  CAST(sum(CAST(value * value AS DECIMAL(28,10))) AS DOUBLE) AS s2,
        |  CAST(count(*) AS DOUBLE) AS n
        | FROM ev GROUP BY 1, 2 HAVING count(*) >= 5),
        |v AS (
        | SELECT event_type, slot, s1 / n AS mu,
        |  greatest(s2 / n - (s1 / n) * (s1 / n), 0) AS var
        | FROM stats)
        |SELECT e.event_id, e.event_type, e.slot,
        | round((e.value - v.mu) / sqrt(v.var), 4) AS z
        |FROM ev e JOIN v ON e.event_type = v.event_type
        |  AND e.slot = v.slot
        |WHERE v.var > 0
        |  AND abs((e.value - v.mu) / sqrt(v.var)) > 2""".stripMargin),

    // RRD-style multi-resolution consolidation (the reference's own
    // rrdexport payloads are consolidated AVERAGE rows —
    // extract.py:135-146): 1h/6h/1d rollups per user in ONE exchange
    // via map-side resolution fan-out
    Query("q_consolidate", (s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("value").isNotNull)
      operators.TimeSeries.consolidate(ev, Seq("user_id"), "ts",
        "value", "event_id",
        Seq("1h" -> 3600L, "6h" -> 21600L, "1d" -> 86400L))
    }, oracle =
      // epoch() returns fractional seconds in DuckDB — date_trunc to
      // second first mirrors Spark's truncating timestamp→long cast
      """WITH pts AS (
        | SELECT user_id, event_id, value,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
        | FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |fan AS (
        | SELECT * FROM pts, (VALUES ('1h', 3600), ('6h', 21600),
        |  ('1d', 86400)) AS r(resolution, step))
        |SELECT user_id, resolution,
        | (sec // step) * step AS bucket_start,
        | count(*) AS n, min(value) AS v_min, max(value) AS v_max,
        | CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE)
        |   / CAST(count(*) AS DOUBLE) AS v_avg,
        | arg_max(value, event_id) AS v_last
        |FROM fan GROUP BY 1, 2, 3""".stripMargin),

    // gap-filled daily series: sparse per-user daily averages (errors
    // only) densified to the full day grid with forward fill — the
    // consolidate → fillGaps composition
    Query("q_fill_gaps", (s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("value").isNotNull &&
          col("event_type") === "error")
      val daily = operators.TimeSeries.consolidate(ev, Seq("user_id"),
          "ts", "value", "event_id", Seq("1d" -> 86400L))
        .select(col("user_id"), col("bucket_start"), col("v_avg"))
      operators.TimeSeries.fillGaps(daily, Seq("user_id"),
        "bucket_start", 86400L, "v_avg")
    }, oracle =
      """WITH pts AS (
        | SELECT user_id, event_id, value,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
        | FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  AND event_type = 'error'),
        |agg AS (
        | SELECT user_id, (sec // 86400) * 86400 AS bucket_start,
        |  CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS v_avg
        | FROM pts GROUP BY 1, 2),
        |span AS (
        | SELECT user_id, min(bucket_start) AS lo, max(bucket_start) AS hi
        | FROM agg GROUP BY 1),
        |grid AS (
        | SELECT user_id,
        |  unnest(generate_series(lo, hi, 86400)) AS bucket_start
        | FROM span),
        |j AS (
        | SELECT g.user_id, g.bucket_start, a.v_avg,
        |  a.bucket_start IS NOT NULL AS observed
        | FROM grid g LEFT JOIN agg a
        |  ON g.user_id = a.user_id AND g.bucket_start = a.bucket_start)
        |SELECT user_id, bucket_start,
        | last_value(v_avg IGNORE NULLS) OVER (
        |   PARTITION BY user_id ORDER BY bucket_start
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_avg,
        | observed
        |FROM j""".stripMargin),

    // gaps-and-islands interval merge: each event opens a 10-minute
    // activity window per user; overlapping/touching windows collapse
    // to maximal islands (= the outage-window merge of a monitoring
    // pipeline)
    Query("q_merge_intervals", (s, dir) => {
      val sec = col("ts").cast("long")
      val iv = Tables.events(s, dir).filter(col("ts").isNotNull)
        .select(col("user_id"), sec.as("lo"), (sec + 600L).as("hi"))
      operators.TimeSeries.mergeIntervals(iv, Seq("user_id"), "lo", "hi")
    }, oracle =
      """WITH iv AS (
        | SELECT user_id,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS lo,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) + 600 AS hi
        | FROM events WHERE ts IS NOT NULL),
        |m AS (
        | SELECT user_id, lo, hi, max(hi) OVER (
        |   PARTITION BY user_id ORDER BY lo, hi
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        | FROM iv),
        |g AS (
        | SELECT user_id, lo, hi, sum(
        |   CASE WHEN pm IS NULL OR lo > pm THEN 1 ELSE 0 END) OVER (
        |   PARTITION BY user_id ORDER BY lo, hi
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        | FROM m)
        |SELECT user_id, min(lo) AS lo, max(hi) AS hi,
        | count(*) AS n_merged
        |FROM g GROUP BY user_id, island""".stripMargin),

    // LTTB downsampling per user series (8 points): the dashboard
    // decimation — first/last kept, per middle bucket the
    // largest-triangle point vs the previous pick and the next
    // bucket's average; one entity-keyed exchange, sequential fold
    // per entity, every pick decimal/IEEE-replayable
    // all 6 middle-bucket argmax stages unrolled; decimal-chain
    // averages, IEEE-double areas, lowest-index ties
    Query("q_lttb", (s, dir) =>
      operators.TimeSeries.lttb(Tables.events(s, dir), Seq("user_id"),
        "ts", "value", "event_id", buckets = 8), oracle = lttbOracleSql(8)),

    // M4 per-user decimation (16 buckets): min/max/first/last per
    // equal-width time bucket — pixel-exact line rendering from two
    // aggregates (bounds pre-agg joined back + one partial-combined
    // group); LTTB's aggregate-only sibling
    Query("q_m4", (s, dir) =>
      operators.TimeSeries.m4(Tables.events(s, dir), Seq("user_id"),
        "ts", "value", "event_id", buckets = 16), oracle =
      // bucket arithmetic replayed in integers; first/last via
      // (e, tb, v)-ordered row_number — the struct-min/max tie rule
      """WITH base AS (
        | SELECT user_id, CAST(epoch(date_trunc('second', ts))
        |   AS BIGINT) AS e, CAST(event_id AS BIGINT) AS tb,
        |  CAST(value AS DOUBLE) AS v
        | FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  AND value IS NOT NULL),
        |bounds AS (
        | SELECT user_id, min(e) AS emin, max(e) AS emax FROM base
        | GROUP BY 1),
        |bucketed AS (
        | SELECT b.user_id, b.e, b.tb, b.v,
        |  CAST(floor(CAST((b.e - o.emin) * 16 AS DOUBLE)
        |    / (o.emax - o.emin + 1)) AS BIGINT) AS bucket
        | FROM base b JOIN bounds o USING (user_id)),
        |ordered AS (
        | SELECT user_id, bucket, v,
        |  row_number() OVER (PARTITION BY user_id, bucket
        |    ORDER BY e ASC, tb ASC, v ASC) AS rf,
        |  row_number() OVER (PARTITION BY user_id, bucket
        |    ORDER BY e DESC, tb DESC, v DESC) AS rl
        | FROM bucketed)
        |SELECT g.user_id, g.bucket, g.n, g.v_min, g.v_max,
        | f.v AS v_first, l.v AS v_last
        |FROM (
        | SELECT user_id, bucket, count(*) AS n, min(v) AS v_min,
        |  max(v) AS v_max
        | FROM bucketed GROUP BY 1, 2) g
        |JOIN (SELECT user_id, bucket, v FROM ordered WHERE rf = 1) f
        | USING (user_id, bucket)
        |JOIN (SELECT user_id, bucket, v FROM ordered WHERE rl = 1) l
        | USING (user_id, bucket)""".stripMargin),

    // trend-aware smoothing + one-step forecast (the ewma sibling for
    // trending streams); alpha/beta with exact complements so the
    // recursive oracle replays every double
    Query("q_holt", (s, dir) =>
      operators.TimeSeries.holt(Tables.events(s, dir), Seq("user_id"),
        Seq("ts", "event_id"), "value", alpha = 0.25, beta = 0.5), oracle =
      // level/trend recursion replayed row by row; 0.75 and 0.5 are the
      // EXACT complements of the engine's alpha/beta, so every literal
      // matches the fold's doubles bit-for-bit
      """WITH RECURSIVE t AS (
        | SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS value,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts ASC, event_id ASC) AS rn
        | FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |r AS (
        | SELECT user_id, ts, event_id, rn, value,
        |  value AS l, CAST(0.0 AS DOUBLE) AS b
        | FROM t WHERE rn = 1
        | UNION ALL
        | SELECT t.user_id, t.ts, t.event_id, t.rn, t.value,
        |  0.25 * t.value + 0.75 * (r.l + r.b),
        |  0.5 * ((0.25 * t.value + 0.75 * (r.l + r.b)) - r.l) + 0.5 * r.b
        | FROM t JOIN r ON t.user_id = r.user_id AND t.rn = r.rn + 1)
        |SELECT user_id, ts, event_id, value, l AS level, b AS trend,
        | l + b AS forecast
        |FROM r""".stripMargin),

    // the seasonal rung: Holt–Winters additive with a 4-slot ring —
    // the first period of each series seeds the seasonals (no
    // output), then every level/trend/season/forecast double replays
    // in the recursive oracle
    Query("q_holt_winters", (s, dir) =>
      operators.TimeSeries.holtWinters(Tables.events(s, dir),
        Seq("user_id"), Seq("ts", "event_id"), "value",
        alpha = 0.25, beta = 0.5, gamma = 0.25, period = 4), oracle =
      // warmup pivoted to explicit left-to-right sums (((x1+x2)+x3)+x4
      // — the fold's exact IEEE order), then the recursion carries the
      // 4-slot seasonal ring as a LIST, rewriting one slot per step;
      // forecast reads the NEXT slot, untouched this step for m >= 2
      """WITH RECURSIVE t AS (
        | SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS value,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts ASC, event_id ASC) AS rn
        | FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |w AS (
        | SELECT user_id,
        |  MAX(CASE WHEN rn = 1 THEN value END) AS x1,
        |  MAX(CASE WHEN rn = 2 THEN value END) AS x2,
        |  MAX(CASE WHEN rn = 3 THEN value END) AS x3,
        |  MAX(CASE WHEN rn = 4 THEN value END) AS x4
        | FROM t WHERE rn <= 4 GROUP BY 1 HAVING count(*) = 4),
        |seed AS (
        | SELECT user_id, x1, x2, x3, x4,
        |  (((x1 + x2) + x3) + x4) / 4 AS l0
        | FROM w),
        |r AS (
        | SELECT user_id, CAST(4 AS BIGINT) AS rn,
        |  CAST(NULL AS TIMESTAMP) AS ts, CAST(NULL AS BIGINT)
        |    AS event_id, CAST(NULL AS DOUBLE) AS value,
        |  l0 AS l, CAST(0.0 AS DOUBLE) AS b,
        |  [x1 - l0, x2 - l0, x3 - l0, x4 - l0] AS ring,
        |  CAST(NULL AS DOUBLE) AS s, CAST(NULL AS DOUBLE) AS f
        | FROM seed
        | UNION ALL
        | SELECT t.user_id, t.rn, t.ts, t.event_id, t.value,
        |  0.25 * (t.value - r.ring[((t.rn - 1) % 4) + 1])
        |    + 0.75 * (r.l + r.b),
        |  0.5 * ((0.25 * (t.value - r.ring[((t.rn - 1) % 4) + 1])
        |      + 0.75 * (r.l + r.b)) - r.l) + 0.5 * r.b,
        |  list_transform(r.ring, (sv, j) -> CASE
        |    WHEN j = ((t.rn - 1) % 4) + 1 THEN
        |     0.25 * (t.value - (0.25 * (t.value
        |        - r.ring[((t.rn - 1) % 4) + 1])
        |       + 0.75 * (r.l + r.b)))
        |      + 0.75 * r.ring[((t.rn - 1) % 4) + 1]
        |    ELSE sv END),
        |  0.25 * (t.value - (0.25 * (t.value
        |      - r.ring[((t.rn - 1) % 4) + 1])
        |     + 0.75 * (r.l + r.b)))
        |   + 0.75 * r.ring[((t.rn - 1) % 4) + 1],
        |  ((0.25 * (t.value - r.ring[((t.rn - 1) % 4) + 1])
        |     + 0.75 * (r.l + r.b))
        |   + (0.5 * ((0.25 * (t.value - r.ring[((t.rn - 1) % 4) + 1])
        |       + 0.75 * (r.l + r.b)) - r.l) + 0.5 * r.b))
        |  + r.ring[(t.rn % 4) + 1]
        | FROM t JOIN r ON t.user_id = r.user_id AND t.rn = r.rn + 1)
        |SELECT user_id, ts, event_id, value, l AS level, b AS trend,
        | s AS season, f AS forecast
        |FROM r WHERE rn > 4""".stripMargin),

    // sequential change-point detection over the metric stream:
    // two-sided CUSUM around a frozen target with alarm-reset — each
    // alarm marks one detected drift episode
    Query("q_cusum", (s, dir) =>
      operators.TimeSeries.cusum(Tables.events(s, dir), Seq("user_id"),
        Seq("ts", "event_id"), "value",
        target = 50.0, slack = 5.0, threshold = 200.0), oracle =
      // the ewma pattern: recursive CTE replaying the per-key fold row
      // by row; every step the same (subtract, subtract, add, max)
      // double sequence, alarm = the PRE-reset statistics' threshold
      // test, reset applied when deriving the next row's carry
      """WITH RECURSIVE t AS (
        | SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS value,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts ASC, event_id ASC) AS rn
        | FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |r AS (
        | SELECT user_id, ts, event_id, rn, value,
        |  greatest(0.0, (value - 50.0) - 5.0) AS sp,
        |  greatest(0.0, (50.0 - value) - 5.0) AS sn
        | FROM t WHERE rn = 1
        | UNION ALL
        | SELECT t.user_id, t.ts, t.event_id, t.rn, t.value,
        |  greatest(0.0, (CASE WHEN r.sp > 200.0 OR r.sn > 200.0
        |    THEN 0.0 ELSE r.sp END) + ((t.value - 50.0) - 5.0)),
        |  greatest(0.0, (CASE WHEN r.sp > 200.0 OR r.sn > 200.0
        |    THEN 0.0 ELSE r.sn END) + ((50.0 - t.value) - 5.0))
        | FROM t JOIN r ON t.user_id = r.user_id AND t.rn = r.rn + 1)
        |SELECT user_id, ts, event_id, value,
        | sp AS cusum_pos, sn AS cusum_neg,
        | (sp > 200.0 OR sn > 200.0) AS alarm
        |FROM r""".stripMargin),

    // Theil-Sen robust trend per user: median pairwise slope + median
    // residual intercept — both exact rank-selected sample elements,
    // so the whole fit replays without an averaging step
    Query("q_theil_sen", (s, dir) => {
      val (pts, pool) = theilSenStaged(s, dir)
      operators.TimeSeries.theilSenFit(pts, pool, Seq("user_id"))
    }, oracle =
      // both medians replayed as rank ceil(n/2) row_number picks; the
      // residual pass uses the 6dp-rounded slope, closing the chain
      """WITH pts AS (
        | SELECT user_id,
        |  CAST(epoch(date_trunc('second', ts)) AS DOUBLE) AS x,
        |  CAST(value AS DOUBLE) AS y
        | FROM events
        | WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  AND value IS NOT NULL),
        |p AS (
        | SELECT a.user_id, (b.y - a.y) / (b.x - a.x) AS m
        | FROM pts a JOIN pts b
        |  ON a.user_id = b.user_id AND a.x < b.x),
        |s AS (
        | SELECT user_id, m,
        |  row_number() OVER (PARTITION BY user_id ORDER BY m) AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS n
        | FROM p),
        |sl AS (
        | SELECT user_id, CAST(n AS BIGINT) AS n_pairs,
        |  round(m, 6) + 0.0 AS slope
        | FROM s
        | WHERE rn = CAST(ceil(CAST(n AS DOUBLE) / 2.0) AS BIGINT)),
        |r AS (
        | SELECT pts.user_id, sl.n_pairs, sl.slope,
        |  pts.y - sl.slope * pts.x AS res
        | FROM pts JOIN sl ON pts.user_id = sl.user_id),
        |rr AS (
        | SELECT user_id, n_pairs, slope, res,
        |  row_number() OVER (PARTITION BY user_id ORDER BY res) AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS n
        | FROM r)
        |SELECT user_id, n_pairs, slope, round(res, 6) + 0.0 AS intercept
        |FROM rr
        |WHERE rn = CAST(ceil(CAST(n AS DOUBLE) / 2.0) AS BIGINT)""".stripMargin),

    // the scale-graceful Theil-Sen arm (VERDICT r9 task 4): series
    // past the 64-point cap keep ~1/7 of their pairs by the portable
    // md5 pair hash instead of raising; series at/under the cap stay
    // exact. sf0.01 has users on both sides of 64 (49..86 points), so
    // one query oracles the exact arm, the sampled arm, and the
    // boundary between them
    Query("q_theil_sen_sampled", (s, dir) => {
      val (pts, pool) = theilSenStaged(s, dir)
      operators.TimeSeries.theilSenFit(pts, pool, Seq("user_id"),
        maxPointsPerSeries = 64, oversizePairSampleMod = 7)
    }, oracle =
      // the exact chain plus the oversize pair filter: np per series,
      // pairs of >64-point series kept only when the portable md5
      // bucket over 'tspair:user:x_a:x_b' lands on 0 mod 7 — the
      // engine's conv(substring(md5)) == DuckDB's CAST('0x'||substr
      // convention, established by q_rebalance_lang
      """WITH pts AS (
        | SELECT user_id,
        |  CAST(epoch(date_trunc('second', ts)) AS DOUBLE) AS x,
        |  CAST(CAST(epoch(date_trunc('second', ts)) AS BIGINT)
        |    AS VARCHAR) AS xs,
        |  CAST(value AS DOUBLE) AS y,
        |  count(*) OVER (PARTITION BY user_id) AS np
        | FROM events
        | WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  AND value IS NOT NULL),
        |p AS (
        | SELECT a.user_id, (b.y - a.y) / (b.x - a.x) AS m
        | FROM pts a JOIN pts b
        |  ON a.user_id = b.user_id AND a.x < b.x
        | WHERE a.np <= 64 OR
        |  (CAST(('0x' || substr(md5('tspair:' ||
        |     CAST(a.user_id AS VARCHAR) || ':' || a.xs || ':' || b.xs),
        |     1, 8)) AS BIGINT) % 7) = 0),
        |s AS (
        | SELECT user_id, m,
        |  row_number() OVER (PARTITION BY user_id ORDER BY m) AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS n
        | FROM p),
        |sl AS (
        | SELECT user_id, CAST(n AS BIGINT) AS n_pairs,
        |  round(m, 6) + 0.0 AS slope
        | FROM s
        | WHERE rn = CAST(ceil(CAST(n AS DOUBLE) / 2.0) AS BIGINT)),
        |r AS (
        | SELECT pts.user_id, sl.n_pairs, sl.slope,
        |  pts.y - sl.slope * pts.x AS res
        | FROM pts JOIN sl ON pts.user_id = sl.user_id),
        |rr AS (
        | SELECT user_id, n_pairs, slope, res,
        |  row_number() OVER (PARTITION BY user_id ORDER BY res) AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS n
        | FROM r)
        |SELECT user_id, n_pairs, slope, round(res, 6) + 0.0 AS intercept
        |FROM rr
        |WHERE rn = CAST(ceil(CAST(n AS DOUBLE) / 2.0) AS BIGINT)""".stripMargin),

    // autocorrelation per series at lags 1..3: the seasonality probe
    // read before picking a smoothing horizon — one window pass emits
    // all lags, Pearson moments fold as exact scaled longs
    // (valueScaleDigits = 2, the q_corr_moments convention: events'
    // value column carries exactly 2 decimals, |v| ≤ ~561 at every SF,
    // so v·100 is an exact long ≤ 5.7e4 and every pairwise product
    // ≤ 3.2e9 — far inside long range; the 6dp-rounded acf is
    // oracle-pinned identical to the decimal-cast form at all 3 SFs)
    Query("q_acf", (s, dir) =>
      operators.TimeSeries.acf(Tables.events(s, dir), Seq("event_type"),
        Seq("ts", "event_id"), "value", maxLag = 3,
        valueScaleDigits = Some(2)), oracle =
      // all three lags replayed off one window pass; Pearson moments as
      // exact decimal sums, the combination formula in the same IEEE
      // op order as the operator
      """WITH ev AS (
        | SELECT event_type, ts, event_id, value FROM events
        | WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  AND event_id IS NOT NULL AND value IS NOT NULL),
        |l AS (
        | SELECT event_type, value AS x,
        |  lead(value, 1) OVER w AS y1,
        |  lead(value, 2) OVER w AS y2,
        |  lead(value, 3) OVER w AS y3
        | FROM ev
        | WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
        |p AS (
        | SELECT event_type, x, 1 AS lag, y1 AS y FROM l
        |  WHERE y1 IS NOT NULL
        | UNION ALL SELECT event_type, x, 2, y2 FROM l
        |  WHERE y2 IS NOT NULL
        | UNION ALL SELECT event_type, x, 3, y3 FROM l
        |  WHERE y3 IS NOT NULL),
        |m AS (
        | SELECT event_type, CAST(lag AS BIGINT) AS lag,
        |  CAST(count(*) AS DOUBLE) AS n,
        |  CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(y AS DECIMAL(28,10))) AS DOUBLE) AS sy,
        |  CAST(sum(CAST(x * y AS DECIMAL(28,10))) AS DOUBLE) AS sxy,
        |  CAST(sum(CAST(x * x AS DECIMAL(28,10))) AS DOUBLE) AS sxx,
        |  CAST(sum(CAST(y * y AS DECIMAL(28,10))) AS DOUBLE) AS syy
        | FROM p GROUP BY 1, 2)
        |SELECT event_type, lag, CAST(n AS BIGINT) AS n_pairs,
        | round((n * sxy - sx * sy)
        |   / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS acf
        |FROM m
        |WHERE n >= 2 AND (n * sxx - sx * sx) > 0
        |  AND (n * syy - sy * sy) > 0""".stripMargin),

    // Apdex (T=50): the service-level satisfaction index over the
    // latency-shaped value column — three integer counts, one division
    Query("q_apdex", (s, dir) =>
      operators.TimeSeries.apdex(Tables.events(s, dir),
        Seq("event_type"), "value", satisfiedThreshold = 50.0), oracle =
      """SELECT event_type,
        | CAST(sum(CASE WHEN value <= 50.0 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_satisfied,
        | CAST(sum(CASE WHEN value > 50.0 AND value <= 200.0
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_tolerating,
        | CAST(count(*) AS BIGINT) AS n_total,
        | round((CAST(sum(CASE WHEN value <= 50.0 THEN 1 ELSE 0 END)
        |     AS DOUBLE)
        |   + CAST(sum(CASE WHEN value > 50.0 AND value <= 200.0
        |     THEN 1 ELSE 0 END) AS DOUBLE) * 0.5)
        |  / CAST(count(*) AS DOUBLE), 4) AS apdex
        |FROM events
        |WHERE event_type IS NOT NULL AND value IS NOT NULL
        |GROUP BY 1""".stripMargin),

    // p-chart over daily error proportions: pooled center line,
    // per-day 3-sigma limits (unequal subgroup sizes), out-of-control
    // days flagged on the unrounded proportion
    Query("q_pchart", (s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("event_type").isNotNull)
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
          (col("event_type") === "error").as("fail"))
      operators.TimeSeries.pChart(ev, Seq.empty, "day", "fail")
        .withColumn("out_of_control",
          col("out_of_control").cast("long"))
    }, oracle =
      // pooled center line, per-day widths, flag on the UNROUNDED
      // proportion — the same one fixed IEEE order as the operator
      """WITH per AS (
        | SELECT strftime(ts, '%Y-%m-%d') AS day,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS x
        | FROM events
        | WHERE ts IS NOT NULL AND event_type IS NOT NULL
        | GROUP BY 1),
        |tot AS (
        | SELECT sum(n) AS nn, sum(x) AS xx FROM per)
        |SELECT day, n, x,
        | round(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p,
        | round(CAST(xx AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS p_bar,
        | round(greatest(CAST(xx AS DOUBLE) / CAST(nn AS DOUBLE)
        |   - 3.0 * sqrt(CAST(xx AS DOUBLE) / CAST(nn AS DOUBLE)
        |     * (1.0 - CAST(xx AS DOUBLE) / CAST(nn AS DOUBLE))
        |     / CAST(n AS DOUBLE)), 0.0), 6) AS lcl,
        | round(least(CAST(xx AS DOUBLE) / CAST(nn AS DOUBLE)
        |   + 3.0 * sqrt(CAST(xx AS DOUBLE) / CAST(nn AS DOUBLE)
        |     * (1.0 - CAST(xx AS DOUBLE) / CAST(nn AS DOUBLE))
        |     / CAST(n AS DOUBLE)), 1.0), 6) AS ucl,
        | CAST(CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
        |    > least(CAST(xx AS DOUBLE) / CAST(nn AS DOUBLE)
        |      + 3.0 * sqrt(CAST(xx AS DOUBLE) / CAST(nn AS DOUBLE)
        |        * (1.0 - CAST(xx AS DOUBLE) / CAST(nn AS DOUBLE))
        |        / CAST(n AS DOUBLE)), 1.0)
        |   OR CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
        |    < greatest(CAST(xx AS DOUBLE) / CAST(nn AS DOUBLE)
        |      - 3.0 * sqrt(CAST(xx AS DOUBLE) / CAST(nn AS DOUBLE)
        |        * (1.0 - CAST(xx AS DOUBLE) / CAST(nn AS DOUBLE))
        |        / CAST(n AS DOUBLE)), 0.0) AS BIGINT)
        |  AS out_of_control
        |FROM per, tot""".stripMargin),

    // SAX symbolization: per-series z-normalized PAA over 64-row
    // segments mapped to a 4-letter alphabet — telemetry as grep-able
    // strings
    Query("q_sax", (s, dir) =>
      operators.TimeSeries.sax(Tables.events(s, dir), Seq("event_type"),
        Seq("ts", "event_id"), "value", segmentRows = 64), oracle =
      // same moments, same segment fold, same breakpoint CASE chain —
      // every z comparison replays on an identical double
      """WITH ev AS (
        | SELECT event_type, ts, event_id, value FROM events
        | WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  AND event_id IS NOT NULL AND value IS NOT NULL),
        |stats AS (
        | SELECT event_type,
        |  CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS s1,
        |  CAST(sum(CAST(value * value AS DECIMAL(28,10)))
        |    AS DOUBLE) AS s2,
        |  CAST(count(*) AS DOUBLE) AS cnt
        | FROM ev GROUP BY 1),
        |k AS (
        | SELECT event_type, s1 / cnt AS mu,
        |  sqrt(greatest(s2 / cnt - (s1 / cnt) * (s1 / cnt), 0))
        |    AS sigma
        | FROM stats
        | WHERE greatest(s2 / cnt - (s1 / cnt) * (s1 / cnt), 0) > 0),
        |r AS (
        | SELECT event_type, value,
        |  CAST(row_number() OVER (PARTITION BY event_type
        |     ORDER BY ts, event_id) - 1 AS BIGINT) // 64 AS segment
        | FROM ev),
        |g AS (
        | SELECT event_type, segment,
        |  CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sv,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM r GROUP BY 1, 2)
        |SELECT g.event_type, g.segment, g.n,
        | round((sv / CAST(n AS DOUBLE) - mu) / sigma, 6) AS paa_z,
        | CASE
        |  WHEN (sv / CAST(n AS DOUBLE) - mu) / sigma < -0.6745 THEN 'a'
        |  WHEN (sv / CAST(n AS DOUBLE) - mu) / sigma < 0.0 THEN 'b'
        |  WHEN (sv / CAST(n AS DOUBLE) - mu) / sigma < 0.6745 THEN 'c'
        |  ELSE 'd' END AS symbol
        |FROM g JOIN k ON g.event_type = k.event_type""".stripMargin),

    // SLA rollup: 10-minute activity intervals per user, ppm of a
    // fixed 15-day window covered by their union — the percent-uptime
    // view the reference's status dashboards serve. Output is
    // integer millionths (BIGINT): no float exists anywhere in the
    // chain, so the driver's hash protocol cannot see representation
    // drift (VERDICT r9 task 1 — the r8/r9 red row)
    Query("q_availability", (s, dir) => {
      val e = unix_timestamp(col("ts"))
      operators.TimeSeries.availability(
        Tables.events(s, dir).filter(col("ts").isNotNull)
          .select(col("user_id"), e.as("lo"), (e + 600L).as("hi")),
        Seq("user_id"), "lo", "hi",
        windowLo = 1704412800L, windowHi = 1705708799L) // Jan 5 - Jan 19
    }, oracle =
      // same islands chain as q_merge_intervals on the window-clamped
      // intervals, then closed-length sum over merged islands / window
      """WITH iv AS (
        | SELECT user_id,
        |  greatest(CAST(epoch(date_trunc('second', ts)) AS BIGINT),
        |    1704412800) AS lo,
        |  least(CAST(epoch(date_trunc('second', ts)) AS BIGINT) + 600,
        |    1705708799) AS hi
        | FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |cl AS (SELECT * FROM iv WHERE lo <= hi),
        |m AS (
        | SELECT user_id, lo, hi, max(hi) OVER (
        |   PARTITION BY user_id ORDER BY lo, hi
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        | FROM cl),
        |g AS (
        | SELECT user_id, lo, hi, sum(
        |   CASE WHEN pm IS NULL OR lo > pm THEN 1 ELSE 0 END) OVER (
        |   PARTITION BY user_id ORDER BY lo, hi
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        | FROM m),
        |mg AS (
        | SELECT user_id, island, min(lo) AS lo, max(hi) AS hi
        | FROM g GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(hi - lo + 1) AS BIGINT) AS covered_s,
        | CAST(1296000 AS BIGINT) AS window_s,
        | CAST((sum(hi - lo + 1) * 2000000 + 1296000) // (2 * 1296000)
        |   AS BIGINT) AS availability_ppm
        |FROM mg GROUP BY 1""".stripMargin),

    // interval difference A \ B as rows: activity fragments outside
    // the per-user error-downtime windows — the operator the
    // downtime-adjusted rollup sums; fragments here are the maximal
    // disjoint islands (closed-integer adjacency coalesced)
    Query("q_subtract_intervals", (s, dir) => {
      val e = unix_timestamp(col("ts"))
      val ev = Tables.events(s, dir).filter(col("ts").isNotNull)
      val up = ev.select(col("user_id"), e.as("lo"), (e + 600L).as("hi"))
      val down = ev.filter(col("event_type") === "error")
        .select(col("user_id"), e.as("lo"), (e + 1800L).as("hi"))
      operators.TimeSeries.subtractIntervals(up, down,
        Seq("user_id"), "lo", "hi")
    }, oracle =
      // the same sweep emitting FRAGMENTS: segments where A covers and
      // B does not, coalesced by the closed-integer adjacency rule
      // (lo > prior hi + 1 starts an island)
      """WITH up AS (
        | SELECT user_id,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS lo,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) + 600 AS hi
        | FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |dn AS (
        | SELECT user_id,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS lo,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) + 1800 AS hi
        | FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |  AND event_type = 'error'),
        |ev AS (
        | SELECT user_id, lo AS t, 1 AS da, 0 AS db FROM up
        | UNION ALL SELECT user_id, hi + 1, -1, 0 FROM up
        | UNION ALL SELECT user_id, lo, 0, 1 FROM dn
        | UNION ALL SELECT user_id, hi + 1, 0, -1 FROM dn),
        |sw AS (
        | SELECT user_id, t,
        |  sum(da) OVER (PARTITION BY user_id ORDER BY t, da, db
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
        |  sum(db) OVER (PARTITION BY user_id ORDER BY t, da, db
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
        |  lead(t) OVER (PARTITION BY user_id ORDER BY t, da, db) AS tn
        | FROM ev),
        |frag AS (
        | SELECT user_id, t AS lo, tn - 1 AS hi FROM sw
        | WHERE tn IS NOT NULL AND tn > t AND ca > 0 AND cb = 0),
        |m AS (
        | SELECT user_id, lo, hi, max(hi) OVER (
        |   PARTITION BY user_id ORDER BY lo, hi
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        | FROM frag),
        |g AS (
        | SELECT user_id, lo, hi, sum(
        |   CASE WHEN pm IS NULL OR lo > pm + 1 THEN 1 ELSE 0 END) OVER (
        |   PARTITION BY user_id ORDER BY lo, hi
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        | FROM m)
        |SELECT user_id, CAST(min(lo) AS BIGINT) AS lo,
        | CAST(max(hi) AS BIGINT) AS hi
        |FROM g GROUP BY user_id, island""".stripMargin),

    // coverage GAPS — Nagios's "undetermined time": the report window
    // minus each user's activity union, i.e. subtractIntervals with
    // the window itself as A — the unmonitored periods a dashboard
    // must not silently count as up OR down
    Query("q_coverage_gaps", (s, dir) => {
      val e = unix_timestamp(col("ts"))
      val ev = Tables.events(s, dir).filter(col("ts").isNotNull)
      val act = ev.select(col("user_id"), e.as("lo"), (e + 600L).as("hi"))
      val win = act.select(col("user_id")).distinct()
        .select(col("user_id"), lit(1704412800L).as("lo"),
          lit(1705708799L).as("hi")) // Jan 5 - 19
      operators.TimeSeries.subtractIntervals(win, act,
        Seq("user_id"), "lo", "hi")
    }, oracle =
      // window-minus-activity: the subtract sweep with one whole-window
      // A interval per active user
      """WITH act AS (
        | SELECT user_id,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS lo,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) + 600 AS hi
        | FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |win AS (SELECT DISTINCT user_id, 1704412800 AS lo,
        |  1705708799 AS hi FROM act),
        |ev AS (
        | SELECT user_id, lo AS t, 1 AS da, 0 AS db FROM win
        | UNION ALL SELECT user_id, hi + 1, -1, 0 FROM win
        | UNION ALL SELECT user_id, lo, 0, 1 FROM act
        | UNION ALL SELECT user_id, hi + 1, 0, -1 FROM act),
        |sw AS (
        | SELECT user_id, t,
        |  sum(da) OVER (PARTITION BY user_id ORDER BY t, da, db
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
        |  sum(db) OVER (PARTITION BY user_id ORDER BY t, da, db
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
        |  lead(t) OVER (PARTITION BY user_id ORDER BY t, da, db) AS tn
        | FROM ev),
        |frag AS (
        | SELECT user_id, t AS lo, tn - 1 AS hi FROM sw
        | WHERE tn IS NOT NULL AND tn > t AND ca > 0 AND cb = 0),
        |m AS (
        | SELECT user_id, lo, hi, max(hi) OVER (
        |   PARTITION BY user_id ORDER BY lo, hi
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        | FROM frag),
        |g AS (
        | SELECT user_id, lo, hi, sum(
        |   CASE WHEN pm IS NULL OR lo > pm + 1 THEN 1 ELSE 0 END) OVER (
        |   PARTITION BY user_id ORDER BY lo, hi
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        | FROM m)
        |SELECT user_id, CAST(min(lo) AS BIGINT) AS lo,
        | CAST(max(hi) AS BIGINT) AS hi
        |FROM g GROUP BY user_id, island""".stripMargin),

    // scheduled-downtime-adjusted availability — the full Nagios
    // report semantics: activity intervals minus maintenance windows
    // (here: 30-minute windows around each error event), ppm over the
    // window seconds NOT consumed by downtime. Integer end to end
    // (the q_availability hash contract); one boundary-sweep window
    // pass serves uptime, downtime and subtracted coverage at once
    Query("q_downtime_adjusted", (s, dir) => {
      val e = unix_timestamp(col("ts"))
      val ev = Tables.events(s, dir).filter(col("ts").isNotNull)
      val up = ev.select(col("user_id"), e.as("lo"), (e + 600L).as("hi"))
      val down = ev.filter(col("event_type") === "error")
        .select(col("user_id"), e.as("lo"), (e + 1800L).as("hi"))
      operators.TimeSeries.availabilityDowntimeAdjusted(up, down,
        Seq("user_id"), "lo", "hi",
        windowLo = 1704412800L, windowHi = 1705708799L) // Jan 5 - 19
    }, oracle =
      // same boundary sweep as the engine: ±1 events at lo / hi+1 for
      // both interval sets, per-key running covers, segment sums; ppm
      // over the downtime-adjusted window, all-integer
      """WITH up AS (
        | SELECT user_id,
        |  greatest(CAST(epoch(date_trunc('second', ts)) AS BIGINT),
        |    1704412800) AS lo,
        |  least(CAST(epoch(date_trunc('second', ts)) AS BIGINT) + 600,
        |    1705708799) AS hi
        | FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |dn AS (
        | SELECT user_id,
        |  greatest(CAST(epoch(date_trunc('second', ts)) AS BIGINT),
        |    1704412800) AS lo,
        |  least(CAST(epoch(date_trunc('second', ts)) AS BIGINT) + 1800,
        |    1705708799) AS hi
        | FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |  AND event_type = 'error'),
        |ev AS (
        | SELECT user_id, lo AS t, 1 AS da, 0 AS db FROM up WHERE lo <= hi
        | UNION ALL
        | SELECT user_id, hi + 1, -1, 0 FROM up WHERE lo <= hi
        | UNION ALL
        | SELECT user_id, lo, 0, 1 FROM dn WHERE lo <= hi
        | UNION ALL
        | SELECT user_id, hi + 1, 0, -1 FROM dn WHERE lo <= hi),
        |sw AS (
        | SELECT user_id, t,
        |  sum(da) OVER (PARTITION BY user_id ORDER BY t, da, db
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
        |  sum(db) OVER (PARTITION BY user_id ORDER BY t, da, db
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
        |  lead(t) OVER (PARTITION BY user_id ORDER BY t, da, db) AS tn
        | FROM ev),
        |ag AS (
        | SELECT user_id,
        |  sum(CASE WHEN ca > 0 THEN tn - t ELSE 0 END) AS uptime_raw_s,
        |  sum(CASE WHEN ca > 0 AND cb = 0 THEN tn - t ELSE 0 END)
        |    AS covered_s,
        |  sum(CASE WHEN cb > 0 THEN tn - t ELSE 0 END) AS downtime_s
        | FROM sw WHERE tn IS NOT NULL AND tn > t
        | GROUP BY 1)
        |SELECT user_id, CAST(covered_s AS BIGINT) AS covered_s,
        | CAST(downtime_s AS BIGINT) AS downtime_s,
        | CAST(1296000 AS BIGINT) AS window_s,
        | CAST(1296000 - downtime_s AS BIGINT) AS adjusted_window_s,
        | CAST(CASE WHEN 1296000 - downtime_s >= 1
        |   THEN (covered_s * 2000000 + (1296000 - downtime_s))
        |     // (2 * (1296000 - downtime_s))
        |   ELSE 0 END AS BIGINT) AS availability_ppm
        |FROM ag WHERE uptime_raw_s >= 1""".stripMargin),

    // error-budget burn rate, the multi-window SRE alert rule: burn =
    // downtime fraction / (1 - SLO) over a LONG and a SHORT window;
    // paging when BOTH exceed 1 (fast burn confirmed by sustained
    // burn — the Google SRE workbook alert). SLO 0.99 -> budget 0.01.
    // Burn is emitted as integer millionths (burn_ppm = (10⁶ −
    // availability_ppm)·100, burn > 1 ⇔ burn_ppm > 10⁶): the whole
    // chain stays BIGINT so no float representation exists for the
    // driver hash to diverge on (the q_availability treatment,
    // VERDICT r9 task 1)
    // the availability chain instantiated per window (suffixed CTEs),
    // burn = (1 - covered/window) / 0.01, inner-joined
    Query("q_burn_rate", (s, dir) => {
      val e = unix_timestamp(col("ts"))
      val iv = Tables.events(s, dir).filter(col("ts").isNotNull)
        .select(col("user_id"), e.as("lo"), (e + 600L).as("hi"))
      // ONE interval-merge pass serves both windows (the
      // burnRateStream single-state shape ported to batch — VERDICT
      // r10 task 4); requiring coverage of BOTH windows reproduces the
      // per-window-chain inner join independent of window nesting
      // (with the short window inside the long one the long-side
      // filter is implied, but the call site should not depend on the
      // constants staying nested — ADVICE r11)
      operators.TimeSeries.availabilityMulti(iv, Seq("user_id"),
          "lo", "hi", Seq(
            ("long", 1704412800L, 1705708799L),   // Jan 5 - 19
            ("short", 1705017600L, 1705103999L))) // Jan 12
        .filter(col("covered_s_short") >= 1L && col("covered_s_long") >= 1L)
        .select(col("user_id"),
          ((lit(1000000L) - col("availability_ppm_long")) * 100L)
            .as("burn_long_ppm"),
          ((lit(1000000L) - col("availability_ppm_short")) * 100L)
            .as("burn_short_ppm"))
        .select(col("user_id"), col("burn_long_ppm"),
          col("burn_short_ppm"),
          (col("burn_long_ppm") > 1000000L &&
            col("burn_short_ppm") > 1000000L).as("page"))
    }, oracle = {
      def chain(sfx: String, lo: Long, hi: Long): String = {
        val win = hi - lo + 1
        s"""iv$sfx AS (
           | SELECT user_id,
           |  greatest(CAST(epoch(date_trunc('second', ts)) AS BIGINT),
           |    $lo) AS lo,
           |  least(CAST(epoch(date_trunc('second', ts)) AS BIGINT) + 600,
           |    $hi) AS hi
           | FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
           |cl$sfx AS (SELECT * FROM iv$sfx WHERE lo <= hi),
           |m$sfx AS (
           | SELECT user_id, lo, hi, max(hi) OVER (
           |   PARTITION BY user_id ORDER BY lo, hi
           |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
           | FROM cl$sfx),
           |g$sfx AS (
           | SELECT user_id, lo, hi, sum(
           |   CASE WHEN pm IS NULL OR lo > pm THEN 1 ELSE 0 END) OVER (
           |   PARTITION BY user_id ORDER BY lo, hi
           |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           | FROM m$sfx),
           |mg$sfx AS (
           | SELECT user_id, island, min(lo) AS lo, max(hi) AS hi
           | FROM g$sfx GROUP BY 1, 2),
           |av$sfx AS (
           | SELECT user_id, CAST(
           |   (1000000 - (sum(hi - lo + 1) * 2000000 + $win)
           |     // (2 * $win)) * 100
           |   AS BIGINT) AS burn$sfx
           | FROM mg$sfx GROUP BY 1)""".stripMargin
      }
      s"""WITH ${chain("_long_ppm", 1704412800L, 1705708799L)},
         |${chain("_short_ppm", 1705017600L, 1705103999L)}
         |SELECT a.user_id, a.burn_long_ppm, b.burn_short_ppm,
         | (a.burn_long_ppm > 1000000 AND b.burn_short_ppm > 1000000)
         |   AS page
         |FROM av_long_ppm a JOIN av_short_ppm b
         | ON a.user_id = b.user_id""".stripMargin
    }),

    // m4Stream's batch form (the watermark is a no-op on a batch
    // frame): fixed-width epoch-aligned daily buckets — oracling the
    // exact aggregate the live dashboard twin emits per closed window
    Query("q_m4_fixed", (s, dir) =>
      operators.TimeSeries.m4Stream(Tables.events(s, dir),
        Seq("user_id"), "ts", "value", "event_id",
        bucketSeconds = 86400L, watermarkDelay = "0 seconds"), oracle =
      // fixed-width twin: epoch-aligned daily buckets — floor on the
      // second-truncated e equals the engine's micros-aligned window()
      // because floor(floor(x)/W) == floor(x/W) for integer W
      """WITH base AS (
        | SELECT user_id, CAST(epoch(date_trunc('second', ts))
        |   AS BIGINT) AS e, CAST(event_id AS BIGINT) AS tb,
        |  CAST(value AS DOUBLE) AS v
        | FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  AND value IS NOT NULL),
        |bucketed AS (
        | SELECT user_id, (e // 86400) * 86400 AS bucket_start,
        |  e, tb, v
        | FROM base),
        |ordered AS (
        | SELECT user_id, bucket_start, v,
        |  row_number() OVER (PARTITION BY user_id, bucket_start
        |    ORDER BY e ASC, tb ASC, v ASC) AS rf,
        |  row_number() OVER (PARTITION BY user_id, bucket_start
        |    ORDER BY e DESC, tb DESC, v DESC) AS rl
        | FROM bucketed)
        |SELECT g.user_id, g.bucket_start, g.n, g.v_min, g.v_max,
        | f.v AS v_first, l.v AS v_last
        |FROM (
        | SELECT user_id, bucket_start, count(*) AS n, min(v) AS v_min,
        |  max(v) AS v_max
        | FROM bucketed GROUP BY 1, 2) g
        |JOIN (SELECT user_id, bucket_start, v FROM ordered
        |  WHERE rf = 1) f USING (user_id, bucket_start)
        |JOIN (SELECT user_id, bucket_start, v FROM ordered
        |  WHERE rl = 1) l USING (user_id, bucket_start)""".stripMargin),

    // RRD COUNTER / Prometheus-rate semantics over the metric
    // stream: per-entity increase with reset detection (a decrease
    // means the counter restarted — increase = raw value), per-second
    // rate over the epoch gap; first samples and duplicate-timestamp
    // rows drop. One entity-keyed exchange, both lags share one sort
    Query("q_counter_rate", (s, dir) =>
      operators.TimeSeries.counterRate(Tables.events(s, dir),
        Seq("user_id", "event_type"), "ts", "value", "event_id"), oracle =
      // the same lag/reset/ratio chain term for term; epoch gaps from
      // second-truncated timestamps (the engine's unix_timestamp)
      """WITH base AS (
        | SELECT user_id, event_type, ts, event_id,
        |  CAST(value AS DOUBLE) AS value,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS e
        | FROM events
        | WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |  AND ts IS NOT NULL AND value IS NOT NULL),
        |lagged AS (
        | SELECT user_id, event_type, ts, value, e,
        |  lag(value) OVER w AS pv, lag(e) OVER w AS pe
        | FROM base
        | WINDOW w AS (PARTITION BY user_id, event_type
        |   ORDER BY ts ASC, event_id ASC))
        |SELECT user_id, event_type, ts, value,
        | round(CASE WHEN value >= pv THEN value - pv ELSE value END,
        |   6) AS increase,
        | round((CASE WHEN value >= pv THEN value - pv ELSE value END)
        |   / (e - pe), 6) AS rate_per_s
        |FROM lagged WHERE pv IS NOT NULL AND e > pe""".stripMargin),

    // per-user EWMA smoothing (alpha 0.25): one codegen fold per key
    // after a single exchange; bit-replayable (multiply, multiply,
    // add per step — no pow, no closed form)
    Query("q_ewma", (s, dir) => {
      operators.TimeSeries.ewma(
        Tables.events(s, dir)
          .filter(col("user_id").isNotNull && col("value").isNotNull)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("value")),
        Seq("user_id"), Seq("ts", "event_id"), "value", alpha = 0.25)
        // NO rounding: the fold is bit-identical across engines (fixed
        // multiply/multiply/add sequence), and round() itself is NOT
        // portable at the half-way boundary (Spark rounds the exact
        // decimal expansion, DuckDB rounds a 1e6-scaled float —
        // measured 3/10000 rows differing by 1 ulp of the 6th decimal)
        .select(col("user_id"), col("event_id"), col("ewma"))
    }, oracle =
      // the recursive CTE replays the exact (multiply, multiply, add)
      // step sequence — bit-identical smoothed values
      """WITH RECURSIVE t AS (
        | SELECT user_id, event_id, value,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts ASC, event_id ASC) AS rn
        | FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |r AS (
        | SELECT user_id, event_id, rn, value AS y FROM t WHERE rn = 1
        | UNION ALL
        | SELECT t.user_id, t.event_id, t.rn,
        |  0.25 * t.value + 0.75 * r.y
        | FROM t JOIN r ON t.user_id = r.user_id AND t.rn = r.rn + 1)
        |SELECT user_id, event_id, y AS ewma FROM r""".stripMargin)
  )
}
