package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Relational
import graft.sources.Tables

import Fragments.pageRankIterCtesSql

/** Graph and behavior queries ([[operators.Behavior]]): funnels,
  * cohorts, state machines, sessions, survival, PageRank, triangles
  * and k-core.
  */
object BehaviorQueries {

  /** The support-2 part co-purchase graph shared by the graph-family
    * queries (`q_triangles`, `q_kcore`): distinct part pairs within
    * an order, kept when ≥ 2 orders agree. Pair generation is a
    * per-order fold, not a self-join: orders are tiny (≤ 13 lines),
    * so collect the distinct sorted part list per order (ONE
    * exchange) and emit u<v combos map-side — the join+distinct form
    * pays a 600k × 600k sort-merge plus a 3-column distinct exchange
    * for the same 1.2M pairs (measured ~2× the wall-clock at sf0.1).
    * ONE definition on each side (SQL twin in [[coPurchaseEdgesSql]]).
    */
  // Staged and checkpointed (VERDICT r13 task 3): the edge derivation
  // is the dominant cost of BOTH q_triangles and q_kcore, and the SAME
  // canonical edge set.
  private def coPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    Staged(s, "co_purchase_edges", dir) {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"))
      val pairs = li.groupBy(col("l_orderkey"))
        .agg(array_sort(array_distinct(collect_list(col("l_partkey"))))
          .as("ps"))
        .select(explode(expr(
          "flatten(transform(ps, (x, i) -> " +
            "transform(slice(ps, i + 2, size(ps)), " +
            "y -> struct(x AS u, y AS v))))")).as("p"))
        .select(col("p.u").as("u"), col("p.v").as("v"))
      pairs.groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("s"))
        .filter(col("s") >= 2).select(col("u"), col("v"))
        .localCheckpoint(true)
    }

  /** The order/supplier bipartite graph on LONG node ids
    * (orderkey*2 / suppkey*2+1) shared by the PageRank queries and
    * their forced-distributed verify twins: rank values are
    * independent of node naming, and long join keys roughly halve the
    * per-iteration join/agg cost vs label strings (measured
    * 6.4s -> 5.0s solo-bench). The 'O…'/'S…' labels attach only on
    * the final |nodes|-row result ([[labelRankNodes]]).
    *
    * Staged + checkpointed (VERDICT r14 task 1 — the
    * [[coPurchaseEdges]] convention): `q_pagerank`,
    * `q_personalized_pagerank`, and both `_dist` verify twins each
    * consumed the SAME 1.2M-edge distinct+union derivation from
    * lineitem — the two heaviest graph rows on the r14 floor
    * (2.15 + 2.28 s) re-paid it per query. One derivation per
    * (session, dir); every consumer reads the checkpointed |E|-row
    * long-id table.
    */
  private def orderSupplierEdges(s: SparkSession, dir: String)
      : DataFrame =
    Staged(s, "order_supplier_edges", dir) {
      val pairs = Tables.lineitem(s, dir)
        .select((col("l_orderkey").cast("long") * 2).as("o"),
          (col("l_suppkey").cast("long") * 2 + 1).as("p"))
        .distinct()
      pairs.select(col("o").as("src"), col("p").as("dst"))
        .union(pairs.select(col("p").as("src"), col("o").as("dst")))
        .localCheckpoint(true)
    }

  private def labelRankNodes(ranked: DataFrame): DataFrame =
    ranked.select(when(col("node") % 2 === 0,
        concat(lit("O"), (col("node") / 2).cast("long")))
      .otherwise(concat(lit("S"), ((col("node") - 1) / 2)
        .cast("long"))).as("node"),
      col("pagerank"))

  /** ONE body for `q_pagerank` and its `_dist` verify twin — only the
    * small-graph gate differs (ADVICE r13: the gated queries oracle
    * the driver arm at verify SF, so the distributed decimal dataflow
    * keeps its own driver-oracle row via `localMaxEdges = 0`).
    */
  private def pageRankQuery(s: SparkSession, dir: String,
      localMaxEdges: Long = 2000000L): DataFrame =
    labelRankNodes(operators.Behavior.pageRank(
      orderSupplierEdges(s, dir), "src", "dst",
      iters = 3, damping = 0.85, localMaxEdges = localMaxEdges))

  /** ONE body for `q_personalized_pagerank` and its `_dist` twin. */
  private def pprQuery(s: SparkSession, dir: String,
      localMaxEdges: Long = 2000000L): DataFrame = {
    val seeds = Tables.lineitem(s, dir)
      .filter(col("l_suppkey") % 10 === 0)
      .select((col("l_suppkey").cast("long") * 2 + 1).as("node"))
    labelRankNodes(operators.Behavior.personalizedPageRank(
      orderSupplierEdges(s, dir), "src", "dst", seeds, "node",
      iters = 3, damping = 0.85, localMaxEdges = localMaxEdges))
  }

  /** CTEs `p`, `e0` — the SQL twin of [[coPurchaseEdges]]. */
  private val coPurchaseEdgesSql: String =
    """p AS (
      | SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
      |  greatest(a.l_partkey, b.l_partkey) AS v, a.l_orderkey AS ok
      | FROM lineitem a JOIN lineitem b
      |  ON a.l_orderkey = b.l_orderkey
      |   AND a.l_partkey < b.l_partkey),
      |e0 AS (
      | SELECT u, v FROM (
      |  SELECT u, v, count(*) AS s FROM p GROUP BY 1, 2) t
      | WHERE s >= 2)""".stripMargin

  /** [[Fragments.pageRankIterCtesSql]] with the restart mass on a
    * seed column: expects a `nodes` CTE carrying (node, r) with
    * r ∈ {0.0, 1.0} and a `pr0` CTE of (node, pr = r). Same
    * interpolated exact doubles.
    */
  private def personalizedPrIterCtesSql(iters: Int,
      edgeTable: String): String = {
    val d = 0.85
    val teleport = 1.0 - d
    (1 to iters).map { i =>
      s"""pr$i AS (SELECT n.node, n.r,
         | round(CAST($teleport AS DOUBLE) * n.r + CAST($d AS DOUBLE) *
         |   COALESCE(CAST(c.m AS DOUBLE), 0.0), 12) AS pr
         | FROM nodes n LEFT JOIN (
         |  SELECT e.dst AS node,
         |    sum(CAST(round(p.pr / g.deg, 12) AS DECIMAL(38,12))) AS m
         |  FROM $edgeTable e JOIN pr${i - 1} p ON e.src = p.node
         |   JOIN deg g ON e.src = g.src
         |  GROUP BY e.dst) c ON n.node = c.node)""".stripMargin
    }.mkString(",\n")
  }

  /** The oracled and bench-only queries, then the forced-distributed
    * twins (see [[Query.distTwins]]). */
  lazy val all: Seq[Query] = queries ++ Query.distTwins(queries)(
    "q_pagerank" -> ((s, dir) =>
      pageRankQuery(s, dir, localMaxEdges = 0)),
    "q_personalized_pagerank" -> ((s, dir) =>
      pprQuery(s, dir, localMaxEdges = 0)),
    "q_triangles" -> ((s, dir) =>
      operators.Behavior.triangleCounts(
        coPurchaseEdges(s, dir), "u", "v", localMaxEdges = 0)),
    "q_kcore" -> ((s, dir) =>
      operators.Behavior.kCore(coPurchaseEdges(s, dir), "u", "v",
        k = 3, localMaxEdges = 0))
  )

  private lazy val queries: Seq[Query] = Seq(
    // concurrency sweep over the same session intervals: +1/−1
    // boundary deltas (end+1 keeps closed-interval semantics exact in
    // integers) aggregated per distinct time, running total via the
    // certified distributed prefix — max(active) is peak concurrent
    // sessions, with no global window and ≤2 delta rows per interval
    // on the exchange
    Query("q_concurrency_sweep", (s, dir) => {
      val sess = operators.Behavior.sessionize(Tables.events(s, dir),
          "user_id", "ts", gapSeconds = 1800L)
        .select(unix_timestamp(col("session_start")).as("s"),
          unix_timestamp(col("session_end")).as("t"))
      operators.TimeSeries.concurrencySweep(sess, "s", "t")
    }, oracle =
      // the sweep replayed: same session intervals, ±1 deltas at
      // (s, t+1), per-time aggregate, window running total (the
      // distributed prefix is the engine detail)
      """WITH base AS (
        | SELECT user_id, ts,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS e
        | FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |flagged AS (
        | SELECT user_id, ts, e,
        |  CASE WHEN lag(e) OVER w IS NULL OR e - lag(e) OVER w > 1800
        |   THEN 1 ELSE 0 END AS ns
        | FROM base
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)),
        |sess AS (
        | SELECT user_id,
        |  CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts ASC)
        |   AS BIGINT) AS session_no, e
        | FROM flagged),
        |iv AS (SELECT user_id, session_no, min(e) AS s, max(e) AS t
        | FROM sess GROUP BY 1, 2),
        |b AS (
        | SELECT s AS t, CAST(1 AS BIGINT) AS d FROM iv
        | UNION ALL SELECT t + 1, CAST(-1 AS BIGINT) FROM iv),
        |g AS (SELECT t, CAST(sum(d) AS BIGINT) AS delta FROM b
        | GROUP BY t)
        |SELECT t, delta,
        | CAST(sum(delta) OVER (ORDER BY t ASC) AS BIGINT) AS active
        |FROM g""".stripMargin),

    // ordered-step funnel signup→view→click→purchase: entities whose
    // k-th step completes at-or-after their (k-1)-th — chained
    // whole-partition window minima, ONE exchange on user_id, no sort
    Query("q_funnel", (s, dir) => {
      operators.Behavior.funnelCounts(Tables.events(s, dir), "user_id",
        "event_type", "ts", Seq("signup", "view", "click", "purchase"))
    }, oracle =
      // chained whole-partition window minima replay the funnel: step k's
      // earliest completion among events at-or-after step k-1's
      """WITH e AS (
        | SELECT user_id, event_type,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ep
        | FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |s1 AS (SELECT *, min(CASE WHEN event_type = 'signup' THEN ep END)
        |  OVER (PARTITION BY user_id) AS t1 FROM e),
        |s2 AS (SELECT *, min(CASE WHEN event_type = 'view'
        |    AND ep >= t1 THEN ep END)
        |  OVER (PARTITION BY user_id) AS t2 FROM s1),
        |s3 AS (SELECT *, min(CASE WHEN event_type = 'click'
        |    AND ep >= t2 THEN ep END)
        |  OVER (PARTITION BY user_id) AS t3 FROM s2),
        |s4 AS (SELECT *, min(CASE WHEN event_type = 'purchase'
        |    AND ep >= t3 THEN ep END)
        |  OVER (PARTITION BY user_id) AS t4 FROM s3),
        |u AS (SELECT DISTINCT user_id, t1, t2, t3, t4 FROM s4),
        |agg AS (SELECT CAST(count(t1) AS BIGINT) AS c1,
        |  CAST(count(t2) AS BIGINT) AS c2,
        |  CAST(count(t3) AS BIGINT) AS c3,
        |  CAST(count(t4) AS BIGINT) AS c4 FROM u)
        |SELECT CAST(1 AS BIGINT) AS step, 'signup' AS step_name,
        |  c1 AS entities FROM agg
        |UNION ALL SELECT 2, 'view', c2 FROM agg
        |UNION ALL SELECT 3, 'click', c3 FROM agg
        |UNION ALL SELECT 4, 'purchase', c4 FROM agg""".stripMargin),

    // weekly cohort retention: cohort = week of first event, distinct
    // actives per (cohort, week offset)
    Query("q_cohort_retention", (s, dir) => {
      operators.Behavior.cohortRetention(Tables.events(s, dir),
          "user_id", "ts", "week")
        // `offset` is a reserved word in the oracle engine
        .select(col("cohort"), col("offset").as("week_no"),
          col("entities"))
    }, oracle =
      """WITH w AS (
        | SELECT user_id,
        |  CAST(date_trunc('week', min(ts) OVER (PARTITION BY user_id))
        |    AS DATE) AS cohort,
        |  CAST(date_trunc('week', ts) AS DATE) AS bucket
        | FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
        |SELECT cohort,
        | CAST(floor(date_diff('day', cohort, bucket) / 7) AS BIGINT)
        |   AS week_no,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS entities
        |FROM w GROUP BY 1, 2""".stripMargin),

    // first-order event-type transition matrix in sparse form: one lag
    // window pass + a ≤|types|² aggregate
    Query("q_transitions", (s, dir) => {
      operators.Behavior.transitions(Tables.events(s, dir), "user_id",
        "event_type", "ts", "event_id")
    }, oracle =
      """WITH seq AS (
        | SELECT event_type AS to_type,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts ASC, event_id ASC) AS from_type
        | FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
        |SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2""".stripMargin),

    // incident-report pair over the same state history: per user,
    // failure episodes ('error' islands), mean repair time of CLOSED
    // episodes, mean time between failure starts
    Query("q_reliability", (s, dir) =>
      operators.Behavior.reliability(Tables.events(s, dir), "user_id",
        "event_type", "ts", "event_id", downState = "error"), oracle =
      // q_scd2's islands chain filtered to 'error' episodes, then the
      // lag-over-starts reliability aggregates; avg of exact BIGINT
      // second durations -> one double division, 6dp
      """WITH flagged AS (
        | SELECT user_id, event_id, event_type AS state, ts,
        |  CASE WHEN lag(event_type) OVER w IS NULL
        |    OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0
        |  END AS chg
        | FROM events
        | WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |   AND event_type IS NOT NULL
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |islands AS (
        | SELECT user_id, state, ts,
        |  sum(chg) OVER (PARTITION BY user_id
        |    ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        | FROM flagged),
        |intervals AS (
        | SELECT user_id, island, min(state) AS state,
        |  min(ts) AS valid_from
        | FROM islands GROUP BY 1, 2),
        |hist AS (
        | SELECT user_id, state,
        |  CAST(epoch(date_trunc('second', valid_from)) AS BIGINT) AS f,
        |  CAST(epoch(date_trunc('second', lead(valid_from) OVER (
        |    PARTITION BY user_id ORDER BY island ASC))) AS BIGINT) AS t
        | FROM intervals),
        |downs AS (
        | SELECT user_id, f, t,
        |  lag(f) OVER (PARTITION BY user_id ORDER BY f ASC) AS pf
        | FROM hist WHERE state = 'error')
        |SELECT user_id, count(*) AS n_failures,
        | round(avg(t - f), 6) AS mttr_s,
        | round(avg(f - pf), 6) AS mtbf_s
        |FROM downs GROUP BY 1""".stripMargin),

    // Nagios flap detection over the state stream: trailing-21-check
    // weighted state-change percentage (0.8→1.2 linear recency
    // weights as exact rationals) + high/low hysteresis — all windowed
    // integer sums on one (user, ts) exchange
    Query("q_flap_detect", (s, dir) =>
      operators.Behavior.flapDetection(Tables.events(s, dir), "user_id",
        "event_type", "ts", "event_id", highPct = 20.0, lowPct = 5.0), oracle =
      // the Nagios weighted-change integer chain replayed: num =
      // 114·S1 − 2·(rn·S1 − S_rn) over the trailing-20 window, strict
      // >380 / <95 threshold events, latest-non-null hysteresis fill
      """WITH b AS (
        | SELECT user_id, event_type, ts,
        |  row_number() OVER w AS rn,
        |  CASE WHEN lag(event_type) OVER w IS NOT NULL
        |    AND lag(event_type) OVER w <> event_type
        |   THEN 1 ELSE 0 END AS chg
        | FROM events
        | WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |   AND event_type IS NOT NULL
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |s AS (
        | SELECT user_id, ts, event_type, rn,
        |  114 * sum(chg) OVER t
        |   - 2 * (rn * sum(chg) OVER t - sum(chg * rn) OVER t) AS num
        | FROM b
        | WINDOW t AS (PARTITION BY user_id ORDER BY rn ASC
        |   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
        |e AS (
        | SELECT user_id, ts, event_type, rn,
        |  round(CAST(num AS DOUBLE) * 100.0 / 1900.0, 6) AS pct,
        |  CASE WHEN CAST(num AS DOUBLE) > 380.0 THEN 1
        |       WHEN CAST(num AS DOUBLE) < 95.0 THEN 0 END AS evt
        | FROM s)
        |SELECT user_id, ts, event_type AS state, pct,
        | COALESCE(last_value(evt IGNORE NULLS) OVER (
        |   PARTITION BY user_id ORDER BY rn ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) = 1
        |  AS flapping
        |FROM e""".stripMargin),

    // Nagios soft/hard state confirmation: non-OK results harden at
    // the 3rd consecutive non-OK check (the retry counter spans
    // warn→crit, Nagios current_attempt semantics), OK is immediately
    // hard; emits the retry ordinal, the confirmed state, and the
    // notification rows (hard_change; starts-healthy fires nothing)
    Query("q_hard_state", (s, dir) => {
      val snap = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .withColumn("state",
          when(col("value") < 50, "ok")
            .when(col("value") < 80, "warn")
            .otherwise("crit"))
      operators.Behavior.hardSoftState(snap, "user_id", "state", "ts",
        "event_id", okState = "ok", maxAttempts = 3)
    }, oracle =
      // OK-flag gaps-and-islands (the q_sessionize recipe on the ok
      // flip): pos = rn − run_start + 1, attempt capped at 3 (1 on OK),
      // hard = ok OR pos >= 3, confirmed state = latest hard fill,
      // first-confirmed-OK fires nothing
      """WITH src AS (
        | SELECT user_id, ts, event_id,
        |  CASE WHEN value < 50 THEN 'ok' WHEN value < 80 THEN 'warn'
        |       ELSE 'crit' END AS state
        | FROM events
        | WHERE value IS NOT NULL AND user_id IS NOT NULL
        |   AND ts IS NOT NULL),
        |b AS (
        | SELECT user_id, state, ts, (state = 'ok') AS ok,
        |  row_number() OVER w AS rn,
        |  CASE WHEN lag(state = 'ok') OVER w IS NULL
        |    OR lag(state = 'ok') OVER w <> (state = 'ok')
        |   THEN row_number() OVER w END AS flip_rn
        | FROM src
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |st AS (
        | SELECT user_id, state, ts, rn, ok,
        |  rn - max(flip_rn) OVER r + 1 AS pos
        | FROM b
        | WINDOW r AS (PARTITION BY user_id ORDER BY rn ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |h AS (
        | SELECT user_id, state, ts, rn,
        |  CASE WHEN ok THEN 1 ELSE least(pos, 3) END AS attempt,
        |  (ok OR pos >= 3) AS hard
        | FROM st),
        |hs AS (
        | SELECT user_id, state, ts, rn, attempt, hard,
        |  last_value(CASE WHEN hard THEN state END IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY rn ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS hard_state
        | FROM h)
        |SELECT user_id, ts, state, CAST(attempt AS BIGINT) AS attempt,
        | CASE WHEN hard THEN 'HARD' ELSE 'SOFT' END AS state_type,
        | hard_state,
        | (hard_state IS NOT NULL AND
        |  CASE WHEN lag(hard_state) OVER v IS NULL
        |       THEN hard_state <> 'ok'
        |       ELSE lag(hard_state) OVER v <> hard_state END)
        |  AS hard_change
        |FROM hs
        |WINDOW v AS (PARTITION BY user_id ORDER BY rn ASC)"""
        .stripMargin),

    // Nagios re-notification schedule over the confirmed-state stream:
    // initial page at hard_change, repeat at the first check of each
    // elapsed 6h slot while the same non-OK state stays confirmed,
    // escalation from the first repeat — islands + integer slots, no
    // sequential recursion
    Query("q_notifications", (s, dir) => {
      val snap = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .withColumn("state",
          when(col("value") < 50, "ok")
            .when(col("value") < 80, "warn")
            .otherwise("crit"))
      operators.Behavior.notificationSchedule(snap, "user_id", "state",
        "ts", "event_id", okState = "ok", maxAttempts = 3,
        intervalSeconds = 21600L, escalateAfter = 1L)
    }, oracle =
      // the q_hard_state chain extended: hard_change islands over the
      // confirmed stream, elapsed-div-interval slots anchored on each
      // episode's first check, first check per slot notifies, ordinal
      // escalates from the first repeat
      """WITH src AS (
        | SELECT user_id, ts, event_id,
        |  CASE WHEN value < 50 THEN 'ok' WHEN value < 80 THEN 'warn'
        |       ELSE 'crit' END AS state
        | FROM events
        | WHERE value IS NOT NULL AND user_id IS NOT NULL
        |   AND ts IS NOT NULL),
        |b AS (
        | SELECT user_id, state, ts, event_id, (state = 'ok') AS ok,
        |  row_number() OVER w AS rn,
        |  CASE WHEN lag(state = 'ok') OVER w IS NULL
        |    OR lag(state = 'ok') OVER w <> (state = 'ok')
        |   THEN row_number() OVER w END AS flip_rn
        | FROM src
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |st AS (
        | SELECT user_id, state, ts, event_id, rn, ok,
        |  rn - max(flip_rn) OVER r + 1 AS pos
        | FROM b
        | WINDOW r AS (PARTITION BY user_id ORDER BY rn ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |h AS (
        | SELECT user_id, state, ts, event_id, rn,
        |  (ok OR pos >= 3) AS hard
        | FROM st),
        |hs AS (
        | SELECT user_id, state, ts, event_id, rn,
        |  last_value(CASE WHEN hard THEN state END IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY rn ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS hard_state
        | FROM h),
        |hc AS (
        | SELECT user_id, ts, event_id, rn, hard_state,
        |  (hard_state IS NOT NULL AND
        |   CASE WHEN lag(hard_state) OVER v IS NULL
        |        THEN hard_state <> 'ok'
        |        ELSE lag(hard_state) OVER v <> hard_state END)
        |   AS hard_change
        | FROM hs
        | WINDOW v AS (PARTITION BY user_id ORDER BY rn ASC)),
        |ep AS (
        | SELECT user_id, ts, event_id, rn, hard_state,
        |  sum(CASE WHEN hard_change THEN 1 ELSE 0 END) OVER (
        |    PARTITION BY user_id ORDER BY rn ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS epi
        | FROM hc WHERE hard_state IS NOT NULL),
        |sl AS (
        | SELECT user_id, ts, event_id, rn, hard_state, epi,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS e,
        |  (CAST(epoch(date_trunc('second', ts)) AS BIGINT)
        |   - min(CAST(epoch(date_trunc('second', ts)) AS BIGINT))
        |     OVER (PARTITION BY user_id, epi)) // 21600 AS slot
        | FROM ep WHERE hard_state <> 'ok'),
        |fr AS (
        | SELECT user_id, ts, hard_state, epi, slot,
        |  row_number() OVER (PARTITION BY user_id, epi, slot
        |    ORDER BY e ASC, event_id ASC) AS srn
        | FROM sl),
        |nn AS (
        | SELECT user_id, ts, hard_state AS state, epi,
        |  CAST(row_number() OVER (PARTITION BY user_id, epi
        |    ORDER BY slot ASC) - 1 AS BIGINT) AS notification_no
        | FROM fr WHERE srn = 1)
        |SELECT user_id, ts, state, notification_no,
        | (notification_no >= 1) AS escalated
        |FROM nn""".stripMargin),

    // snapshot changelog → SCD2 validity intervals: the status-stream
    // history build (consecutive equal states merge; open interval has
    // null valid_to)
    Query("q_scd2", (s, dir) => {
      operators.Behavior.scd2History(Tables.events(s, dir), "user_id",
          "event_type", "ts", "event_id")
        .select(col("user_id"), col("state"), col("valid_from"),
          col("valid_to"))
    }, oracle =
      // gaps-and-islands → validity intervals; lead over collapsed
      // islands supplies valid_to (null = open interval)
      """WITH flagged AS (
        | SELECT user_id, event_id, event_type AS state, ts,
        |  CASE WHEN lag(event_type) OVER w IS NULL
        |    OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0
        |  END AS chg
        | FROM events
        | WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |   AND event_type IS NOT NULL
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |islands AS (
        | SELECT user_id, state, ts,
        |  sum(chg) OVER (PARTITION BY user_id
        |    ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        | FROM flagged),
        |intervals AS (
        | SELECT user_id, island, min(state) AS state,
        |  min(ts) AS valid_from
        | FROM islands GROUP BY 1, 2)
        |SELECT user_id, state, valid_from,
        | lead(valid_from) OVER (PARTITION BY user_id
        |   ORDER BY island ASC) AS valid_to
        |FROM intervals""".stripMargin),

    // robust outliers: |value − median| > 3 · MAD per event type —
    // the heavy-tail-safe sibling of q_zscore_outliers, exact
    // interpolated percentiles on both sides
    Query("q_mad_outliers", (s, dir) => {
      operators.Behavior.madOutliers(Tables.events(s, dir),
          "event_type", "value", 3.0)
        .select(col("event_id"), col("event_type"))
    }, oracle =
      // exact interpolated medians on both sides (quantile_cont ==
      // Spark's percentile); two stats joins, then the robust cut
      """WITH f AS (
        | SELECT event_id, event_type, value FROM events
        | WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |med AS (SELECT event_type, quantile_cont(value, 0.5) AS m
        | FROM f GROUP BY 1),
        |mad AS (SELECT f.event_type, quantile_cont(abs(value - m), 0.5) AS d
        | FROM f JOIN med USING (event_type) GROUP BY 1)
        |SELECT event_id, f.event_type AS event_type
        |FROM f JOIN med USING (event_type) JOIN mad USING (event_type)
        |WHERE abs(value - m) > 3 * d""".stripMargin),

    // temporal validity lookup: SCD2 history built from the non-
    // purchase state stream, then each purchase enriched with the
    // state valid at its event time — the as-of join IS the validity-
    // interval join because SCD2 intervals tile each key's timeline
    Query("q_scd2_lookup", (s, dir) => {
      val ev = Tables.events(s, dir)
      val hist = operators.Behavior.scd2History(
        ev.filter(col("event_type") =!= "purchase"),
        "user_id", "event_type", "ts", "event_id")
      val probes = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      Relational.asOfJoin(probes,
        hist.select(col("user_id"), col("valid_from").as("ts"),
          col("state").as("as_of_state")),
        Seq("user_id"), "ts")
    }, oracle =
      // SCD2 intervals rebuilt from the non-purchase stream (the q_scd2
      // CTE), then DuckDB's native ASOF picks the state valid at each
      // purchase's time — intervals tile the timeline, so as-of on
      // valid_from IS the validity lookup
      """WITH flagged AS (
        | SELECT user_id, event_id, event_type AS state, ts,
        |  CASE WHEN lag(event_type) OVER w IS NULL
        |    OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0
        |  END AS chg
        | FROM events
        | WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |   AND event_type IS NOT NULL AND event_type <> 'purchase'
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |islands AS (
        | SELECT user_id, state, ts,
        |  sum(chg) OVER (PARTITION BY user_id
        |    ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        | FROM flagged),
        |hist AS (
        | SELECT user_id, min(state) AS state, min(ts) AS valid_from
        | FROM islands GROUP BY user_id, island),
        |probes AS (
        | SELECT event_id, user_id, ts FROM events
        | WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts, h.state AS as_of_state
        |FROM probes p ASOF LEFT JOIN hist h
        |  ON p.user_id = h.user_id AND p.ts >= h.valid_from""".stripMargin),

    // Kaplan-Meier time-to-first-error per acquisition cohort (first
    // event_type): users who never error are right-censored at their
    // last observation — they shrink the risk set without counting as
    // deaths, the correction naive failure fractions get wrong
    Query("q_kaplan_meier", (s, dir) => {
      val e = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_timestamp(col("ts")).as("e"))
      val per = e.groupBy(col("user_id"))
        .agg(min(col("e")).as("t0"),
          min(when(col("event_type") === "error", col("e")))
            .as("terr"),
          max(col("e")).as("tend"),
          min(struct(col("e"), col("event_id"), col("event_type")))
            .getField("event_type").as("cohort"))
      val subj = per.select(col("cohort"),
        when(col("terr").isNotNull, col("terr") - col("t0"))
          .otherwise(col("tend") - col("t0")).as("dur"),
        col("terr").isNotNull.as("event"))
      operators.Behavior.kaplanMeier(subj, Seq("cohort"), "dur",
        "event")
    }, oracle =
      // risk sets from a DESC cumulative sum over (cohort, duration)
      // counts, the survival product replayed by the recursive CTE in
      // event-time order — base 1·(1−d/n) == Spark's 1.0 seed exactly
      """WITH RECURSIVE e AS (
        | SELECT user_id, event_id, event_type,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS e
        | FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |per AS (
        | SELECT user_id, min(e) AS t0,
        |  min(CASE WHEN event_type = 'error' THEN e END) AS terr,
        |  max(e) AS tend
        | FROM e GROUP BY 1),
        |fe AS (
        | SELECT user_id, event_type AS cohort FROM (
        |  SELECT user_id, event_type, row_number() OVER (
        |    PARTITION BY user_id ORDER BY e ASC, event_id ASC) AS rn
        |  FROM e) x WHERE rn = 1),
        |subj AS (
        | SELECT f.cohort,
        |  CASE WHEN p.terr IS NOT NULL THEN p.terr - p.t0
        |       ELSE p.tend - p.t0 END AS duration,
        |  (p.terr IS NOT NULL) AS ev
        | FROM per p JOIN fe f ON p.user_id = f.user_id),
        |pd AS (
        | SELECT cohort, duration,
        |  sum(CASE WHEN ev THEN 1 ELSE 0 END) AS d, count(*) AS w
        | FROM subj GROUP BY 1, 2),
        |ar AS (
        | SELECT cohort, duration, d,
        |  sum(w) OVER (PARTITION BY cohort ORDER BY duration DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS n_at_risk
        | FROM pd),
        |et AS (
        | SELECT cohort, duration, d, n_at_risk,
        |  row_number() OVER (PARTITION BY cohort
        |    ORDER BY duration ASC) AS rn
        | FROM ar WHERE d > 0),
        |r AS (
        | SELECT cohort, duration, d, n_at_risk, rn,
        |  1.0 * (1.0 - CAST(d AS DOUBLE) / CAST(n_at_risk AS DOUBLE))
        |   AS s
        | FROM et WHERE rn = 1
        | UNION ALL
        | SELECT t.cohort, t.duration, t.d, t.n_at_risk, t.rn,
        |  r.s * (1.0 - CAST(t.d AS DOUBLE) / CAST(t.n_at_risk
        |    AS DOUBLE))
        | FROM et t JOIN r ON t.cohort = r.cohort AND t.rn = r.rn + 1)
        |SELECT cohort, duration, CAST(d AS BIGINT) AS d,
        | CAST(n_at_risk AS BIGINT) AS n_at_risk,
        | round(s, 6) AS survival
        |FROM r""".stripMargin),

    // session-LEVEL rollup of the gap rule (q_sessionize gives the
    // per-event session-id form): one row per (user, session) with
    // bounds and event count — one entity-keyed exchange, two window
    // passes sharing its sort, exchange-free final aggregate.
    // Epoch-seconds output (the funnel convention) keeps the hash
    // engine-portable
    Query("q_sessions", (s, dir) => {
      operators.Behavior.sessionize(Tables.events(s, dir),
          "user_id", "ts", gapSeconds = 1800L)
        .select(col("user_id"), col("session_no"),
          unix_timestamp(col("session_start")).as("start_ep"),
          unix_timestamp(col("session_end")).as("end_ep"),
          col("n_events"))
    }, oracle =
      // same second-resolution gap rule (funnel's epoch convention);
      // ROWS vs RANGE framing is immaterial because a tie-group's break
      // flag can only sit on its first row
      """WITH e AS (
        | SELECT user_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT)
        |   AS ep
        | FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |f AS (SELECT user_id, ep,
        |  CASE WHEN lag(ep) OVER w IS NULL
        |      OR ep - lag(ep) OVER w > 1800 THEN 1 ELSE 0 END AS brk
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ep)),
        |g AS (SELECT user_id, ep, CAST(sum(brk) OVER (
        |   PARTITION BY user_id ORDER BY ep
        |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
        | FROM f)
        |SELECT user_id, session_no, min(ep) AS start_ep,
        | max(ep) AS end_ep, count(*) AS n_events
        |FROM g GROUP BY 1, 2""".stripMargin),

    // PageRank by power iteration over the undirected order–supplier
    // graph from lineitem (both directions of each distinct pair).
    // 3 fixed rounds here (each round is a full exchange pair — the
    // oracle replays exactly these; deeper chains are pinned by
    // BehaviorSpec's 5-round fixtures); contributions sum as
    // DECIMAL(38,12) so the result is reduce-order-independent and
    // replayable by the oracle's unrolled-CTE chain
    Query("q_pagerank", (s, dir) => pageRankQuery(s, dir), oracle =
      // the power iteration unrolled: 3 chained CTEs, each the same
      // round/decimal-sum/round contribution chain the Spark operator
      // uses, so every intermediate is bit-identical
      s"""WITH pairs AS (SELECT DISTINCT
         |  'O' || CAST(l_orderkey AS VARCHAR) AS o,
         |  'S' || CAST(l_suppkey AS VARCHAR) AS p FROM lineitem),
         |e AS (SELECT o AS src, p AS dst FROM pairs
         |  UNION ALL SELECT p, o FROM pairs),
         |nodes AS (SELECT src AS node FROM e
         |  UNION SELECT dst FROM e),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         |pr0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS pr FROM nodes),
         |${pageRankIterCtesSql(3, "e")}
         |SELECT node, round(pr, 6) AS pagerank FROM pr3""".stripMargin),

    // personalized PageRank on the same order/supplier graph: restart
    // mass concentrated on every-10th supplier — proximity-to-seeds
    // scores, the seeded-relevance readout global centrality can't
    // express; same long-id trick, labels attached at the end
    Query("q_personalized_pagerank", (s, dir) => pprQuery(s, dir), oracle =
      // seeded restart: r = 1 on every-10th supplier node, 0 elsewhere;
      // pr0 = r; otherwise the exact q_pagerank iteration replay
      s"""WITH pairs AS (SELECT DISTINCT
         |  'O' || CAST(l_orderkey AS VARCHAR) AS o,
         |  'S' || CAST(l_suppkey AS VARCHAR) AS p FROM lineitem),
         |e AS (SELECT o AS src, p AS dst FROM pairs
         |  UNION ALL SELECT p, o FROM pairs),
         |seeds AS (SELECT DISTINCT 'S' || CAST(l_suppkey AS VARCHAR)
         |  AS node FROM lineitem WHERE l_suppkey % 10 = 0),
         |nodes AS (SELECT n.node,
         |  CASE WHEN s.node IS NOT NULL THEN CAST(1.0 AS DOUBLE)
         |       ELSE CAST(0.0 AS DOUBLE) END AS r
         |  FROM (SELECT src AS node FROM e
         |    UNION SELECT dst FROM e) n
         |  LEFT JOIN seeds s ON n.node = s.node),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         |pr0 AS (SELECT node, r, r AS pr FROM nodes),
         |${personalizedPrIterCtesSql(3, "e")}
         |SELECT node, round(pr, 6) AS pagerank FROM pr3""".stripMargin),

    // per-node triangle counts on the part co-purchase graph (parts
    // sharing >= 2 distinct orders): degree-ordered orientation keeps
    // the wedge join O(E^1.5) even on skewed degrees — the hub node
    // never enumerates its own deg^2 wedges
    Query("q_triangles", (s, dir) =>
      operators.Behavior.triangleCounts(
        coPurchaseEdges(s, dir), "u", "v"), oracle =
      // the oriented-wedge enumeration replayed: same canonical edges,
      // same (degree, node) total order, same close condition — every
      // triangle appears exactly once in both engines, so per-node
      // participation counts hash-match
      s"""WITH $coPurchaseEdgesSql,
        |deg AS (
        | SELECT node, count(*) AS d FROM (
        |  SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0) n
        | GROUP BY 1),
        |o AS (
        | SELECT
        |  CASE WHEN du.d < dv.d OR (du.d = dv.d AND e0.u < e0.v)
        |   THEN e0.u ELSE e0.v END AS a,
        |  CASE WHEN du.d < dv.d OR (du.d = dv.d AND e0.u < e0.v)
        |   THEN e0.v ELSE e0.u END AS b,
        |  CASE WHEN du.d < dv.d OR (du.d = dv.d AND e0.u < e0.v)
        |   THEN dv.d ELSE du.d END AS db
        | FROM e0 JOIN deg du ON e0.u = du.node
        |  JOIN deg dv ON e0.v = dv.node),
        |w AS (
        | SELECT e1.a, e1.b, e2.b AS c
        | FROM o e1 JOIN o e2 ON e1.a = e2.a
        |  AND (e1.db < e2.db OR (e1.db = e2.db AND e1.b < e2.b))),
        |t AS (
        | SELECT w.a, w.b, w.c
        | FROM w JOIN o e3 ON w.b = e3.a AND w.c = e3.b)
        |SELECT node, CAST(count(*) AS BIGINT) AS triangles
        |FROM (SELECT unnest([a, b, c]) AS node FROM t) x
        |GROUP BY 1""".stripMargin),

    // k-core over the same support-2 co-purchase graph: iterative
    // peel to the fixpoint — the cohesive-community filter between
    // triangle density and PageRank centrality; spam/bridge parts
    // shell away, survivors report their in-core degree
    // the peel unrolled to 14 rounds — at the fixpoint every further
    // round is the identity, so any R >= the data's shell depth (11
    // at sf0.01, 1 at sf0.001) replays the operator exactly. Each
    // round's CTEs are MATERIALIZED: DuckDB inlines CTEs by default,
    // and e_i references e_{i-1} three times — unmaterialized, the
    // 14-round chain expands to 3^14 base-table scans
    Query("q_kcore", (s, dir) =>
      operators.Behavior.kCore(coPurchaseEdges(s, dir), "u", "v",
        k = 3), oracle = {
      val rounds = (1 to 14).map { i =>
        s"""deg$i AS MATERIALIZED (
           | SELECT node, count(*) AS d FROM (
           |  SELECT u AS node FROM e${i - 1}
           |  UNION ALL SELECT v FROM e${i - 1}) n$i
           | GROUP BY 1),
           |keep$i AS MATERIALIZED (SELECT node FROM deg$i WHERE d >= 3),
           |e$i AS MATERIALIZED (
           | SELECT u, v FROM e${i - 1}
           | WHERE u IN (SELECT node FROM keep$i)
           |   AND v IN (SELECT node FROM keep$i))""".stripMargin
      }.mkString(",\n")
      // fixpoint ASSERTION (ADVICE r9): the unroll is only correct
      // while the data's shell depth is <= 14 (11 at sf0.01) — at a
      // larger SF an under-peeled oracle would silently report a
      // spurious hash-FAIL against the correct operator. If round 14
      // still removed edges, the oracle now ERRORS loudly instead of
      // comparing a wrong answer.
      s"""WITH $coPurchaseEdgesSql,
         |$rounds,
         |chk AS (SELECT CASE
         |  WHEN (SELECT count(*) FROM e14) = (SELECT count(*) FROM e13)
         |  THEN 1 ELSE error('q_kcore oracle: edge set still shrinking '
         |    || 'after 14 peel rounds - raise the unroll depth for '
         |    || 'this SF') END AS ok)
         |SELECT node, count(*) AS core_degree FROM (
         | SELECT u AS node FROM e14 UNION ALL SELECT v FROM e14) f
         |CROSS JOIN chk
         |GROUP BY 1""".stripMargin
    })
  )
}
