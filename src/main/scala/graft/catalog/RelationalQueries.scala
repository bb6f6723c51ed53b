package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ScalarOps
import graft.operators.Relational
import graft.sources.Tables

import Fragments.dsum

/** Relational queries ([[operators.Relational]] and plain Spark SQL):
  * aggregates, semi/anti/as-of/range/interval joins, windows, set
  * operations, the SQL-surface rewrites and the z-order layout.
  */
object RelationalQueries {

  lazy val all: Seq[Query] = Seq(
    Query("q1_agg", (s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("count_order"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"),
          dsum(col("l_extendedprice")).as("sum_price"))
    }, oracle =
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | count(*) AS count_order, min(l_extendedprice) AS min_price,
        | max(l_extendedprice) AS max_price,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),

    Query("q_semi_join", (s, dir) => {
      val members = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "MACHINERY")
        .select(col("c_custkey").as("user_id"))
      Relational.semiJoinMembers(Tables.events(s, dir), members,
          Seq("user_id"))
        .select("event_id", "user_id", "event_type")
    }, oracle =
      """SELECT e.event_id, e.user_id, e.event_type FROM events e
        |WHERE EXISTS (SELECT 1 FROM customer c
        |  WHERE c.c_custkey = e.user_id
        |    AND c.c_mktsegment = 'MACHINERY')""".stripMargin),

    Query("q_anti_dedup", (s, dir) => {
      val ev = Tables.events(s, dir)
      val current = ev.filter(col("ts") >= lit("2024-01-10"))
      val previous = ev.filter(col("ts") < lit("2024-01-15"))
      Relational.antiJoinDedup(current, previous)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    }, oracle =
      """SELECT event_id, ts, user_id, event_type, value, props
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10'
        |  AND ts >= TIMESTAMP '2024-01-15'""".stripMargin),

    // snapshot drift report: two synthetic "runs" of the orders
    // extract (cur drops %17 keys, adds the %13 keys prev lacks, and
    // bumps %5 prices) classified added/removed/changed by content
    // hash — full outer join over (key, hash) only
    Query("q_snapshot_diff", (s, dir) => {
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val prev = base.filter(col("o_orderkey") % 13 =!= 0)
      val cur = base.filter(col("o_orderkey") % 17 =!= 0)
        .withColumn("o_totalprice", col("o_totalprice") +
          when(col("o_orderkey") % 5 === 0, 1.0).otherwise(0.0))
      Relational.snapshotDiff(prev, cur, Seq("o_orderkey"))
    }, oracle =
      // classification-equivalent oracle: Spark classifies via 256-bit
      // content hashes (the 40 B/row exchange form); for identical
      // inputs hash equality == value-tuple equality, so DuckDB can
      // classify by direct IS DISTINCT FROM comparison
      """WITH base AS (
        | SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
        |prev AS (SELECT * FROM base WHERE o_orderkey % 13 <> 0),
        |cur AS (
        | SELECT o_orderkey,
        |  o_totalprice + CASE WHEN o_orderkey % 5 = 0
        |    THEN 1.0 ELSE 0.0 END AS o_totalprice,
        |  o_orderstatus
        | FROM base WHERE o_orderkey % 17 <> 0)
        |SELECT coalesce(p.o_orderkey, c.o_orderkey) AS o_orderkey,
        | CASE WHEN p.o_orderkey IS NULL THEN 'added'
        |      WHEN c.o_orderkey IS NULL THEN 'removed'
        |      WHEN p.o_totalprice IS DISTINCT FROM c.o_totalprice
        |        OR p.o_orderstatus IS DISTINCT FROM c.o_orderstatus
        |       THEN 'changed' END AS change
        |FROM prev p FULL OUTER JOIN cur c ON p.o_orderkey = c.o_orderkey
        |WHERE p.o_orderkey IS NULL OR c.o_orderkey IS NULL
        |   OR p.o_totalprice IS DISTINCT FROM c.o_totalprice
        |   OR p.o_orderstatus IS DISTINCT FROM c.o_orderstatus""".stripMargin),

    Query("q_latest_per_key", (s, dir) => {
      Relational.latestPerKey(Tables.events(s, dir), Seq("user_id"),
          "ts", "event_id")
        .select("user_id", "event_id", "ts", "event_type", "value")
    }, oracle =
      """SELECT user_id, event_id, ts, event_type, value FROM (
        | SELECT *, row_number() OVER (
        |   PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) t WHERE rn = 1""".stripMargin),

    // full outer reconciliation: activity per user ⟗ the customer dim —
    // rows for silent customers AND for events whose user is unknown
    Query("q_full_outer", (s, dir) => {
      val perUser = Tables.events(s, dir).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"))
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      perUser.join(cust, Seq("user_id"), "full_outer")
        .select(col("user_id"), col("n_events"), col("c_mktsegment"))
    }, oracle =
      """SELECT COALESCE(e.user_id, c.user_id) AS user_id,
        | e.n_events, c.c_mktsegment
        |FROM (SELECT user_id, count(*) AS n_events FROM events
        |  GROUP BY user_id) e
        |FULL OUTER JOIN (SELECT c_custkey AS user_id, c_mktsegment
        |  FROM customer) c ON e.user_id = c.user_id""".stripMargin),

    // set intersection on the key domain (intersect already has set
    // semantics — no pre-distinct pass)
    Query("q_intersect", (s, dir) => {
      Tables.events(s, dir).select(col("user_id"))
        .intersect(Tables.customer(s, dir)
          .filter(col("c_mktsegment") === "HOUSEHOLD")
          .select(col("c_custkey").as("user_id")))
    }, oracle =
      """SELECT user_id FROM events
        |INTERSECT
        |SELECT c_custkey AS user_id FROM customer
        |WHERE c_mktsegment = 'HOUSEHOLD'""".stripMargin),

    // statistical aggregates from exact decimal moments: Pearson
    // correlation per group computed from Σx, Σy, Σxy, Σx², Σy², n —
    // the built-in corr() accumulates doubles in partition order
    // (non-deterministic across engines AND across shuffles); the
    // moment form is order-independent and hash-matches
    Query("q_corr_moments", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      def d(c: Column) = sum(c.cast("decimal(28,6)")).cast("double")
      // r16: four of the five moment sums run on exact scaled LONGS
      // instead of per-row double→decimal casts (the cast goes through
      // Double.toString — measured 1.81 s vs 0.27 s for the aggregate;
      // ProfileCorrMoments). Bit-parity with the r5-r15 decimal form
      // is PROVEN, not assumed: l_quantity is integer-valued (≤ 50)
      // and l_extendedprice carries exactly 2 decimals (≤ ~115k), so
      //  - q, q² are exact integers; Σ ≤ 1.5e9 — exact in long and
      //    double; identical to summing their exact decimal images.
      //  - p·100 rounds to an exact long (double error ~1e-9 vs the
      //    0.5 boundary), so Σp and Σq·p are exact scaled longs; the
      //    decimal path's per-row cast(q·p AS DECIMAL(28,6)) also
      //    recovers exact q·p (a 2dp value: the double product sits
      //    ~2e-9 from it, the nearest 6dp half-boundary 5e-7 away),
      //    so both paths sum identical values; the final /100 on an
      //    exact decimal is exact, and the double cast rounds the
      //    same exact value once.
      //  - p² is the one term where the double product's distance to
      //    a 6dp half-boundary (ulp ~2e-6 at 1.3e10) can exceed the
      //    margin — syy KEEPS the decimal-cast sum verbatim.
      // Scaled sums accumulate as DECIMAL(38,0)/(38,2) of longs (the
      // long→decimal constructor is compact, no string round-trip),
      // so the formulation stays exact past 2^53 rows·units at 100 TB.
      val q = col("l_quantity").cast("long")
      val p100 = round(col("l_extendedprice") * 100, 0).cast("long")
      val g = li.groupBy(col("l_returnflag")).agg(
        sum(q.cast("decimal(38,0)")).cast("double").as("sx"),
        (sum(p100.cast("decimal(38,2)")) / 100).cast("double").as("sy"),
        (sum((q * p100).cast("decimal(38,2)")) / 100).cast("double")
          .as("sxy"),
        sum((q * q).cast("decimal(38,0)")).cast("double").as("sxx"),
        d(col("l_extendedprice") * col("l_extendedprice")).as("syy"),
        count(lit(1)).cast("double").as("n"))
      g.select(col("l_returnflag"),
        round(((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy")))), 6)
          .as("corr_qty_price"))
    }, oracle =
      """SELECT l_returnflag,
        | round((n * sxy - sx * sy) /
        |   sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
        |   AS corr_qty_price
        |FROM (
        | SELECT l_returnflag,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sy,
        |  CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(28,6)))
        |    AS DOUBLE) AS sxy,
        |  CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,6)))
        |    AS DOUBLE) AS sxx,
        |  CAST(sum(CAST(l_extendedprice * l_extendedprice
        |    AS DECIMAL(28,6))) AS DOUBLE) AS syy,
        |  CAST(count(*) AS DOUBLE) AS n
        | FROM lineitem GROUP BY l_returnflag) t""".stripMargin),

    // correlated EXISTS subquery: Catalyst's decorrelation rewrites it
    // to a semi join — planner surface the DataFrame DSL never touches
    Query("q_correlated_exists", (s, dir) => {
      Tables.supplier(s, dir).createOrReplaceTempView("g_supplier")
      Tables.lineitem(s, dir).createOrReplaceTempView("g_lineitem")
      s.sql("""
        SELECT s.s_suppkey, s.s_name FROM g_supplier s
        WHERE EXISTS (SELECT 1 FROM g_lineitem l
          WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49)""")
    }, oracle =
      """SELECT s.s_suppkey, s.s_name FROM supplier s
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49)""".stripMargin),

    // correlated SCALAR aggregate subquery (customer above its
    // nation's mean balance): decorrelated to an aggregate + join.
    // Exact-decimal mean so the comparison is engine-portable; a
    // single-member nation compares a value against exactly itself
    // (sum/1 round-trips bit-identically through decimal(18,2) — the
    // balances carry two decimals)
    Query("q_scalar_subquery", (s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("g_customer")
      s.sql("""
        SELECT c.c_custkey, c.c_name FROM g_customer c
        WHERE c.c_acctbal > (
          SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
            / count(*)
          FROM g_customer c2 WHERE c2.c_nationkey = c.c_nationkey)""")
    }, oracle =
      """SELECT c.c_custkey, c.c_name FROM customer c
        |WHERE c.c_acctbal > (
        |  SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    / count(*)
        |  FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)""".stripMargin),

    // the SQL frontend end-to-end: same engine, declared as SQL text
    // over registered views (TPC-H Q3 shape) — proves the full parser/
    // analyzer path, not just the DataFrame DSL
    Query("q_sql_shipping_priority", (s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("g_customer")
      Tables.orders(s, dir).createOrReplaceTempView("g_orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("g_lineitem")
      s.sql("""
        SELECT l.l_orderkey,
          CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
            AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
          o.o_orderdate, o.o_orderpriority
        FROM g_customer c
        JOIN g_orders o ON c.c_custkey = o.o_custkey
        JOIN g_lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < DATE '1995-03-15'
          AND l.l_shipdate > DATE '1995-03-15'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
        LIMIT 10""")
    }, oracle =
      """SELECT l.l_orderkey,
        | CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
        |   AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | o.o_orderdate, o.o_orderpriority
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < DATE '1995-03-15'
        |  AND l.l_shipdate > DATE '1995-03-15'
        |GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        |ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
        |LIMIT 10""".stripMargin),

    // analytic window surface: lag/lead/rank/running aggregate in one
    // pass — hash exchange on the key + one per-partition sort serves
    // all four functions
    Query("q_window_funcs", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .filter(col("user_id") < 300)
        .select(col("user_id"), col("event_id"), col("ts"),
          lag(col("value"), 1).over(w).as("prev_value"),
          lead(col("value"), 1).over(w).as("next_value"),
          row_number().over(w).cast("long").as("rn"),
          sum(col("value").cast("decimal(18,2)")).over(wRun)
            .cast("double").as("running_value"))
    }, oracle =
      """SELECT user_id, event_id, ts,
        | lag(value, 1) OVER w AS prev_value,
        | lead(value, 1) OVER w AS next_value,
        | CAST(row_number() OVER w AS BIGINT) AS rn,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
        |   PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |   AS running_value
        |FROM events WHERE user_id < 300
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin),

    // global sort: range exchange + per-partition sort (the only
    // total-order operator; everything else avoids it deliberately)
    Query("q_global_sort", (s, dir) => {
      Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .orderBy(col("value").desc, col("event_id"))
        .select(col("event_id"), col("user_id"), round(col("value"), 2)
          .as("value2"))
    }, oracle =
      """SELECT event_id, user_id, round(value, 2) AS value2
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY value DESC, event_id""".stripMargin),

    // skew-safe two-phase form; same oracle as the window form — the
    // oracle row IS the equivalence proof
    Query("q_latest_per_key_salted", (s, dir) => {
      Relational.latestPerKeySalted(Tables.events(s, dir), Seq("user_id"),
          "ts", "event_id", saltBuckets = 8)
        .select("user_id", "event_id", "ts", "event_type", "value")
    }, oracle =
      """SELECT user_id, event_id, ts, event_type, value FROM (
        | SELECT *, row_number() OVER (
        |   PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) t WHERE rn = 1""".stripMargin),

    Query("q_type_route", (s, dir) => {
      val routed = Tables.part(s, dir).withColumn("metric_family",
        when(ScalarOps.familyPredicate(col("p_type"), "promo"), "promo")
          .when(ScalarOps.familyPredicate(col("p_type"), "small"), "small")
          .when(ScalarOps.familyPredicate(col("p_type"), "large"), "large")
          .otherwise(lit(null).cast("string")))
      routed.groupBy(col("metric_family"))
        .agg(count(lit(1)).as("n"), dsum(col("p_retailprice")).as("sum_price"))
    }, oracle =
      """SELECT CASE WHEN lower(p_type) LIKE '%promo%' THEN 'promo'
        |  WHEN lower(p_type) LIKE '%small%' THEN 'small'
        |  WHEN lower(p_type) LIKE '%large%' THEN 'large'
        |  ELSE NULL END AS metric_family,
        | count(*) AS n,
        | CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM part GROUP BY 1""".stripMargin),

    Query("q_multi_join", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r.filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")),
            scale = 4).as("revenue"),
          count(lit(1)).as("n_lines"))
    }, oracle =
      """SELECT n.n_name,
        | CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
        |   AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | count(*) AS n_lines
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |GROUP BY n.n_name""".stripMargin),

    // the big lineitem⋈orders pairing served from pre-bucketed tables:
    // the join itself plans with ZERO exchange (bucket-local SMJ); the
    // only shuffle left is the final tiny aggregation. Same revenue
    // semantics as q_multi_join, grouped by order priority.
    Query("q_multi_join_bucketed", (s, dir) => {
      val li = Tables.bucketed(s, dir, "lineitem", "l_orderkey", 16)
      val o = Tables.bucketed(s, dir, "orders", "o_orderkey", 16)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")),
            scale = 4).as("revenue"),
          count(lit(1)).as("n_lines"))
    }, oracle =
      """SELECT o.o_orderpriority,
        | CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
        |   AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | count(*) AS n_lines
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderpriority""".stripMargin),

    Query("q_asof_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      val probe = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val build = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"),
          col("value").as("signup_value"),
          col("event_id").as("signup_event_id"))
      Relational.asOfJoin(probe, build, Seq("user_id"), "ts")
    }, oracle =
      """SELECT p.event_id, p.user_id, p.ts, p.value,
        | s.value AS signup_value, s.event_id AS signup_event_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON p.user_id = s.user_id AND p.ts >= s.ts""".stripMargin),

    // interval containment as a binned hash equi-join (never a
    // broadcast nested loop): 300 synthetic 30-minute maintenance
    // windows laid out over the events month, each event paired with
    // every window containing it
    Query("q_range_join", (s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("ts").isNotNull)
        .select(col("event_id"), unix_timestamp(col("ts")).as("pt"))
      val wid = col("n_nationkey") * 12 + col("k")
      val windows = Tables.nation(s, dir)
        .select(col("n_nationkey"), explode(sequence(lit(0), lit(11))).as("k"))
        .select(wid.cast("long").as("window_id"),
          (lit(1704067200L) + wid * 7200L).as("w_start"))
        .withColumn("w_end", col("w_start") + 1800L)
      Relational.rangeJoin(ev, windows, "pt", "w_start", "w_end",
          binWidth = 3600L)
        .select(col("event_id"), col("window_id"))
    }, oracle =
      // same 300 windows rebuilt relationally; the binning is an engine
      // detail, so the oracle is the plain containment join
      """WITH w AS (
        | SELECT CAST(n_nationkey * 12 + k AS BIGINT) AS window_id,
        |  1704067200 + (n_nationkey * 12 + k) * 7200 AS w_start,
        |  1704067200 + (n_nationkey * 12 + k) * 7200 + 1800 AS w_end
        | FROM nation, (SELECT unnest(range(0, 12)) AS k) ks),
        |e AS (
        | SELECT event_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS pt
        | FROM events WHERE ts IS NOT NULL)
        |SELECT e.event_id, w.window_id
        |FROM e JOIN w ON e.pt >= w.w_start AND e.pt <= w.w_end""".stripMargin),

    // the SAME interval pairing written as a plain non-equi join, made
    // scalable by the RangeJoinRewrite optimizer rule: the user keeps
    // the natural BETWEEN query text and the rule plans the binned
    // equi-join transparently (PlanSpec asserts no nested loop)
    Query("q_range_join_rule", (s, dir) => {
      graft.plans.RangeJoinRewrite.install(s)
      // conf-scoped: the rewrite must not leak into every later query
      // on this shared session, and optimization happens lazily — so
      // materialize eagerly under the conf, then restore it
      val prevWidth = s.conf.getOption(graft.plans.RangeJoinRewrite.WidthConf)
      s.conf.set(graft.plans.RangeJoinRewrite.WidthConf, "3600")
      try {
        val ev = Tables.events(s, dir)
          .filter(col("ts").isNotNull)
          .select(col("event_id"), unix_timestamp(col("ts")).as("pt"))
        val wid = col("n_nationkey") * 12 + col("k")
        val windows = Tables.nation(s, dir)
          .select(col("n_nationkey"),
            explode(sequence(lit(0), lit(11))).as("k"))
          .select(wid.cast("long").as("window_id"),
            (lit(1704067200L) + wid * 7200L).as("w_start"))
          .withColumn("w_end", col("w_start") + 1800L)
        ev.join(windows,
            ev("pt") >= windows("w_start") && ev("pt") <= windows("w_end"))
          .select(col("event_id"), col("window_id"))
          .localCheckpoint(eager = true)
      } finally prevWidth match {
        case Some(v) =>
          s.conf.set(graft.plans.RangeJoinRewrite.WidthConf, v)
        case None =>
          s.conf.unset(graft.plans.RangeJoinRewrite.WidthConf)
      }
    }, oracle =
      // identical semantics to q_range_join — the rule must not change
      // results, only the plan
      """WITH w AS (
        | SELECT CAST(n_nationkey * 12 + k AS BIGINT) AS window_id,
        |  1704067200 + (n_nationkey * 12 + k) * 7200 AS w_start,
        |  1704067200 + (n_nationkey * 12 + k) * 7200 + 1800 AS w_end
        | FROM nation, (SELECT unnest(range(0, 12)) AS k) ks),
        |e AS (
        | SELECT event_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS pt
        | FROM events WHERE ts IS NOT NULL)
        |SELECT e.event_id, w.window_id
        |FROM e JOIN w ON e.pt >= w.w_start AND e.pt <= w.w_end""".stripMargin),

    // interval×interval overlap join — rangeJoin's two-sided sibling:
    // which user sessions ran CONCURRENTLY. Both sides explode to
    // hour buckets and meet in a hash equi-join (never a nested
    // loop); the canonical-bin conjunct (bucket of the later start)
    // emits each pair exactly once with no distinct
    Query("q_interval_overlap", (s, dir) => {
      val sess = operators.Behavior.sessionize(Tables.events(s, dir),
          "user_id", "ts", gapSeconds = 1800L)
        .select(col("user_id"), col("session_no"),
          unix_timestamp(col("session_start")).as("s"),
          unix_timestamp(col("session_end")).as("t"))
        .localCheckpoint(true) // feeds both join sides: one window pass
      val a = sess.select(col("user_id").as("user_a"),
        col("session_no").as("sess_a"), col("s").as("s_a"),
        col("t").as("t_a"))
      val b = sess.select(col("user_id").as("user_b"),
        col("session_no").as("sess_b"), col("s").as("s_b"),
        col("t").as("t_b"))
      Relational.intervalOverlapJoin(a, b, "s_a", "t_a", "s_b", "t_b",
          binWidth = 3600L)
        .filter(col("user_a") < col("user_b"))
        .select(col("user_a"), col("sess_a"), col("user_b"),
          col("sess_b"),
          (least(col("t_a"), col("t_b")) -
            greatest(col("s_a"), col("s_b"))).as("overlap_s"))
    }, oracle =
      // the binning + canonical-bin dedup are engine details; the
      // oracle is sessionize (the q_sessionize window semantics:
      // full-precision ts order, default RANGE frame shared by both
      // engines) + the plain overlap self-join
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
        | FROM sess GROUP BY 1, 2)
        |SELECT a.user_id AS user_a, a.session_no AS sess_a,
        | b.user_id AS user_b, b.session_no AS sess_b,
        | least(a.t, b.t) - greatest(a.s, b.s) AS overlap_s
        |FROM iv a JOIN iv b
        | ON a.user_id < b.user_id AND a.s <= b.t AND b.s <= a.t"""
        .stripMargin),

    // the OPTIMIZER-RULE arm of the overlap join: the same pairs from
    // PLAIN non-equi join text (what a SQL user writes), binned
    // transparently by IntervalOverlapRewrite — q_interval_overlap's
    // oracle pins both arms to the identical result
    Query("q_overlap_join_rule", (s, dir) => {
      graft.plans.IntervalOverlapRewrite.install(s)
      val conf = graft.plans.IntervalOverlapRewrite.WidthConf
      val prev = s.conf.getOption(conf)
      s.conf.set(conf, "3600")
      try {
        val sess = operators.Behavior.sessionize(Tables.events(s, dir),
            "user_id", "ts", gapSeconds = 1800L)
          .select(col("user_id"), col("session_no"),
            unix_timestamp(col("session_start")).as("s"),
            unix_timestamp(col("session_end")).as("t"))
          .localCheckpoint(true)
        val a = sess.select(col("user_id").as("user_a"),
          col("session_no").as("sess_a"), col("s").as("s_a"),
          col("t").as("t_a"))
        val b = sess.select(col("user_id").as("user_b"),
          col("session_no").as("sess_b"), col("s").as("s_b"),
          col("t").as("t_b"))
        a.join(b, a("s_a") <= b("t_b") && b("s_b") <= a("t_a") &&
            a("user_a") < b("user_b"))
          .select(col("user_a"), col("sess_a"), col("user_b"),
            col("sess_b"),
            (least(col("t_a"), col("t_b")) -
              greatest(col("s_a"), col("s_b"))).as("overlap_s"))
          .localCheckpoint(eager = true) // materialize under the conf
      } finally prev match {
        case Some(v) => s.conf.set(conf, v)
        case None => s.conf.unset(conf)
      }
    }, oracle =
      // the rule arm produces the SAME pairs from plain join text —
      // identical oracle to q_interval_overlap
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
        | FROM sess GROUP BY 1, 2)
        |SELECT a.user_id AS user_a, a.session_no AS sess_a,
        | b.user_id AS user_b, b.session_no AS sess_b,
        | least(a.t, b.t) - greatest(a.s, b.s) AS overlap_s
        |FROM iv a JOIN iv b
        | ON a.user_id < b.user_id AND a.s <= b.t AND b.s <= a.t"""
        .stripMargin),

    // gap-based sessionization: number each user's sessions by
    // cumulative new-session flags (gap > 30 min starts a session) —
    // the per-event session-id form that session_window's grouped
    // aggregate can't give you. One exchange on user_id serves both
    // window passes.
    Query("q_sessionize", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val epoch = unix_timestamp(col("ts"))
      val prev = lag(epoch, 1).over(w)
      val newSession = when(prev.isNull || epoch - prev > 1800L, 1L)
        .otherwise(0L)
      Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
        .select(col("event_id"), col("user_id"),
          sum(newSession).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("session_no"))
    }, oracle =
      """SELECT event_id, user_id,
        | CAST(sum(new_session) OVER (PARTITION BY user_id
        |   ORDER BY ts ASC, event_id ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS BIGINT) AS session_no
        |FROM (
        | SELECT event_id, user_id, ts,
        |  CASE WHEN lag(epoch_s) OVER w IS NULL
        |    OR epoch_s - lag(epoch_s) OVER w > 1800 THEN 1 ELSE 0
        |  END AS new_session
        | FROM (
        |  SELECT event_id, user_id, ts,
        |   CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch_s
        |  FROM events
        |  WHERE ts IS NOT NULL AND user_id IS NOT NULL) t
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |) flagged""".stripMargin),

    // decile assignment within each event type — NTILE's equal-count
    // buckets (vs q_histogram's equal-width). Tie-broken on event_id
    // so the assignment is deterministic in both engines
    Query("q_ntile", (s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value").asc, col("event_id").asc)
      Tables.events(s, dir)
        .filter(col("value").isNotNull && col("event_type").isNotNull)
        .select(col("event_id"), col("event_type"),
          ntile(10).over(w).cast("long").as("decile"))
    }, oracle =
      """SELECT event_id, event_type,
        | CAST(ntile(10) OVER (PARTITION BY event_type
        |   ORDER BY value ASC, event_id ASC) AS BIGINT) AS decile
        |FROM events
        |WHERE value IS NOT NULL AND event_type IS NOT NULL""".stripMargin),

    // equal-width value histogram per event type: floor-bucket counts.
    // Parity rests on floor(double / 10) being ONE correctly-rounded
    // IEEE op computed identically by both engines — not on integer
    // exactness (value is a double)
    Query("q_histogram", (s, dir) => {
      Tables.events(s, dir)
        .filter(col("value").isNotNull && col("event_type").isNotNull)
        .groupBy(col("event_type"),
          floor(col("value") / 10).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
    }, oracle =
      """SELECT event_type, CAST(floor(value / 10) AS BIGINT) AS bucket,
        | CAST(count(*) AS BIGINT) AS n
        |FROM events
        |WHERE value IS NOT NULL AND event_type IS NOT NULL
        |GROUP BY 1, 2""".stripMargin),

    // conditional aggregation (FILTER-clause semantics): several
    // differently-filtered aggregates from ONE scan + ONE exchange —
    // the alternative (one query per predicate) re-reads the fact
    // table per metric. sum(when(p, x)) is Spark's codegen'd FILTER.
    Query("q_agg_filter", (s, dir) => {
      Tables.lineitem(s, dir).groupBy(col("l_returnflag")).agg(
        sum(when(col("l_discount") > 0.05,
          col("l_quantity").cast("decimal(18,2)"))).cast("double")
          .as("disc_qty"),
        count(when(col("l_quantity") >= 30, lit(1))).as("big_n"),
        sum(when(col("l_linestatus") === "F",
          (col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)"))).cast("double").as("rev_f"),
        count(lit(1)).as("n"))
    }, oracle =
      """SELECT l_returnflag,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
        |   FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS disc_qty,
        | CAST(count(*) FILTER (WHERE l_quantity >= 30) AS BIGINT) AS big_n,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
        |   FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS rev_f,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // time-RANGE window frame: per-user rolling 1h sum/count, framed
    // by event-time VALUE (not row count) — peers at the same second
    // share a frame. One exchange on user_id, one sort serves both
    // aggregates; the frame is evaluated with a sliding accumulator,
    // not a per-row rescan.
    Query("q_range_frame", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("epoch_s"))
        .rangeBetween(-3600L, 0L)
      Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("epoch_s"), col("value"))
        .select(col("event_id"), col("user_id"),
          sum(col("value").cast("decimal(18,2)")).over(w).cast("double")
            .as("roll_sum_1h"),
          count(col("value")).over(w).as("roll_n_1h"))
    }, oracle =
      """SELECT event_id, user_id,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |   AS roll_sum_1h,
        | CAST(count(value) OVER w AS BIGINT) AS roll_n_1h
        |FROM (
        | SELECT event_id, user_id, value,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch_s
        | FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL) t
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_s
        | RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""".stripMargin),

    // LATERAL correlated subquery (top-2 customers per nation):
    // Catalyst decorrelates the per-row ORDER BY/LIMIT subquery into a
    // ranked window over ONE join — planner surface beyond the
    // DataFrame DSL, and the rank-limit form AQE/WindowGroupLimit can
    // push down
    Query("q_lateral", (s, dir) => {
      Tables.nation(s, dir).createOrReplaceTempView("g_nation")
      Tables.customer(s, dir).createOrReplaceTempView("g_customer")
      s.sql("""
        SELECT n.n_name, t.c_custkey, t.c_acctbal
        FROM g_nation n
        JOIN LATERAL (
          SELECT c.c_custkey, c.c_acctbal FROM g_customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c.c_acctbal DESC, c.c_custkey ASC
          LIMIT 2) t""")
    }, oracle =
      """SELECT n.n_name, t.c_custkey, t.c_acctbal
        |FROM nation n
        |JOIN LATERAL (
        | SELECT c.c_custkey, c.c_acctbal FROM customer c
        | WHERE c.c_nationkey = n.n_nationkey
        | ORDER BY c.c_acctbal DESC, c.c_custkey ASC
        | LIMIT 2) t ON true""".stripMargin),

    // deterministic mode (most frequent value-bucket per event type):
    // count-then-rank with an explicit tie-break — mode() builtins
    // tie-break arbitrarily, which can never hash-match across engines
    Query("q_mode", (s, dir) => {
      val counts = Tables.events(s, dir)
        .filter(col("value").isNotNull && col("event_type").isNotNull)
        .groupBy(col("event_type"),
          floor(col("value") / 10).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("n").desc, col("bucket").asc)
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("bucket").as("mode_bucket"),
          col("n"))
    }, oracle =
      """SELECT event_type, bucket AS mode_bucket, n FROM (
        | SELECT event_type, bucket, n,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY n DESC, bucket ASC) AS rn
        | FROM (
        |  SELECT event_type, CAST(floor(value / 10) AS BIGINT) AS bucket,
        |   CAST(count(*) AS BIGINT) AS n
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2) c) r
        |WHERE rn = 1""".stripMargin),

    // exact third-moment skewness per group from decimal power sums
    // (the [[q_corr_moments]] pattern one moment higher): single scan,
    // map-side partial aggregation; the double arithmetic after the
    // exact sums is the identical IEEE op sequence on both engines
    Query("q_skewness", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      def d(c: Column) = sum(c.cast("decimal(28,6)")).cast("double")
      val q = col("l_quantity")
      val g = li.groupBy(col("l_returnflag")).agg(
        d(q).as("sx"), d(q * q).as("sxx"), d(q * q * q).as("sxxx"),
        count(lit(1)).cast("double").as("n"))
      val mean = col("sx") / col("n")
      val m2 = col("sxx") / col("n") - mean * mean
      val m3 = col("sxxx") / col("n") - lit(3) * mean * (col("sxx") / col("n")) +
        lit(2) * mean * mean * mean
      g.select(col("l_returnflag"),
        round(m3 / pow(m2, 1.5), 6).as("skew_qty"))
    }, oracle =
      """SELECT l_returnflag,
        | round((sxxx / n - 3 * (sx / n) * (sxx / n)
        |     + 2 * (sx / n) * (sx / n) * (sx / n))
        |   / pow(sxx / n - (sx / n) * (sx / n), 1.5), 6) AS skew_qty
        |FROM (
        | SELECT l_returnflag,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,6)))
        |    AS DOUBLE) AS sxx,
        |  CAST(sum(CAST(l_quantity * l_quantity * l_quantity
        |    AS DECIMAL(28,6))) AS DOUBLE) AS sxxx,
        |  CAST(count(*) AS DOUBLE) AS n
        | FROM lineitem GROUP BY l_returnflag) m""".stripMargin),

    // rank-statistics window surface: percent_rank / cume_dist /
    // dense_rank in one pass — tie groups share values, and the
    // ratios are single IEEE divisions of exact small ints (bit-equal
    // across engines, no rounding needed)
    Query("q_rank_stats", (s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value").asc, col("event_id").asc)
      Tables.events(s, dir)
        .filter(col("value").isNotNull && col("event_type").isNotNull)
        .select(col("event_id"), col("event_type"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          dense_rank().over(w).cast("long").as("dr"))
    }, oracle =
      """SELECT event_id, event_type,
        | percent_rank() OVER w AS pr,
        | cume_dist() OVER w AS cd,
        | CAST(dense_rank() OVER w AS BIGINT) AS dr
        |FROM events
        |WHERE value IS NOT NULL AND event_type IS NOT NULL
        |WINDOW w AS (PARTITION BY event_type
        | ORDER BY value ASC, event_id ASC)""".stripMargin),

    Query("q_cross_fanout", (s, dir) => {
      Relational.fanOut(Tables.nation(s, dir).select("n_name"),
          graft.model.NagiosModel.services, "service_name")
        .select("n_name", "service_name")
    }, oracle =
      """SELECT n_name, s AS service_name FROM nation
        |CROSS JOIN (SELECT unnest(['Memory Usage','Swap Usage',
        | 'Disk Usage root','Disk Usage tmp','Disk Usage apps',
        | 'Disk Usage boot','Disk Usage opt','Disk Usage var',
        | 'Disk Usage home','CPU Usage']) AS s) t""".stripMargin),

    Query("q_pivot", (s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("l_linestatus") === "F", col("l_quantity"))).as("qty_f"),
          sum(when(col("l_linestatus") === "O", col("l_quantity"))).as("qty_o"),
          count(when(col("l_linestatus") === "F", lit(1))).as("n_f"),
          count(when(col("l_linestatus") === "O", lit(1))).as("n_o"))
    }, oracle =
      """SELECT l_returnflag,
        | sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS qty_f,
        | sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS qty_o,
        | count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS n_f,
        | count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS n_o
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    Query("q_union_all", (s, dir) => {
      val ev = Tables.events(s, dir)
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), lit("err").as("src"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), lit("buy").as("src"))
      errors.unionByName(buys)
    }, oracle =
      """SELECT event_id, user_id, 'err' AS src FROM events
        | WHERE event_type = 'error'
        |UNION ALL
        |SELECT event_id, user_id, 'buy' AS src FROM events
        | WHERE event_type = 'purchase'""".stripMargin),

    Query("q_except_all", (s, dir) => {
      val ev = Tables.events(s, dir)
      ev.select("user_id", "event_type")
        .exceptAll(ev.filter(col("value") < 50)
          .select("user_id", "event_type"))
    }, oracle =
      """SELECT user_id, event_type FROM events
        |EXCEPT ALL
        |SELECT user_id, event_type FROM events WHERE value < 50""".stripMargin),

    Query("q_rollup", (s, dir) => {
      Tables.orders(s, dir)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_total"))
    }, oracle =
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""".stripMargin),

    Query("q_window_hour", (s, dir) => {
      Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    }, oracle =
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        | count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),

    // session windows (§2.9 engine surface): events within a 1h gap
    // merge into one session per user
    Query("q_session_window", (s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"),
          session_window(col("ts"), "1 hour").as("sw"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("n"), col("sum_value"))
    }, oracle =
      """SELECT user_id, min(ts) AS session_start, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM (
        | SELECT *, sum(new_sess) OVER (
        |   PARTITION BY user_id ORDER BY ts, event_id) AS sess
        | FROM (
        |  SELECT *, CASE WHEN lag(ts) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |   OR ts - lag(ts) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id)
        |     >= INTERVAL 1 HOUR THEN 1 ELSE 0 END AS new_sess
        |  FROM events) a) b
        |GROUP BY user_id, sess""".stripMargin),

    // sliding windows: 2h length, 1h slide — each event lands in 2
    // windows
    Query("q_sliding_window", (s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("wstart"), col("event_type"), col("n"))
    }, oracle =
      """SELECT wstart, event_type, count(*) AS n FROM (
        | SELECT date_trunc('hour', ts) AS wstart, event_type FROM events
        | UNION ALL
        | SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type
        | FROM events) t
        |GROUP BY 1, 2""".stripMargin),

    Query("q_grouping_sets", (s, dir) => {
      // cube = all grouping sets over (status, priority)
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_total"))
    }, oracle =
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin),

    Query("q_topk_orders", (s, dir) => {
      Relational.topK(Tables.orders(s, dir), 10,
          col("o_totalprice").desc, col("o_orderkey").asc)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    }, oracle =
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin),

    // exact interpolated percentiles (both engines: linear
    // interpolation over the sorted set; 4dp rounding for float parity)
    Query("q_percentile", (s, dir) => {
      // both l_extendedprice percentiles from ONE aggregate buffer
      // (the scalar form builds a separate per-group value map per
      // percentile — 2x the work for the same answer)
      Tables.lineitem(s, dir).groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_extendedprice, array(0.5, 0.9))").as("pe"),
          round(expr("percentile(l_quantity, 0.25)"), 4).as("q25"))
        .select(col("l_returnflag"),
          round(element_at(col("pe"), 1), 4).as("p50"),
          round(element_at(col("pe"), 2), 4).as("p90"),
          col("q25"))
    }, oracle =
      """SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        | round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        | round(quantile_cont(l_quantity, 0.25), 4) AS q25
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // scalar string surface over one projection
    Query("q_string_funcs", (s, dir) => {
      Tables.customer(s, dir).select(
        col("c_custkey"),
        upper(col("c_name")).as("uname"),
        lower(col("c_mktsegment")).as("lseg"),
        substring(col("c_name"), 1, 8).as("prefix8"),
        length(col("c_name")).cast("long").as("name_len"),
        regexp_replace(col("c_name"), "[0-9]+", "#").as("masked"),
        concat_ws("|", col("c_mktsegment"), col("c_name")).as("joined"),
        levenshtein(col("c_mktsegment"), lit("MACHINERY")).cast("long")
          .as("lev"))
    }, oracle =
      """SELECT c_custkey, upper(c_name) AS uname,
        | lower(c_mktsegment) AS lseg,
        | substr(c_name, 1, 8) AS prefix8,
        | CAST(len(c_name) AS BIGINT) AS name_len,
        | regexp_replace(c_name, '[0-9]+', '#', 'g') AS masked,
        | concat_ws('|', c_mktsegment, c_name) AS joined,
        | CAST(levenshtein(c_mktsegment, 'MACHINERY') AS BIGINT) AS lev
        |FROM customer""".stripMargin),

    Query("q_distinct", (s, dir) => {
      Tables.customer(s, dir).select("c_mktsegment", "c_nationkey")
        .distinct()
    }, oracle =
      "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer"),

    Query("q_count_distinct", (s, dir) => {
      Tables.lineitem(s, dir).groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
    }, oracle =
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    Query("q_json_props", (s, dir) => {
      Tables.events(s, dir)
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"),
          col("value"))
        .groupBy("k").agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    }, oracle =
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        | count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1""".stripMargin),

    Query("q_completeness", (s, dir) => {
      val framed = Tables.events(s, dir).select(
        col("event_id"),
        when(col("event_type") =!= "error", col("event_type")).as("et"),
        col("value"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      Relational.completenessGate(framed)
    }, oracle =
      """SELECT event_id,
        | CASE WHEN event_type <> 'error' THEN event_type END AS et,
        | value,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events
        |WHERE event_id IS NOT NULL
        |  AND (CASE WHEN event_type <> 'error' THEN event_type END) IS NOT NULL
        |  AND value IS NOT NULL
        |  AND CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL""".stripMargin),

    // CDC merge: customer balances as the base snapshot, events as the
    // changelog (error = tombstone, anything else upserts the event's
    // value); latest change per key wins, deletes remove the key,
    // changelog-only keys insert
    Query("q_merge_upsert", (s, dir) => {
      val base = Tables.customer(s, dir)
        .select(col("c_custkey").as("user_id"),
          col("c_acctbal").as("value"))
      val changes = Tables.events(s, dir)
        .select(col("user_id"), col("value"), col("ts"), col("event_id"),
          when(col("event_type") === "error", "D").otherwise("U")
            .as("op"))
      Relational.applyChangelog(base, changes, Seq("user_id"),
        "ts", "event_id", "op")
    }, oracle =
      // latest change per key wins; 'D' tombstones remove the key even
      // when the base row exists; an update's NULL value overwrites
      // (whole-row semantics — the CASE picks the change side, never a
      // per-column coalesce)
      """WITH latest AS (
        | SELECT user_id, value, op FROM (
        |  SELECT user_id, value,
        |   CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |   row_number() OVER (PARTITION BY user_id
        |     ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t WHERE rn = 1),
        |base AS (
        | SELECT c_custkey AS user_id, c_acctbal AS value FROM customer)
        |SELECT COALESCE(b.user_id, l.user_id) AS user_id,
        | CASE WHEN l.user_id IS NOT NULL THEN l.value ELSE b.value END
        |   AS value
        |FROM base b FULL OUTER JOIN latest l ON b.user_id = l.user_id
        |WHERE l.op IS NULL OR l.op <> 'D'""".stripMargin),

    // null-safe join (<=>): enrichment keyed on a NULLABLE extracted
    // attribute where null must MATCH null (a plain equi-join silently
    // drops every null-keyed row — the classic dirty-dimension bug).
    // Catalyst plans <=> as a hash join on a null-safe key, so this
    // stays an equi-join, not a nested loop
    Query("q_null_safe_join", (s, dir) => {
      def k5(df: DataFrame): DataFrame = df.select(
        col("event_id"), col("event_type"),
        when(get_json_object(col("props"), "$.k").cast("long") % 3 === 0,
          lit(null).cast("long"))
          .otherwise(get_json_object(col("props"), "$.k").cast("long")
            % 5).as("k5"))
      val fact = k5(Tables.events(s, dir))
      // both sides derive from the SAME memoized events frame: rename
      // the dim keys instead of writing fact("c") === dim("c"), which
      // constructs a self-equality Column (correct only via Spark's
      // dataset-id disambiguation, and WARN-logged as trivially true)
      val dim = k5(Tables.events(s, dir))
        .filter(col("event_id") % 10 === 0)
        .select(col("event_type").as("d_event_type"),
          col("k5").as("d_k5")).distinct()
        .withColumn("dim_tag",
          concat_ws(":", col("d_event_type"),
            coalesce(col("d_k5").cast("string"), lit("null"))))
      fact.join(dim,
          col("event_type") === col("d_event_type") &&
            col("k5") <=> col("d_k5"))
        .groupBy(col("event_type"), col("k5"), col("dim_tag"))
        .agg(count(lit(1)).as("n"))
    }, oracle =
      // IS NOT DISTINCT FROM == Spark's <=>; the null k5 group must
      // survive the join with its dim row
      """WITH k AS (
        | SELECT event_id, event_type,
        |  CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT)
        |    % 3 = 0 THEN NULL
        |   ELSE CAST(json_extract_string(props, '$.k') AS BIGINT) % 5
        |  END AS k5
        | FROM events),
        |dim AS (
        | SELECT DISTINCT event_type, k5,
        |  event_type || ':' || COALESCE(CAST(k5 AS VARCHAR), 'null')
        |    AS dim_tag
        | FROM k WHERE event_id % 10 = 0)
        |SELECT f.event_type AS event_type, f.k5 AS k5, dim_tag,
        | CAST(count(*) AS BIGINT) AS n
        |FROM k f JOIN dim d ON f.event_type = d.event_type
        |  AND f.k5 IS NOT DISTINCT FROM d.k5
        |GROUP BY 1, 2, 3""".stripMargin),

    // FORWARD as-of: the next non-purchase event at-or-after each
    // purchase — "what happened next" (time-to-next-state), the
    // mirror of q_asof_join/q_scd2_lookup's "what was in effect"
    Query("q_asof_forward", (s, dir) => {
      val ev = Tables.events(s, dir)
      val build = ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("ts"),
          col("event_type").as("next_type"),
          col("event_id").as("next_event_id"))
      val probes = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      Relational.asOfJoin(probes, build, Seq("user_id"), "ts",
        forward = true)
    }, oracle =
      // DuckDB ASOF with <= picks the EARLIEST build at-or-after each
      // probe — the forward mirror of q_asof_join's >=
      """WITH build AS (
        | SELECT user_id, ts, event_type AS next_type,
        |  event_id AS next_event_id
        | FROM events WHERE event_type <> 'purchase'),
        |probes AS (
        | SELECT event_id, user_id, ts FROM events
        | WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts, b.next_type,
        | b.next_event_id
        |FROM probes p ASOF LEFT JOIN build b
        |  ON p.user_id = b.user_id AND p.ts <= b.ts""".stripMargin),

    // ordered LISTAGG (Spark 4): deterministic within-group
    // concatenation — the report-building aggregate
    Query("q_listagg", (s, dir) => {
      Tables.nation(s, dir).createOrReplaceTempView("g_nation_la")
      s.sql("""
        SELECT n_regionkey,
          listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS names
        FROM g_nation_la GROUP BY n_regionkey""")
    }, oracle =
      // DuckDB's ordered string_agg == WITHIN GROUP listagg
      """SELECT n_regionkey,
        | string_agg(n_name, ',' ORDER BY n_name) AS names
        |FROM nation GROUP BY n_regionkey""".stripMargin),

    // Morton (Z-order) key: the multi-dimensional clustering key
    // behind writeClustered — statically-unrolled integer bit
    // interleave, exactly replayable by any engine
    // the same 32 shift/mask terms, generated for DuckDB's >> and &;
    // x/y mirror Spark's pmod — DuckDB % keeps the dividend's sign, so
    // plain `user_id % 65536` would silently diverge on any negative
    // input (and arithmetic >> on a negative y would compound it)
    Query("q_zorder", (s, dir) => {
      Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .select(col("event_id"),
          operators.Layout.zValue(
            pmod(col("user_id"), lit(65536)).cast("int"),
            pmod(floor(col("value") * 100).cast("long"), lit(65536))
              .cast("int")).as("z"))
    }, oracle = {
      val terms = (0 until 16).map { i =>
        s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})"
      }.mkString(" + ")
      s"""SELECT event_id, $terms AS z
         |FROM (
         | SELECT event_id,
         |  ((user_id % 65536) + 65536) % 65536 AS x,
         |  ((CAST(floor(value * 100) AS BIGINT) % 65536) + 65536) % 65536
         |    AS y
         | FROM events WHERE value IS NOT NULL) t""".stripMargin
    }),

    // Spark 4 VariantType ingestion: parse_json once into the binary
    // variant encoding, typed paths via variant_get — the
    // schema-on-read form of the reference's polymorphic JSON
    // handling (F10, `url...py:87-95`), without a per-field regex
    Query("q_variant", (s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"), parse_json(col("props")).as("v"))
        .select(col("event_id"),
          expr("variant_get(v, '$.k', 'bigint')").as("k"),
          expr("variant_get(v, '$.k', 'string')").as("k_str"))
    }, oracle =
      // the variant path extraction mirrored with DuckDB's JSON readers
      """SELECT event_id,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        | json_extract_string(props, '$.k') AS k_str
        |FROM events""".stripMargin),

    // recursive CTE (Spark 4 WITH RECURSIVE): ancestor closure over
    // the synthetic digit-shift hierarchy (parent = key DIV 10) — the
    // SQL-frontend form of iterative closure; connectedComponents is
    // the DataFrame-side iterate for the same class of problems
    Query("q_recursive_cte", (s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("g_customer_rc")
      s.sql("""
        WITH RECURSIVE anc AS (
          SELECT c_custkey AS node,
                 CAST(floor(c_custkey / 10.0) AS BIGINT) AS anc,
                 1 AS depth
          FROM g_customer_rc WHERE c_custkey > 0
          UNION ALL
          SELECT node, CAST(floor(anc / 10.0) AS BIGINT), depth + 1
          FROM anc WHERE anc > 0)
        SELECT node, anc, CAST(depth AS BIGINT) AS depth FROM anc""")
    }, oracle =
      // same fixpoint in DuckDB's WITH RECURSIVE
      """WITH RECURSIVE anc AS (
        | SELECT c_custkey AS node,
        |  CAST(floor(c_custkey / 10.0) AS BIGINT) AS anc,
        |  1 AS depth
        | FROM customer WHERE c_custkey > 0
        | UNION ALL
        | SELECT node, CAST(floor(anc / 10.0) AS BIGINT), depth + 1
        | FROM anc WHERE anc > 0)
        |SELECT node, anc, CAST(depth AS BIGINT) AS depth FROM anc""".stripMargin),

    // per-group winsorization: clip values into the [p05, p95] exact
    // percentile band — outlier taming that keeps rows (where
    // q_zscore/q_mad DROP them); stats side unpinned as usual
    Query("q_winsorize", (s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull && col("event_type").isNotNull)
      val cuts = ev.groupBy(col("event_type"))
        .agg(percentile(col("value"), lit(0.05)).as("p05"),
          percentile(col("value"), lit(0.95)).as("p95"))
      ev.join(cuts, "event_type")
        .select(col("event_id"), col("event_type"),
          least(greatest(col("value"), col("p05")), col("p95"))
            .as("value_w"))
    }, oracle =
      // quantile_cont == Spark percentile; LEAST/GREATEST clipping
      """WITH f AS (
        | SELECT event_id, event_type, value FROM events
        | WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |cuts AS (
        | SELECT event_type, quantile_cont(value, 0.05) AS p05,
        |  quantile_cont(value, 0.95) AS p95
        | FROM f GROUP BY 1)
        |SELECT event_id, f.event_type AS event_type,
        | least(greatest(value, p05), p95) AS value_w
        |FROM f JOIN cuts c ON f.event_type = c.event_type""".stripMargin),

    // null-aware anti join: NOT IN under three-valued logic — a NULL
    // probe value never qualifies (NULL NOT IN list is never TRUE), so
    // Catalyst must plan its dedicated null-aware anti join, not the
    // plain LeftAnti that IS-NULL-blind EXCEPT/anti dedup uses
    Query("q_not_in", (s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("g_customer_ni")
      Tables.orders(s, dir).createOrReplaceTempView("g_orders_ni")
      s.sql("""
        SELECT c_custkey, c_name FROM g_customer_ni
        WHERE CASE WHEN c_custkey % 7 = 0 THEN NULL
                   ELSE c_custkey END NOT IN (
          SELECT o_custkey FROM g_orders_ni
          WHERE o_orderstatus = 'F')""")
    }, oracle =
      // identical three-valued NOT IN semantics: nulled probe keys never
      // qualify
      """SELECT c_custkey, c_name FROM customer
        |WHERE CASE WHEN c_custkey % 7 = 0 THEN NULL
        |           ELSE c_custkey END NOT IN (
        |  SELECT o_custkey FROM orders
        |  WHERE o_orderstatus = 'F')""".stripMargin)
  )
}
