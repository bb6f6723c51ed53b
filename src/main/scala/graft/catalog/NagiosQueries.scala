package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ScalarOps
import graft.operators.Relational
import graft.sources.Tables

/** The §3 Nagios pipelines end to end: the §3.2 status enrichment,
  * the §3.1 host-metrics ETL in one plan, and one committed cron tick
  * of [[jobs.NagiosEtlJob]] (bench-only).
  */
object NagiosQueries {

  private[graft] def statusEnrich(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val cust = Tables.customer(s, dir)
    val members = cust.filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("user_id"))
    val details = cust.join(Tables.nation(s, dir),
        cust("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as("user_id"), col("c_name"),
        col("n_name").as("nation_name"), col("c_acctbal"))
    val enriched = Relational.enrich(
      Relational.semiJoinMembers(ev, members, Seq("user_id")),
      details, Seq("user_id"),
      Map("c_name" -> "unknown", "nation_name" -> "unknown"))
    enriched
      .filter(col("value").isNotNull && col("ts").isNotNull)
      .select(
        col("event_id"), col("user_id"),
        ScalarOps.datetime2ToEpoch(
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")).as("ts_epoch"),
        col("c_name"), col("nation_name"), col("event_type"),
        when(col("event_type") === "click", 0)
          .when(col("event_type") === "view", 1)
          .when(col("event_type") === "purchase", 2)
          .when(col("event_type") === "signup", 3)
          .otherwise(-1).as("status_code"),
        round(col("value"), 2).as("value2"))
  }

  /** Deterministic rrdexport response documents over the events
    * table, each event's host `host<user_id % hosts>`: per (host, 25h
    * fetch window) one CPU doc (scalar v, NaN every 97th point) and one
    * Swap doc (3-element list v, garbage every 89th) — the metricsEtl
    * corpus shape, shared by the flagship query and the end-to-end job
    * tick.
    */
  private def syntheticResponses(s: SparkSession, dir: String,
      hosts: Int): DataFrame = {
    val ev = Tables.events(s, dir).select(
      col("event_id"),
      concat(lit("host"), (col("user_id") % hosts).cast("string"))
        .as("host_name"),
      unix_timestamp(col("ts")).as("epoch"))
    def dd(m: Column): Column = format_string("%d.%02d",
      floor(m / 100).cast("long"), (m % 100).cast("long"))
    val cpuV = when(col("event_id") % 97 === 0, lit("NaN"))
      .otherwise(dd((col("event_id") * 7) % 10000))
    val swapV = array(
      dd((col("event_id") * 3) % 5000),
      when(col("event_id") % 89 === 0, lit("garbage"))
        .otherwise(dd((col("event_id") * 11) % 9000)),
      dd((col("event_id") * 13) % 7000))
    val fetchWindow = 25L * 3600L // extract.py:29-31 lookback span
    // ONE (host, window) aggregate collecting both services' point
    // structs, then two doc rows exploded per group — the old
    // per-service union ran the events scan + groupBy exchange once
    // PER SERVICE for identical grouping keys. Doc multiset is
    // unchanged (same groups, same per-service point sets; within-doc
    // point order is collect_list arrival order in both forms, and
    // every consumer explodes the points back out).
    ev.select(col("host_name"),
        floor(col("epoch") / fetchWindow).as("__w"),
        struct(col("epoch").cast("string").as("t"), cpuV.as("v")).as("cp"),
        struct(col("epoch").cast("string").as("t"), swapV.as("v")).as("sp"))
      .groupBy(col("host_name"), col("__w"))
      .agg(collect_list(col("cp")).as("cpu_row"),
        collect_list(col("sp")).as("swap_row"))
      .select(col("host_name"), posexplode_outer(array(
        struct(lit("CPU Usage").as("service_name"),
          to_json(struct(struct(col("cpu_row").as("row")).as("data")))
            .as("body")),
        struct(lit("Swap Usage").as("service_name"),
          to_json(struct(struct(col("swap_row").as("row")).as("data")))
            .as("body")))).as(Seq("__pos", "r")))
      .filter(col("__pos").isNotNull)
      .select(col("host_name"), col("r.service_name"), col("r.body"))
  }

  /** The cron-tick job's input: the synthetic response documents,
    * staged as JSON (corpus prep, not job time). */
  private[graft] def etlJobInput(s: SparkSession, dir: String,
      hosts: Int): String =
    Staged.onDisk(s, s"etljob_in_$hosts", dir)(inDir =>
      syntheticResponses(s, dir, hosts).write.mode("overwrite").json(inDir))

  /** The committed §3.1 cron-tick job end to end (VERDICT r9 task 7):
    * ONE AvailableNow tick over [[etlJobInput]] — stream read →
    * flatten → melt → bounded-window dedup → (family,
    * load_date)-partitioned append — into out/checkpoint dirs under the
    * session's staging root, emptied first, so every call measures a
    * full first tick and the previous call's output (already consumed,
    * the bench contract) does not pile up. Returns the landed sink.
    */
  def etlJobTick(s: SparkSession, dir: String, hosts: Int): DataFrame = {
    val inDir = etlJobInput(s, dir, hosts)
    val base = new java.io.File(Staged.root(s), "etljob_tick")
    org.apache.commons.io.FileUtils.deleteQuietly(base)
    jobs.NagiosEtlJob.runOnce(s, inDir, s"$base/out", s"$base/ckpt",
      Seq("CPU Usage", "Swap Usage"))
    s.read.parquet(s"$base/out/data")
  }

  /** The full §3.1 metrics ETL in one plan (the flagship pipeline
    * query, `q_metrics_etl` at the reference's 25-host fan-out):
    * events are reshaped into the REST response-document form the
    * connector would deliver (one JSON body per (host, service) via a
    * groupBy collect_list), then melt → parse-guard → anti-join dedup
    * → family routing. Every melt/dedup branch re-derives points from
    * the grouped responses, but the groupBy EXCHANGE is reused across
    * branches, so each branch re-parses only the post-shuffle body
    * rows (measured cheaper than caching the exploded point relation
    * and re-scanning it per branch).
    *
    * `hosts` is the scale axis: a real deployment grows by monitoring
    * MORE HOSTS (more, similarly-sized response documents), not by
    * packing 10× the points into each document. Documents are built
    * per (host, service, FETCH WINDOW) — rrdexport responses cover a
    * bounded 25 h span (`extract.py:29-31`, `url...py:49`), so a
    * document's size is capped by the window's sample budget no
    * matter how long the corpus runs, and the parse stage
    * parallelizes over document count instead of funneling a giant
    * collect_list row per host. (Output-invariant: document
    * boundaries are internal — the melt explodes the same points.)
    * ScaleProbe exercises the hosts axis and the replication axis;
    * the latter packs 10× the samples into a fixed time range, which
    * grows each window's document 10× BY CONSTRUCTION (a 10×-rate
    * poller, not a monitoring deployment) — attribution in
    * BASELINE.md.
    */
  def metricsEtl(s: SparkSession, dir: String, hosts: Int): DataFrame = {
    import graft.pipelines.HostMetrics
    val points = HostMetrics.flattenResponses(
      syntheticResponses(s, dir, hosts))
    val payload = HostMetrics.longPayload(points,
      Seq("CPU Usage", "Swap Usage"))
    // previous run's payload = the three already-loaded hosts; the
    // anti-join dedup must remove exactly their rows
    val previous = payload.filter(
      col("host_name").isin("host0", "host1", "host2"))
    HostMetrics.routed(HostMetrics.dedupAgainst(payload, previous))
  }

  lazy val all: Seq[Query] = Seq(
    Query("q_status_enrich", (s, dir) => statusEnrich(s, dir), oracle =
      """SELECT e.event_id, e.user_id,
        | CAST(epoch(date_trunc('second', e.ts)) AS BIGINT) AS ts_epoch,
        | c.c_name AS c_name, n.n_name AS nation_name, e.event_type,
        | CASE e.event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1
        |   WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE -1 END
        |   AS status_code,
        | round(e.value, 2) AS value2
        |FROM events e
        |JOIN customer c ON e.user_id = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND e.value IS NOT NULL AND e.ts IS NOT NULL""".stripMargin),

    // The whole host-metric pipeline in ONE plan, end to end: synthetic
    // rrdexport response docs (JSON bodies built from events, scalar v
    // for CPU / list v for Swap — both polymorphic shapes) → explode
    // data.row (F9) → zip-pivot onto the registry schema (F8) →
    // parse-or-null + round (F1) + epoch→datetime2 (F2) → completeness
    // gate dropping injected NaN/garbage rows (P3) → melt to the long
    // payload → anti-join dedup against the previous run (J3) → family
    // routing (P4). Values are exact 2-decimal strings derived from
    // event_id, so F1's rounding is engine-portable; the oracle rebuilds
    // the same relation directly (the JSON round-trip is identity).
    Query("q_metrics_etl", (s, dir) => metricsEtl(s, dir, hosts = 25), oracle =
      // the §3.1 pipeline's ground truth rebuilt relationally: the JSON
      // response round-trip is identity, so the oracle derives the same
      // (host, ts, service, metric, value) rows straight from events —
      // injected NaN/garbage rows excluded (the completeness gate's
      // effect), previous-run hosts excluded (the anti-join's effect)
      """WITH ev AS (
        | SELECT event_id,
        |  'host' || CAST(user_id % 25 AS VARCHAR) AS host_name,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch
        | FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |base AS (
        | SELECT host_name,
        |  strftime(make_timestamp(epoch * 1000000),
        |    '%Y-%m-%d %H:%M:%S') AS ts_str,
        |  event_id FROM ev),
        |cpu AS (
        | SELECT host_name, ts_str, 'CPU Usage' AS service_name,
        |  'percent_used' AS metric_name,
        |  CAST(printf('%d.%02d', (event_id * 7 % 10000) // 100,
        |    (event_id * 7 % 10000) % 100) AS DOUBLE) AS value
        | FROM base WHERE event_id % 97 <> 0),
        |swap AS (
        | SELECT host_name, ts_str, 'Swap Usage' AS service_name,
        |  metric_name,
        |  CAST(printf('%d.%02d', m // 100, m % 100) AS DOUBLE) AS value
        | FROM (
        |  SELECT host_name, ts_str, 'swap_used_GiB' AS metric_name,
        |    event_id * 3 % 5000 AS m FROM base WHERE event_id % 89 <> 0
        |  UNION ALL
        |  SELECT host_name, ts_str, 'swap_total_GiB',
        |    event_id * 11 % 9000 FROM base WHERE event_id % 89 <> 0
        |  UNION ALL
        |  SELECT host_name, ts_str, 'swap_free_GiB',
        |    event_id * 13 % 7000 FROM base WHERE event_id % 89 <> 0) t),
        |payload AS (SELECT * FROM cpu UNION ALL SELECT * FROM swap)
        |SELECT host_name, ts_str AS "timestamp", service_name,
        |  metric_name, value,
        |  CASE WHEN contains(lower(service_name), 'cpu') THEN 'cpu'
        |    WHEN contains(lower(service_name), 'mem') THEN 'mem'
        |    WHEN contains(lower(service_name), 'disk') THEN 'disk'
        |    WHEN contains(lower(service_name), 'swap') THEN 'swap'
        |  END AS metric_family
        |FROM payload
        |WHERE host_name NOT IN ('host0', 'host1', 'host2')""".stripMargin),

    // the flagship operational path, timed end to end: one committed
    // NagiosEtlJob cron tick (stream read of landed response docs →
    // flatten → melt → bounded dedup → partitioned append). No SQL
    // oracle — it is a side-effecting streaming job; correctness is
    // JobSpec's (idempotence, dedup window, quarantine), the bench
    // row tracks its wall clock per round (VERDICT r9 task 7)
    Query.benchOnly("q_etl_job", (s, dir) => etlJobTick(s, dir, hosts = 25))
  )
}
