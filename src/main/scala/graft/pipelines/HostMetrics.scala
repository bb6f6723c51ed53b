package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ScalarOps
import graft.model.NagiosModel
import graft.operators.Relational

/** Pipeline §3.1 — the flagship host OS-metric ETL, the reference's
  * three cron-chained processes (`hosts_to_csv.py` → `extract.py` →
  * `load_to_db.py`) collapsed into one declarative DAG: lineage replaces
  * the intermediate files, partition parallelism replaces the
  * ThreadPoolExecutor, and the only shuffle in the whole plan is the
  * anti-join dedup stage; each point's values are parsed once.
  *
  * Scale: at 100 TB the fetch fan-out table is repartitioned to cluster
  * width; per-family pivots are narrow `select`s (no shuffle); dedup
  * is an anti-join keyed on one 64-bit row hash with the payload's
  * typed columns compared null-safe in the residual, broadcast while
  * the previous side fits the threshold and a shuffled join on the
  * same key past it; the family routing is a single `partitionBy` write,
  * not 4 scans (`load_to_db.py:34-48` does 4 passes over the payload).
  */
object HostMetrics {

  /** Raw rrdexport response rows: (host_name, service_name, body) where
    * `body` is the response JSON (`extract.py:71-76`). The `v` field is
    * polymorphic — list of strings for multi-metric families, bare
    * string for single-metric ones (`extract.py:87-93`) — so `row` is
    * first parsed with `v` as a raw JSON string, then both shapes are
    * attempted and coalesced (SURVEY §7.4.1).
    */
  private val rowSchema = StructType(Seq(
    StructField("data", StructType(Seq(
      StructField("row", ArrayType(StructType(Seq(
        StructField("t", StringType),
        StructField("v", StringType)))))))))) // v: raw JSON text

  /** Explode `data.row[]` (F9) and normalize polymorphic `v` into a
    * single `array<string>` column: the scalar shape becomes a 1-element
    * array, mirroring `extract.py:87-93` where the scalar case feeds
    * `service_keys[service][0]`.
    */
  def flattenResponses(responses: DataFrame): DataFrame = {
    val parsed = responses.withColumn("__doc",
        from_json(col("body"), rowSchema))
      .select(col("host_name"), col("service_name"),
        explode(col("__doc.data.row")).as("point"))
    // scalar "42.1" fails the array parse → null → fall back to
    // wrapping the scalar (strip surrounding quotes if present).
    val asArray = from_json(col("point.v"), ArrayType(StringType))
    val scalar = regexp_replace(col("point.v"), "^\"|\"$", "")
    // try_cast, not cast: ANSI mode would crash the job on one garbage
    // timestamp, while the DSv2 reader emits null for unparseable t —
    // a null or out-of-range epoch gives a null timestamp (F2), which
    // the completeness gate drops on both ingestion paths.
    parsed.select(
      col("host_name"), col("service_name"),
      col("point.t").try_cast("long").as("epoch"),
      coalesce(asArray, array(scalar)).as("values"))
  }

  /** Per point: `host_name`, the F2 `timestamp`, `service_name` and
    * the first `width` value positions parsed (F8 + F1) as `__v1…`. */
  private def parsedPoints(points: DataFrame, width: Int): DataFrame =
    points.select(Seq(col("host_name"),
        ScalarOps.epochToDatetime2(col("epoch")).as("timestamp"),
        col("service_name")) ++
      ScalarOps.zipToColumns(col("values"),
        (1 to width).map(i => s"__v$i")): _*)

  /** F8 + F1 + F2 + P3 for one metric family: positional zip of the
    * value array onto the registry's column names, 2-dp parse-or-null,
    * epoch → datetime2 string, then the completeness gate drops any row
    * with a missing/NaN value (`extract.py:86-99`).
    */
  def familyFrame(points: DataFrame, service: String): DataFrame = {
    val keys = NagiosModel.serviceKeys(service)
    Relational.completenessGate(parsedPoints(points.filter(
        col("service_name") === service), keys.size)
      .toDF(Seq("host_name", "timestamp", "service_name") ++ keys: _*))
  }

  /** The union "long" payload over the given families:
    * (host_name, timestamp, service_name, metric_name, value) — the
    * engine's single-relation equivalent of the reference's
    * heterogeneous JSON payload (`extract.py:153-156`).
    *
    * Pass `services` when the ingest batch carries a known family
    * subset: every listed family adds a gate and melt branch to the
    * Generate (cheap, but dead weight for families it cannot contain).
    */
  def longPayload(points: DataFrame,
      services: Seq[String] = NagiosModel.services): DataFrame = {
    // Timestamp and values are parsed once per point in `parsedPoints`
    // below the Generate, whose branches only read `__v1…__vW`: the
    // Generate shares no subexpression, and parsing in each branch's
    // gate and melt cost 180 try_casts per point against W = 5 here.
    //
    // Per row one family's `when` matches (gate: every value non-null;
    // parseRound2 folds NaN to null); the empty/null concatenation of
    // the rest explodes to nothing. `concat`, not a case-chain, keeps
    // union parity for a duplicated services entry. `posexplode_outer`
    // + position filter, NOT `explode`: InferFiltersFromGenerate fires
    // only on outer = false and would copy the melt into an inferred
    // size()>0 filter (the Dedup.explodeBandsOnce trap, 12x there);
    // the padded row of an empty/null array has a null position.
    val width = services.map(NagiosModel.serviceKeys(_).size).max
    val rowOk = col("host_name").isNotNull && col("timestamp").isNotNull
    val perService: Seq[Column] = services.map { svc =>
      val keys = NagiosModel.serviceKeys(svc)
      val vals = keys.indices.map(i => col(s"__v${i + 1}"))
      val gate = vals.map(_.isNotNull).reduce(_ && _)
      val entries = keys.zip(vals).map { case (k, v) =>
        struct(lit(k).as("metric_name"), v.as("value"))
      }
      coalesce(
        when(col("service_name") === svc && rowOk && gate,
          array(entries: _*)),
        array().cast("array<struct<metric_name:string,value:double>>"))
    }
    parsedPoints(points, width)
      .select(col("host_name"), col("timestamp"), col("service_name"),
        posexplode_outer(concat(perService: _*)).as(Seq("__pos", "m")))
      .filter(col("__pos").isNotNull)
      .select(col("host_name"), col("timestamp"), col("service_name"),
        col("m.metric_name"), col("m.value"))
  }

  /** J3 — cross-run dedup: current payload ∖ previous payload by
    * whole-row identity (`extract.py:115-132`).
    */
  def dedupAgainst(current: DataFrame, previous: DataFrame): DataFrame =
    Relational.antiJoinDedup(current, previous)

  /** P4/P5 + K4 routing — attach the metric-family column and drop
    * unroutable services (the reference logs-and-skips families with no
    * match, `load_to_db.py:38-40`). Downstream sinks partition by it:
    * `host_{family}_usage` tables (`load_to_db.py:34,48`).
    */
  def routed(payload: DataFrame): DataFrame =
    Relational.withMetricFamily(payload, "service_name")
      .filter(col("metric_family").isNotNull)

  /** K6-style versioned parquet sink partitioned by metric family —
    * the engine's equivalent of the 4 MSSQL tables + dated backups.
    */
  def writePartitioned(payload: DataFrame, path: String): Unit =
    routed(payload).write.mode("overwrite")
      .partitionBy("metric_family").parquet(path)

  /** K4 — JDBC sink: one batched append per family table, matching
    * `host_{family}_usage` (`load_to_db.py:34,48`). Batching and the
    * dynamic column list (`load_to_db.py:46-48`) are subsumed by the
    * JDBC writer's schema-driven INSERT.
    */
  def writeJdbc(familyFrames: Map[String, DataFrame], url: String,
      props: java.util.Properties): Unit =
    familyFrames.foreach { case (family, df) =>
      df.write.mode("append").jdbc(url, s"host_${family}_usage", props)
    }
}
