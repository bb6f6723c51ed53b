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
  * anti-join dedup stage.
  *
  * Scale: at 100 TB the fetch fan-out table is repartitioned to cluster
  * width; per-family pivots are narrow `select`s (no shuffle); dedup
  * is a null-safe anti-join on the payload's typed columns, broadcast
  * while the previous side fits the threshold and a shuffled join on
  * the same keys past it (a row hash would be no narrower than the
  * 5-column row); the family routing is a single `partitionBy` write,
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
    // null epoch flows to a null timestamp and is dropped by the
    // completeness gate, keeping both ingestion paths consistent.
    parsed.select(
      col("host_name"), col("service_name"),
      col("point.t").try_cast("long").as("epoch"),
      coalesce(asArray, array(scalar)).as("values"))
  }

  /** F8 + F1 + F2 + P3 for one metric family: positional zip of the
    * value array onto the registry's column names, 2-dp parse-or-null,
    * epoch → datetime2 string, then the completeness gate drops any row
    * with a missing/NaN value (`extract.py:86-99`).
    */
  def familyFrame(points: DataFrame, service: String): DataFrame = {
    val keys = NagiosModel.serviceKeys(service)
    val cols: Seq[Column] =
      Seq(col("host_name"),
        ScalarOps.epochToDatetime2(col("epoch")).as("timestamp"),
        col("service_name")) ++
      ScalarOps.zipToColumns(col("values"), keys)
    Relational.completenessGate(
      points.filter(col("service_name") === service).select(cols: _*))
  }

  /** The union "long" payload over the given families:
    * (host_name, timestamp, service_name, metric_name, value) — the
    * engine's single-relation equivalent of the reference's
    * heterogeneous JSON payload (`extract.py:153-156`). Built by
    * melting each family frame; `unionByName` keeps it one plan.
    *
    * Pass `services` when the ingest batch carries a known family
    * subset: every listed family adds its melt/gate expressions to the
    * fused per-row kernel (cheap, but still dead weight for families
    * the batch cannot contain).
    */
  def longPayload(points: DataFrame,
      services: Seq[String] = NagiosModel.services): DataFrame = {
    // One fused pass instead of one filtered branch per family: each
    // family branch re-ran the full upstream (JSON parse + explode)
    // just to keep its own service's rows, so a 2-family batch paid
    // the parse twice. Per row, exactly one family's `when` matches;
    // its completeness gate (identity cols + every zipped value
    // non-null — parseRound2 already folds NaN to null) and its melt
    // are evaluated in-line, and exploding the empty/null
    // concatenation drops gated and unlisted rows. `concat` (not a
    // single case-chain) keeps exact union parity even for a
    // duplicated services entry. `posexplode_outer` + position filter,
    // NOT `explode`: InferFiltersFromGenerate only fires on outer =
    // false and would duplicate the whole melt kernel into an inferred
    // size()>0 filter (the Dedup.explodeBandsOnce trap, measured 12x
    // there); outer-explode of an empty/null array yields one padded
    // row with a null position, which the filter drops — row-identical
    // to the inner explode for every input.
    val tsCol = ScalarOps.epochToDatetime2(col("epoch"))
    val rowOk = col("host_name").isNotNull && tsCol.isNotNull
    val entryType = "array<struct<metric_name:string,value:double>>"
    val perService: Seq[Column] = services.map { svc =>
      val keys = NagiosModel.serviceKeys(svc)
      val vals = ScalarOps.zipToColumns(col("values"), keys)
      val gate = vals.map(_.isNotNull).reduce(_ && _)
      val entries = keys.zip(vals).map { case (k, v) =>
        struct(lit(k).as("metric_name"), v.as("value"))
      }
      coalesce(
        when(col("service_name") === svc && rowOk && gate,
          array(entries: _*)),
        array().cast(entryType))
    }
    points
      .select(col("host_name"), tsCol.as("timestamp"),
        col("service_name"),
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
