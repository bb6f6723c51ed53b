package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types._

import graft.functions.ScalarOps
import graft.operators.Relational

/** Pipeline §3.2 — service status → tagged time-series points
  * (`url_service_status_InfluxDB_insert.py`).
  *
  * Reference: 3 API fetches, a Python-set semi-join, a dict-probe
  * enrichment join, per-row normalization, two sinks, all from one
  * list of points (`url...py:110-133`). Here:
  * `status ⋈(semi) members ⋈(broadcast-left) details` → column
  * transforms → one frame whose plan runs once for both sinks
  * ([[points]]). The plan is the broadcast builds plus a single stage;
  * at 100 TB of status rows the fact side streams straight through
  * map tasks.
  */
object StatusPoints {

  /** Polymorphic customvars (`url...py:87-95`): the detail table
    * carries either `customvars_map: map<string,string>` or
    * `customvars_list: array<struct<name,value>>` (one null per row,
    * the two-parse-paths normalization of SURVEY §7.4.1).
    */
  def customvarsListType: DataType = ArrayType(StructType(Seq(
    StructField("name", StringType), StructField("value", StringType))))

  /** The full §3.2 dataflow. Inputs:
    *  - members: (host_name, service_description) — servicegroup
    *    membership (`url...py:49-54`)
    *  - status: (host_name, service_description, current_state,
    *    last_check) — current state snapshot (`url...py:60-64`)
    *  - details: (host_name, service_description, display_name,
    *    customvars_map, customvars_list) (`url...py:67-73`)
    *
    * Output: point-shaped rows (measurement, tags..., fields..., time)
    * (`url...py:110-123`).
    *
    * The plan runs once however many sinks read the frame
    * ([[org.apache.spark.sql.graft.PlanBridge.runOnce]]): the
    * broadcast jobs run when `points` is called (so an unreadable
    * input fails here), the first action computes the partitions and
    * stores them with their lineage, and later actions, the audit
    * write among them, read the stored blocks. A lost block is
    * recomputed from the inputs. The ContextCleaner releases the
    * blocks once the frame is unreachable, so a poller that drops
    * each poll's frame piles nothing up.
    */
  def points(status: DataFrame, members: DataFrame, details: DataFrame,
      measurement: String): DataFrame = {
    val keys = Seq("host_name", "service_description")
    val filtered = Relational.semiJoinMembers(status, members, keys)
    // Pre-filter the build side to member keys like `url...py:72` —
    // keeps the broadcast table minimal.
    val detailsSlim = Relational.semiJoinMembers(details, members, keys)
    val enriched = filtered.join(broadcast(detailsSlim), keys, "left")

    PlanBridge.runOnce(enriched
      // P6: drop rows missing last_check (`url...py:97-100`); "" is
      // falsy in Python, so empty string drops too.
      .filter(col("last_check").isNotNull && col("last_check") =!= "")
      // P7: drop rows whose timestamp fails to parse (`url...py:101-105`)
      .withColumn("time", ScalarOps.datetime2ToEpoch(col("last_check")))
      .filter(col("time").isNotNull)
      // F4/F5 with defaults (`url...py:107-108`)
      .withColumn("service_status",
        ScalarOps.statusText(coalesce(col("current_state"), lit("3"))))
      .withColumn("service_status_numeric",
        ScalarOps.statusNumeric(col("service_status")))
      // F10: polymorphic customvars with defaults (`url...py:85-95`)
      .withColumn("friendlyname", ScalarOps.customVar(
        col("customvars_map"), col("customvars_list"),
        "FRIENDLYNAME", "unknown"))
      .withColumn("crownjewel", ScalarOps.customVar(
        col("customvars_map"), col("customvars_list"),
        "CROWNJEWEL", "no"))
      .select(
        lit(measurement).as("measurement"),
        col("host_name"),
        col("service_description"),
        coalesce(col("display_name"), lit("unknown")).as("display_name"),
        col("friendlyname"), col("crownjewel"),
        col("service_status"), col("service_status_numeric"),
        col("time")))
  }

  /** K3 — the 4-column CSV audit projection (`url...py:80,128-133`),
    * taken off the [[points]] frame. Written after the point sink, it
    * reads the partitions that write stored: no input scan and no
    * broadcast runs again.
    */
  def auditRows(points: DataFrame): DataFrame =
    points.select("host_name", "service_description", "friendlyname",
      "crownjewel")
}
