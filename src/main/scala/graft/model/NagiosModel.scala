package graft.model

import org.apache.spark.sql.types._

/** Data model of the reference engine, re-expressed as explicit Spark
  * schemas (SURVEY §1).
  *
  * The reference computes row schemas at runtime from a service-name →
  * value-column registry (`extract.py:37-48`) and relies on dict key
  * order for SQL inserts (`load_to_db.py:46-48`). Here every metric
  * family gets an explicit [[StructType]] so schema enforcement is
  * static and order-independence is guaranteed by name-based resolution.
  *
  * Column casing reproduces the reference verbatim, including the
  * `Used_Gib` (not `GiB`) spelling for all disk families
  * (`extract.py:40-46`) and `Free_Gib` for "Disk Usage home" only
  * (`extract.py:46`) — these are part of the reference's on-disk
  * contract.
  */
object NagiosModel {

  /** service name → ordered value-column names (`extract.py:37-48`). */
  val serviceKeys: Map[String, Seq[String]] = Map(
    "Memory Usage" -> Seq(
      "memory_available_GiB", "memory_total_GiB", "memory_used_percent",
      "memory_free_GiB", "memory_used_GiB"),
    "Swap Usage" -> Seq("swap_used_GiB", "swap_total_GiB", "swap_free_GiB"),
    "Disk Usage root" -> Seq("Used_Gib", "Free_GiB", "Total_GiB"),
    "Disk Usage tmp"  -> Seq("Used_Gib", "Free_GiB", "Total_GiB"),
    "Disk Usage apps" -> Seq("Used_Gib", "Free_GiB", "Total_GiB"),
    "Disk Usage boot" -> Seq("Used_Gib", "Free_GiB", "Total_GiB"),
    "Disk Usage opt"  -> Seq("Used_Gib", "Free_GiB", "Total_GiB"),
    "Disk Usage var"  -> Seq("Used_Gib", "Free_GiB", "Total_GiB"),
    "Disk Usage home" -> Seq("Used_Gib", "Free_Gib", "Total_GiB"),
    "CPU Usage" -> Seq("percent_used")
  )

  /** Stable service ordering (insertion order of `extract.py:37-48`). */
  val services: Seq[String] = Seq(
    "Memory Usage", "Swap Usage", "Disk Usage root", "Disk Usage tmp",
    "Disk Usage apps", "Disk Usage boot", "Disk Usage opt",
    "Disk Usage var", "Disk Usage home", "CPU Usage")

  /** Metric families routed to physical tables by substring match on the
    * lower-cased service name (`load_to_db.py:34-36`): table
    * `host_{family}_usage`.
    */
  val metricFamilies: Seq[String] = Seq("cpu", "mem", "disk", "swap")

  /** Long ("unpivoted") schema uniting every family:
    * (host, service, ts, metric_name, value). Used where a single
    * relation over all families is more convenient than 10 wide ones.
    */
  val longSchema: StructType = StructType(Seq(
    StructField("host_name", StringType, nullable = false),
    StructField("timestamp", StringType, nullable = false),
    StructField("service_name", StringType, nullable = false),
    StructField("metric_name", StringType, nullable = false),
    StructField("value", DoubleType, nullable = true)))

  /** Status code → text (`url_service_status_InfluxDB_insert.py:26-31`);
    * missing/unknown code defaults to "UNKNOWN" (`:107`).
    */
  val statusMap: Map[String, String] = Map(
    "0" -> "OK", "1" -> "WARNING", "2" -> "CRITICAL", "3" -> "UNKNOWN")

  /** Status text → numeric (`url...py:32-37`); default −1 (`:108`). */
  val statusNumericMap: Map[String, Int] = Map(
    "OK" -> 0, "WARNING" -> 1, "CRITICAL" -> 2, "UNKNOWN" -> 3)

  /** Host inventory row (`hosts_to_csv.py:24`). */
  case class HostRow(host_name: String, host_group: String)
}
