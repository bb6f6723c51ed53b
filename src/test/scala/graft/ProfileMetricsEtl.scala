package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scratch stage profiler for q_metrics_etl's 10x attribution (round
  * 8, VERDICT item 1). Mirrors NagiosQueries.metricsEtl stage by stage
  * and times each prefix at 1x and 10x so the superlinear stage is
  * named by measurement, not argument. Not part of the bench surface.
  */
object ProfileMetricsEtl {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    val hosts = 25
    def ev(dir: String) = sources.Tables.events(spark, dir).select(
      col("event_id"),
      concat(lit("host"), (col("user_id") % hosts).cast("string"))
        .as("host_name"),
      unix_timestamp(col("ts")).as("epoch"))
    def dd(m: Column): Column = format_string("%d.%02d",
      floor(m / 100).cast("long"), (m % 100).cast("long"))
    def cpuV = when(col("event_id") % 97 === 0, lit("NaN"))
      .otherwise(dd((col("event_id") * 7) % 10000))
    def swapV = array(
      dd((col("event_id") * 3) % 5000),
      when(col("event_id") % 89 === 0, lit("garbage"))
        .otherwise(dd((col("event_id") * 11) % 9000)),
      dd((col("event_id") * 13) % 7000))
    def responses(dir: String, svc: String, vCol: Column): DataFrame =
      ev(dir)
        .select(col("host_name"),
          floor(col("epoch") / (25L * 3600L)).as("__w"),
          struct(col("epoch").cast("string").as("t"), vCol.as("v")).as("p"))
        .groupBy(col("host_name"), col("__w"))
        .agg(collect_list(col("p")).as("row"))
        .select(col("host_name"), lit(svc).as("service_name"),
          to_json(struct(struct(col("row")).as("data"))).as("body"))
    def docs(dir: String) = responses(dir, "CPU Usage", cpuV)
      .unionByName(responses(dir, "Swap Usage", swapV))
    def points(dir: String) =
      pipelines.HostMetrics.flattenResponses(docs(dir))
    def payload(dir: String) = pipelines.HostMetrics.longPayload(
      points(dir), Seq("CPU Usage", "Swap Usage"))
    def full(dir: String) = {
      val p = payload(dir)
      val previous = p.filter(
        col("host_name").isin("host0", "host1", "host2"))
      pipelines.HostMetrics.routed(
        pipelines.HostMetrics.dedupAgainst(p, previous))
    }
    def time(tag: String, df: => DataFrame): Double = {
      val t = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      val s = (System.nanoTime() - t) / 1e9
      System.err.println(f"[profile] $tag%-28s $s%7.2f s")
      s
    }
    val stages: Seq[(String, String => DataFrame)] = Seq(
      "scan_only" -> (d => ev(d)),
      "docs(collect+to_json)" -> (d => docs(d)),
      "points(parse+explode)" -> (d => points(d)),
      "payload(melt+gate)" -> (d => payload(d)),
      "full(antijoin+route)" -> (d => full(d)))
    for (dir <- Seq(sys.env.getOrElse("D1", "/root/testdata/sf0.1"),
        sys.env.getOrElse("D10", "/root/repo/tmp/scale10x"))) {
      System.err.println(s"=== $dir ===")
      stages.foreach { case (tag, f) =>
        time(tag, f(dir)) // warm
        time(tag, f(dir))
      }
    }
    spark.stop()
  }
}
