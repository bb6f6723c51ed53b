package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.NagiosQueries

/** Stage decomposition for q_etl_job (VERDICT r15 task 6): one
  * committed AvailableNow tick = stream machinery + flatten/melt/dedup
  * compute + partitioned parquet append + result re-read. Times the
  * full tick and each constituent in isolation on the same staged
  * input, so the row's residual is named: fixed sink/stream latency vs
  * data work.
  */
object ProfileEtlJob {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val hosts = 25
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def t[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(
        f"[etljob] $tag%-28s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      r
    }
    // warm the tick once; it stages the input the passes below read
    NagiosQueries.etlJobTick(spark, dir, hosts)
      .write.mode("overwrite").format("noop").save()
    val inDir = NagiosQueries.etlJobInput(spark, dir, hosts)

    for (pass <- 1 to 3) {
      System.err.println(s"--- pass $pass ---")
      t("full tick (bench shape)") {
        NagiosQueries.etlJobTick(spark, dir, hosts)
          .write.mode("overwrite").format("noop").save()
      }
      val batch = spark.read.schema(jobs.NagiosEtlJob.inputSchema)
        .json(inDir)
      val payload = pipelines.HostMetrics.longPayload(
        pipelines.HostMetrics.flattenResponses(batch),
        Seq("CPU Usage", "Swap Usage"))
      val routed = pipelines.HostMetrics.routed(
        pipelines.HostMetrics.dedupAgainst(payload, payload.limit(0)))
        .withColumn("load_date", lit(java.time.LocalDate
          .now(java.time.ZoneOffset.UTC).toString))
      t("compute only (noop)") {
        routed.write.mode("overwrite").format("noop").save()
      }
      val wdir = java.nio.file.Files.createTempDirectory(
        Staged.root(spark).toPath, "etljob_w").toString
      t("partitioned append write") {
        routed.write.mode("append")
          .partitionBy("metric_family", "load_date")
          .parquet(s"$wdir/data")
      }
      val n = new java.io.File(s"$wdir/data").listFiles()
      t("re-read written sink") {
        spark.read.parquet(s"$wdir/data")
          .write.mode("overwrite").format("noop").save()
      }
      def countFiles(f: java.io.File): Int =
        if (f.isFile) (if (f.getName.endsWith(".parquet")) 1 else 0)
        else Option(f.listFiles()).getOrElse(Array.empty).map(countFiles).sum
      System.err.println(s"[etljob]   sink parquet files = " +
        countFiles(new java.io.File(s"$wdir/data")))
    }
    spark.stop()
  }
}
