package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.catalog.NagiosQueries

/** Scratch decomposition of etl_job_hosts (round 10): times the cron
  * tick's internal stages at 1x and 10x to attribute the first
  * measured 6.65 ratio. Lives in the TEST source set so it never
  * ships in the library jar (ADVICE r10); run with
  * `sbt "Test/runMain graft.ProfileEtl [dir1:hosts1 dir2:hosts2 ...]"`.
  */
object ProfileEtl {
  def main(args: Array[String]): Unit = {
    val targets =
      if (args.nonEmpty) args.toSeq.map { a =>
        val Array(d, h) = a.split(":", 2); (d, h.toInt)
      }
      else Seq(("/root/testdata/sf0.1", 25),
        ("/root/repo/tmp/scale10x", 250))
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
        f"[etl] $tag%-28s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      r
    }
    for ((dir, hosts) <- targets; pass <- 1 to 2) {
      System.err.println(s"--- $dir hosts=$hosts pass $pass ---")
      val inDir = t("stage input (once)")(NagiosQueries.etlJobInput(spark, dir, hosts))
      val batch = t("json_read+count") {
        val b = spark.read.schema(jobs.NagiosEtlJob.inputSchema).json(inDir)
        System.err.println(s"[etl]   docs=${b.count()}")
        b
      }
      t("flatten+melt+count") {
        graft.pipelines.HostMetrics.longPayload(
          graft.pipelines.HostMetrics.flattenResponses(batch),
          Seq("CPU Usage", "Swap Usage")).count()
      }
      val base = java.nio.file.Files.createTempDirectory(
        Staged.root(spark).toPath, "etlprof").toString
      t("ingestBatch(batch mode)") {
        jobs.NagiosEtlJob.ingestBatch(spark, batch, s"$base/out",
          Seq("CPU Usage", "Swap Usage"), 0L)
      }
      t("full_tick(stream)") {
        jobs.NagiosEtlJob.runOnce(spark, inDir, s"$base/out2",
          s"$base/ckpt2", Seq("CPU Usage", "Swap Usage"))
      }
    }
    spark.stop()
  }
}
