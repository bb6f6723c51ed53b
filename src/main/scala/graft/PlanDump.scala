package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.catalog.Catalog

/** Optimization-round evidence tool: write `.explain("formatted")` for
  * the named declared queries to `<outDir>/<query>_<suffix>.txt` (the
  * plans/rNN deliverable the judge reads in place of a live Spark UI).
  * Usage: runMain graft.PlanDump <outDir> <suffix> q_a,q_b,...
  * Env: SPARK_GRAFT_SF_DIR (data dir), SPARK_GRAFT_CPUS.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: PlanDump <outDir> <suffix> q_a,q_b,...")
    val Array(outDir, suffix, namesCsv) = args
    val names = namesCsv.split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val all = Catalog.select(SparkEntry.queries ++ SparkEntry.benchOnly,
      Some(names.toSeq))
    val spark = Catalog.session()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = all(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        txt.getBytes(StandardCharsets.UTF_8))
      System.err.println(s"[plandump] $name -> ${name}_$suffix.txt")
    }
    spark.stop()
  }
}
