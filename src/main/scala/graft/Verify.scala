package graft
import java.nio.file.{Files, Paths}

import graft.catalog.Catalog

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local
    // iteration only — the driver always calls the 2-arg form)
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.lift(2).map(_.split(",").toSeq)
    // queries ++ verifyOnly: the forced-distributed graph twins are
    // verify-surface only (ADVICE r13) — the driver oracles them every
    // round, the bench never times them
    val run = Catalog.select(SparkEntry.queries ++ SparkEntry.verifyOnly,
      only)
    val spark = Catalog.session()
    new java.io.File(outDir).mkdirs()
    // each query runs as its own job group behind a stderr marker, so
    // a Spark log line (a stage warning, say) can be placed between
    // two markers and its jobs carry the query's name
    run.foreach { case (name, fn) =>
      System.err.println(s"[verify] $name")
      spark.sparkContext.setJobGroup(name, name)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally spark.sparkContext.clearJobGroup()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => run.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
