package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.SparkEntry

/** catalog_mix: run the named SparkEntry catalog queries once in this
  * fresh process (session memos, JIT and codegen all cold), once more
  * to warm up, then in measured warm passes over all of them until
  * `seconds` have passed (at least [[MinWarmPasses]]), each pass
  * followed by a [[Harness.calibrate]].
  *
  * A cold execution is split at the catalog function's return: `build`
  * is the time inside the function (plan construction plus whatever it
  * does eagerly: staging builds, size gates, driver folds), `exec` the
  * time to materialize the frame it returns. Rows are collected, so
  * every output column is computed and nothing is written to files.
  * After the clock stops and the trace is read, the cold rows are
  * written as parquet for run.py's check against the DuckDB digests,
  * and the warm rows are compared with the cold ones here.
  *
  * usage: Catalog <dataDir> <outDir> <q1,q2,...> <seconds> <trace 0|1>
  */
object Catalog {
  /** Measured warm passes, at least. */
  val MinWarmPasses = 2

  def main(args: Array[String]): Unit = {
    val Array(dataDir, outDir, list, secondsArg, traceFlag) = args
    val seconds = secondsArg.toDouble
    val names = list.split(",").toSeq
    val spark = Harness.session(
      // graft.Bench's static setting: the catalog's query plans
      // outgrow Spark's 100-entry codegen cache
      "spark.sql.codegen.cache.maxEntries" -> "5000")
    val ready = Harness.now()
    val trace = if (traceFlag == "1") Some(Trace.attach(spark)) else None
    val fns = names.map(n => n -> SparkEntry.queries.getOrElse(n,
      throw new IllegalArgumentException(s"unknown catalog query $n")))

    val start = Harness.now()
    val cold = fns.map { case (n, fn) =>
      val (df, build) = Trace.tagged(spark, s"$n.build")(
        Harness.timed(fn(spark, dataDir)))
      val (rows, exec) = Trace.tagged(spark, s"$n.exec")(
        Harness.timed(df.collect()))
      n -> (df.schema, rows, build, exec)
    }
    val coldEnd = Harness.now()
    def pass(tag: String) = {
      val cpu0 = Harness.cpu()
      val queries = fns.map { case (n, fn) =>
        val (rows, s) = Trace.tagged(spark, s"$n.$tag")(
          Harness.timed(fn(spark, dataDir).collect()))
        n -> (rows, s)
      }
      (queries, Harness.cpu() - cpu0)
    }
    val cores = spark.sparkContext.defaultParallelism
    val calibrations = collection.mutable.ArrayBuffer.empty[Double]
    pass("warmup")
    calibrations += Harness.calibrate(cores)
    val warmStart = Harness.now()
    val warm = collection.mutable.ArrayBuffer.empty[(Seq[(String, (Array[Row], Double))], Double)]
    while (warm.size < MinWarmPasses || Harness.now() - warmStart < seconds) {
      warm += pass("warm")
      calibrations += Harness.calibrate(cores)
    }
    val warmEnd = Harness.now()

    def canon(rows: Array[Row]): Seq[String] = rows.map(_.toString).sorted.toSeq
    val warmDiffers = warm.map(_._1).flatMap(cold.zip(_).collect {
      case ((n, (_, c, _, _)), (_, (w, _))) if canon(c) != canon(w) => n
    }).distinct
    val totals = trace.map(_.sum(spark)(_ => true))
    val traced = trace.zip(totals).map { case (t, all) =>
      val cores = spark.sparkContext.defaultParallelism
      val timedS = warmEnd - start
      Map(
        "eager_jobs" -> t.sum(spark)(_.endsWith(".build")).jobs,
        "idle_core_share" ->
          (1.0 - all.busyMs / 1000.0 / (timedS * cores)),
        "per_query" -> names.map { n =>
          val w = t.sum(spark)(_ == s"$n.warm")
          n -> Map("jobs" -> w.jobs / warm.size,
            "shuffle_write_bytes" -> w.shuffleWriteBytes / warm.size)
        }.toMap)
    }
    // the check's writes come after the trace is read, so they are not
    // booked to the queries
    cold.foreach { case (n, (schema, rows, _, _)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$n")
    }
    Harness.emit(
      "ready" -> ready, "start" -> start,
      "cold_s" -> (coldEnd - start),
      "warm_s" -> warm.map(_._1.map(_._2._2).sum),
      "warm_cpu_s" -> warm.map(_._2),
      "calibration_s" -> calibrations,
      "queries" -> cold.map { case (n, (_, rows, build, exec)) =>
        n -> Map("build_s" -> build, "exec_s" -> exec,
          "warm_s" -> warm.map(_._1.toMap.apply(n)._2), "rows" -> rows.length)
      }.toMap,
      "warm_differs" -> warmDiffers,
      "totals" -> totals.map(_.fields).orNull,
      "peak_rss_mb" -> Harness.peakRssMb(),
      "trace" -> traced.orNull)
    spark.stop()
  }
}
