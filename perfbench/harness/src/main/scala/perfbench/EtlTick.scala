package perfbench

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.Trigger

import graft.jobs.NagiosEtlJob
import graft.model.NagiosModel
import graft.pipelines.HostMetrics
import graft.sources.Sinks

/** etl_ticks: consecutive cron ticks of the host-metrics job in one
  * JVM. Before each tick the next document file is moved from
  * `stagingDir` into the landing dir, as an exporter lands it; the tick
  * is then `NagiosEtlJob.runOnce` over the job's stream, checkpoint and
  * sink, in a session built as `NagiosEtlJob.main` builds it. The first
  * tick is the cron tick (with JVM and session start in front of it),
  * the later ones are what a long-running deployment pays per tick.
  * Each tick is followed by a [[Harness.calibrate]].
  *
  * Traced runs replay each tick's batch ingest from the job's public
  * steps instead, so that each layer can be timed:
  *
  *  - parse_melt: `HostMetrics.flattenResponses` + `longPayload`
  *  - dedup: `HostMetrics.dedupAgainst` over the sink's horizon
  *    partitions, then `routed`
  *  - write: `Sinks.writeWithQuarantine` with the job's partitioned
  *    append
  *
  * Each step's result is persisted and counted before the next starts,
  * so a step's time is its own. That splits the job's fused plan: the
  * sum of the steps is not the untraced ingest time, which is why the
  * end-to-end figures come from untraced runs. The sink is always one
  * the benchmark made, in the job's current layout, so the job's guards
  * for aborted or old-layout sinks have no part here.
  *
  * usage: EtlTick <stagingDir> <inDir> <outDir> <checkpointDir> <trace 0|1>
  */
object EtlTick {
  /** NagiosEtlJob.runOnce's default re-delivery horizon. */
  private val HorizonDays = 7

  def main(args: Array[String]): Unit = {
    val Array(stagingDir, inDir, outDir, ckptDir, traceFlag) = args
    val spark = Harness.session()
    val ready = Harness.now()
    val trace = if (traceFlag == "1") Some(Trace.attach(spark)) else None
    val files = Option(new java.io.File(stagingDir).listFiles()).getOrElse(Array.empty)
      .map(_.getName).sorted.toSeq
    val cores = spark.sparkContext.defaultParallelism
    val calibrations = collection.mutable.ArrayBuffer.empty[Double]
    val ticks = files.map { name =>
      java.nio.file.Files.move(
        java.nio.file.Paths.get(stagingDir, name),
        java.nio.file.Paths.get(new java.net.URI(inDir)).resolve(name))
      val start = Harness.now()
      val cpu0 = Harness.cpu()
      val layers = trace match {
        case None =>
          NagiosEtlJob.runOnce(spark, inDir, outDir, ckptDir)
          Map.empty[String, Double]
        case Some(_) => tracedTick(spark, inDir, outDir, ckptDir)
      }
      val end = Harness.now()
      val cpuS = Harness.cpu() - cpu0
      calibrations += Harness.calibrate(cores)
      Map("file" -> name, "start" -> start, "end" -> end, "cpu_s" -> cpuS) ++ layers
    }
    Harness.emit(
      "ready" -> ready, "ticks" -> ticks,
      "calibration_s" -> calibrations,
      "totals" -> trace.map(_.sum(spark)(_ => true).fields).orNull,
      "peak_rss_mb" -> Harness.peakRssMb())
    spark.stop()
  }

  /** `NagiosEtlJob.runOnce` with the batch ingest timed step by step. */
  private def tracedTick(spark: SparkSession, inDir: String, outDir: String,
      ckptDir: String): Map[String, Double] = {
    val acc = collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spark.readStream.schema(NagiosEtlJob.inputSchema).json(inDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (counts, s) = Harness.timed(ingest(spark, batch, outDir, batchId))
        counts.foreach { case (k, v) => acc(k) += v }
        acc("batch_s") += s
        ()
      }
      .start()
      .awaitTermination()
    acc.toMap
  }

  private def parquetFiles(fs: FileSystem, dir: Path): Long =
    if (!fs.exists(dir)) 0L
    else {
      var n = 0L
      val it = fs.listFiles(dir, true)
      while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }

  private def ingest(spark: SparkSession, batch: DataFrame, outDir: String,
      batchId: Long): Map[String, Double] = {
    val services = NagiosModel.services
    val dataDir = s"$outDir/data"
    val width = spark.sparkContext.defaultParallelism
    val spread =
      if (batch.rdd.getNumPartitions < width) batch.repartition(width)
      else batch
    val points = HostMetrics.flattenResponses(spread)
    val payload = HostMetrics.longPayload(points, services).persist()
    val (melted, parseS) = Trace.tagged(spark, "parse_melt")(
      Harness.timed(payload.count()))

    val path = new Path(dataDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val today = java.time.LocalDate.now(java.time.ZoneOffset.UTC)
    val previous =
      if (!fs.exists(path)) payload.limit(0)
      else spark.read.parquet(dataDir)
        .filter(col("load_date") >= today.minusDays(HorizonDays - 1L).toString)
        .select(payload.columns.map(col).toSeq: _*)
    val fresh = HostMetrics.routed(HostMetrics.dedupAgainst(payload, previous))
      .withColumn("load_date", lit(today.toString))
      .persist()
    val (newRows, dedupS) = Trace.tagged(spark, "dedup")(
      Harness.timed(fresh.count()))

    // counts for the accounting, outside the timed steps
    val horizonRows = previous.count()
    val pointsIn = points.filter(col("service_name").isin(services: _*)).count()
    val passing = payload.groupBy("service_name").count().collect()
      .map(r => r.getLong(1) / NagiosModel.serviceKeys(r.getString(0)).size)
      .sum
    val filesBefore = parquetFiles(fs, path)

    val (res, writeS) = Trace.tagged(spark, "write")(Harness.timed(
      Sinks.writeWithQuarantine(fresh, s"$outDir/quarantine",
          s"traced_batch$batchId") { df =>
        df.write.mode("append").partitionBy("metric_family", "load_date")
          .parquet(dataDir)
      }))
    res.left.foreach(e => throw new IllegalStateException(
      s"traced tick quarantined its batch: $e"))
    val filesWritten = parquetFiles(fs, path) - filesBefore
    payload.unpersist()
    fresh.unpersist()
    Map(
      "parse_melt_s" -> parseS, "dedup_s" -> dedupS, "write_s" -> writeS,
      "melted_rows" -> melted.toDouble,
      "gated_rows" -> (pointsIn - passing).toDouble,
      "new_rows" -> newRows.toDouble,
      "horizon_rows_read" -> horizonRows.toDouble,
      "files_written" -> filesWritten.toDouble)
  }
}
