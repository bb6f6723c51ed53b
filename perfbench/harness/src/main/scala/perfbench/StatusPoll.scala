package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import graft.pipelines.StatusPoints
import graft.sources.Sinks

/** status_points: one long-lived JVM polling like the reference's
  * status script. Each poll reads one landed snapshot of servicegroup
  * members, service status and service details, builds the points
  * with `StatusPoints.points`, commits them through the two-phase
  * `graft-points` sink and writes the `auditRows` CSV. The snapshot
  * dirs are polled in order, in whole rounds: [[WarmRounds]] rounds
  * warm the JIT (the first poll is a fresh poller's), then measured
  * rounds follow, at least [[MinRounds]], until `seconds` have passed
  * since the first measured poll. Each round ends with a
  * [[Harness.calibrate]]. Poll i writes under `outDir/poll_<i>`.
  *
  * Traced runs first materialize the points frame on its own (`build`)
  * so the sink and audit writes can be set against one pass of the
  * plan: `reads_per_row` is the input rows the two writes read per
  * input row that one pass reads.
  *
  * usage: StatusPoll <snapshotsDir> <outDir> <seconds> <trace 0|1>
  */
object StatusPoll {
  /** Rounds that warm the JIT before the measured ones. */
  val WarmRounds = 2
  /** Measured rounds, at least. */
  val MinRounds = 2
  val Measurement = "service_status"
  val TagCols = "host_name,service_description,display_name,friendlyname,crownjewel"
  val FieldCols = "service_status,service_status_numeric"

  private val keys = Seq(
    StructField("host_name", StringType),
    StructField("service_description", StringType))
  val membersSchema: StructType = StructType(keys)
  val statusSchema: StructType = StructType(keys ++ Seq(
    StructField("current_state", StringType),
    StructField("last_check", StringType)))
  val detailsSchema: StructType = StructType(keys ++ Seq(
    StructField("display_name", StringType),
    StructField("customvars_map", MapType(StringType, StringType)),
    StructField("customvars_list", StatusPoints.customvarsListType)))

  def main(args: Array[String]): Unit = {
    val Array(snapDir, outDir, secondsArg, traceFlag) = args
    val seconds = secondsArg.toDouble
    val spark = Harness.session()
    val ready = Harness.now()
    val trace = if (traceFlag == "1") Some(Trace.attach(spark)) else None
    val snaps = Option(new java.io.File(snapDir).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getPath).sorted.toSeq
    require(snaps.nonEmpty, s"no snapshot dirs under $snapDir")

    val cores = spark.sparkContext.defaultParallelism
    val calibrations = collection.mutable.ArrayBuffer.empty[Double]
    val start = Harness.now()
    val polls = collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val warmPolls = WarmRounds * snaps.size
    var measuredFrom = Double.NaN
    while (polls.size < warmPolls + MinRounds * snaps.size ||
        Harness.now() - measuredFrom < seconds) {
      if (polls.size == warmPolls) measuredFrom = Harness.now()
      snaps.zipWithIndex.foreach { case (snap, si) =>
        val id = f"poll_${polls.size}%04d"
        val cpu0 = Harness.cpu()
        val (layers, wall) = Harness.timed(poll(spark, snap, s"$outDir/$id", id, trace))
        polls += Map("snapshot" -> si, "wall_s" -> wall,
          "cpu_s" -> (Harness.cpu() - cpu0)) ++ layers
      }
      calibrations += Harness.calibrate(cores)
    }
    Harness.emit(
      "ready" -> ready, "start" -> start,
      "warm_polls" -> warmPolls, "polls" -> polls,
      "calibration_s" -> calibrations,
      "totals" -> trace.map(_.sum(spark)(_ => true).fields).orNull,
      "peak_rss_mb" -> Harness.peakRssMb())
    spark.stop()
  }

  private def poll(spark: SparkSession, snap: String, out: String,
      id: String, trace: Option[Trace]): Map[String, Any] = {
    def read(name: String, schema: StructType) =
      spark.read.schema(schema).json(s"$snap/$name.json")
    val points = StatusPoints.points(read("status", statusSchema),
      read("members", membersSchema), read("details", detailsSchema),
      Measurement)
    val build = trace.map { _ =>
      Trace.tagged(spark, s"$id.build")(Harness.timed(
        points.write.format("noop").mode("overwrite").save()))._2
    }
    val (_, sinkS) = Trace.tagged(spark, s"$id.sink")(Harness.timed(
      points.write.format("graft-points").mode("append")
        .option("path", s"$out/points")
        .option("measurement", Measurement)
        .option("tagCols", TagCols)
        .option("fieldCols", FieldCols)
        .option("timeCol", "time")
        .save()))
    val (_, auditS) = Trace.tagged(spark, s"$id.audit")(Harness.timed(
      Sinks.writeCsv(StatusPoints.auditRows(points), s"$out/audit")))
    (trace, build) match {
      case (Some(t), Some(b)) =>
        def read(step: String) = t.sum(spark)(_ == s"$id.$step").recordsRead
        val once = read("build")
        Map("points_build_s" -> b, "sink_s" -> sinkS, "audit_s" -> auditS,
          "reads_per_row" ->
            (if (once == 0) 0.0 else (read("sink") + read("audit")).toDouble / once))
      case _ => Map.empty
    }
  }
}
