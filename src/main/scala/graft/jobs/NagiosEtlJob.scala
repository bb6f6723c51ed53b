package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.model.NagiosModel
import graft.pipelines.HostMetrics
import graft.sources.Sinks

/** The runnable §3.1 job — the reference's cron line made a committed
  * artifact instead of a docs note (`README.md:3` chains
  * `hosts_to_csv.py` → `extract.py` → `load_to_db.py` from cron; this
  * is that chain as ONE Spark entrypoint). Each invocation is a cron
  * tick: a file-source stream over the landed rrdexport response
  * documents runs under `Trigger.AvailableNow` — process everything
  * new since the last tick, commit the source offsets to the
  * checkpoint, exit. Files already consumed by a previous tick are
  * never re-read (the checkpoint is the cron chain's "did I already
  * load this extract" bookkeeping, without the reference's
  * intermediate `data_extract.txt` handoff file).
  *
  * Exactly-once into the sink without a transactional store: the
  * melted payload is anti-join-deduped against the rows already in
  * the sink's RECENT `load_date` partitions (`extract.py:115-132`'s
  * cross-run dedup — exact whole-row identity), so a tick that died
  * between its parquet append and its checkpoint commit re-processes
  * the batch on restart and the dedup drops every already-landed row
  * — append + dedup composes to idempotent. The dedup window is
  * BOUNDED (r10, ADVICE r9): rows re-deliverable into this tick can
  * only have landed within the re-delivery horizon (a crash-restart
  * re-append lands the same UTC day it crashed; an exporter re-send
  * arrives within its retention), so the anti-join reads only
  * partitions with `load_date >= today_UTC − dedupHorizonDays`
  * (default 7) — partition-pruned at the scan, NOT a full-sink read,
  * matching the reference's previous-extract-only bound while
  * covering multi-day outages. Per-tick dedup cost is therefore
  * O(horizon ingest), flat in total sink history. Load failures
  * quarantine the payload to a UTC-timestamped path for replay
  * instead of losing it (`load_to_db.py:60-62`); the timestamp (ms
  * precision) + batch id keeps paths unique even after a checkpoint
  * reset restarts batch ids at 0 — a second same-day failure can
  * never overwrite an earlier quarantined payload.
  *
  * Scale posture: one cron tick at 100 TB fleet size is a bounded
  * file listing (only unconsumed files), a map-side flatten/melt, one
  * anti-join against the horizon partitions, keyed on a 64-bit row
  * hash with the typed columns compared null-safe in the residual
  * (broadcast while the horizon fits the threshold, a shuffled join on
  * the same key past it), and a (family,
  * load_date)-partitioned append — the same plan SURVEY §3.1 argues
  * for, wrapped in the orchestration the reference runs with.
  */
object NagiosEtlJob {

  /** One landed response document per row (`extract.py:71-76`). */
  val inputSchema: StructType = StructType(Seq(
    StructField("host_name", StringType),
    StructField("service_name", StringType),
    StructField("body", StringType)))

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: NagiosEtlJob <inDir> <outDir> <checkpointDir> [service...]")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try runOnce(spark, args(0), args(1), args(2),
      if (args.length > 3) args.drop(3).toSeq else NagiosModel.services)
    finally spark.stop()
  }

  /** One cron tick: consume every not-yet-processed response file,
    * ingest, exit. Restartable mid-batch (see object doc).
    */
  def runOnce(spark: SparkSession, inDir: String, outDir: String,
      ckptDir: String,
      services: Seq[String] = NagiosModel.services,
      dedupHorizonDays: Int = 7): Unit = {
    val q = spark.readStream.schema(inputSchema).json(inDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(spark, batch, outDir, services, batchId,
          dedupHorizonDays); ()
      }
      .start()
    q.awaitTermination()
  }

  /** Quarantine path component: unique even across checkpoint resets
    * (batch ids restart at 0) — ms-precision UTC timestamp + a
    * monotonic JVM nonce + the batch id, so a second same-day failure
    * can never overwrite an earlier quarantined payload, even if two
    * failures land in the same millisecond. UTC, not the JVM default
    * TZ: the session timezone is pinned UTC and paths must match it.
    */
  private val quarantineNonce = new java.util.concurrent.atomic.AtomicLong(0)
  def quarantineTag(batchId: Long): String =
    java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd'T'HHmmss.SSS'Z'")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.now()) +
      s"_n${quarantineNonce.getAndIncrement()}_batch$batchId"

  /** Does the sink directory contain at least one COMMITTED parquet
    * file — a visible data file whose tail carries the `PAR1` footer
    * magic? Early-exit recursive walk that skips writer scratch
    * (`_temporary`), markers (`_SUCCESS`, dotfiles); cost is O(first
    * hit) plus one 4-byte tail read, not O(sink), even on a large
    * partitioned sink. The footer check (not mere file existence) is
    * what distinguishes "an aborted first append left only truncated
    * part files" (→ empty sink, dedup starts fresh — the r10 wedge
    * fix) from "sink has real data but the read failed" (→ propagate:
    * never silently disable dedup on a healthy sink — ADVICE r11).
    * Any exception the probe itself hits (FS hiccup, permissions) also
    * propagates, for the same reason.
    */
  private[graft] def containsCommittedParquet(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Boolean = {
    val magic = Array[Byte]('P', 'A', 'R', '1')
    // listed paths come back qualified (`file:/…`); an unqualified
    // `dir` would never match them and the walk would climb to `/`
    val root = fs.makeQualified(dir)
    val it = fs.listFiles(dir, /*recursive=*/ true)
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      val hidden = // Spark/Hadoop convention: not part of the dataset
        name.startsWith("_") || name.startsWith(".")
      val inScratch = { // any _temporary/.staging ancestor below dir
        var p = st.getPath.getParent
        var found = false
        while (p != null && p != root && !found) {
          val n = p.getName
          found = n.startsWith("_") || n.startsWith(".")
          p = p.getParent
        }
        found
      }
      // 12 = leading magic + footer length + trailing magic: the
      // smallest length at which a trailing PAR1 could be a footer
      if (!hidden && !inScratch && st.isFile && st.getLen >= 12) {
        val in = fs.open(st.getPath)
        try {
          val tail = new Array[Byte](4)
          in.seek(st.getLen - 4)
          in.readFully(tail)
          if (java.util.Arrays.equals(tail, magic)) return true
        } finally in.close()
      }
    }
    false
  }

  /** Flatten → melt → dedup-vs-recent-sink-partitions → (family,
    * load_date)-partitioned append, with the quarantine failure path.
    * Public so a long-running deployment can mount the same logic on
    * a continuous trigger.
    */
  def ingestBatch(spark: SparkSession, batch: DataFrame, outDir: String,
      services: Seq[String], batchId: Long,
      dedupHorizonDays: Int = 7): Unit = {
    require(dedupHorizonDays >= 1,
      "dedupHorizonDays must cover at least the current day")
    val dataDir = s"$outDir/data"
    // A tick's batch is a handful of compact response documents whose
    // real weight is DOWNSTREAM of the scan (each doc explodes into
    // its window's points, then melts per metric): a small file batch
    // packs into fewer input splits than the cluster has cores, and
    // the whole parse/melt/write tick runs on those few tasks. Widen
    // to cluster width before the expensive part — the exchange moves
    // only the raw doc rows (the cheapest representation the data ever
    // has), and it is conditional, so a batch already at least
    // cluster-wide never pays it. Width derives from the session's
    // parallelism, not a constant, so it scales with the deployment.
    val width = spark.sparkContext.defaultParallelism
    val spread =
      if (batch.rdd.getNumPartitions < width) batch.repartition(width)
      else batch
    val payload = HostMetrics.longPayload(
      HostMetrics.flattenResponses(spread), services)
    val path = new org.apache.hadoop.fs.Path(dataDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // all times UTC: the session timezone is pinned UTC, so path
    // components and partition values must not leak the JVM default
    val todayUtc = java.time.LocalDate.now(java.time.ZoneOffset.UTC)
    // ISO dates compare correctly as strings, so this predicate prunes
    // load_date partitions at the scan — per-tick dedup reads only the
    // re-delivery horizon, never the whole sink history
    val minLoadDate = todayUtc.minusDays(dedupHorizonDays - 1L).toString
    // migration guard: a sink written by a pre-load_date deployment
    // partitions on metric_family alone; appending the new two-level
    // layout into it would leave MIXED partition depths that Spark's
    // discovery refuses to read — so an old sink stays entirely on its
    // old layout (full-sink dedup, family-only partitions, the pre-r10
    // behavior) until the operator rewrites it, and only new sinks get
    // the bounded-window layout. Detected from the sink's own schema.
    // A dir that EXISTS but holds no committed parquet footer (a first
    // append that died before any footer landed) counts as
    // nonexistent: the pre-r10 behavior threw here on every subsequent
    // tick, wedging the job with nothing ever quarantined (ADVICE
    // r10). The probe is a footer scan, NOT a catch around the read: a
    // blanket NonFatal catch turned any transient read failure (FS
    // hiccup, permissions, concurrent writer) on a HEALTHY sink into a
    // silent dedup-off tick — and worse, read oldLayout=false off an
    // old-layout sink, appending mixed partition depths that Spark's
    // discovery then refuses to read (ADVICE r11). With the probe, a
    // sink that demonstrably contains committed data but fails to read
    // propagates the failure loudly, and oldLayout can only ever be
    // computed from a successful read.
    val sinkDf: Option[DataFrame] =
      if (!fs.exists(path) || !containsCommittedParquet(fs, path)) {
        if (fs.exists(path)) System.err.println(
          s"[nagios-etl] $dataDir exists but holds no committed " +
            "parquet footer (aborted first append) — treating as an " +
            "empty sink; dedup starts fresh this tick")
        None
      } else Some(spark.read.parquet(dataDir))
    val oldLayout =
      sinkDf.exists(!_.columns.contains("load_date"))
    if (oldLayout) System.err.println(
      s"[nagios-etl] $dataDir uses the pre-load_date layout: dedup is " +
        "full-sink and unbounded for this sink — rewrite it " +
        "partitioned by (metric_family, load_date) to bound tick cost")
    val previous = sinkDf match {
      case None => payload.limit(0)
      case Some(sink) =>
        val bounded =
          if (oldLayout) sink
          else sink.filter(
            org.apache.spark.sql.functions.col("load_date") >= minLoadDate)
        bounded.select(
          payload.columns.map(org.apache.spark.sql.functions.col).toSeq: _*)
    }
    val deduped = HostMetrics.routed(
      HostMetrics.dedupAgainst(payload, previous))
    val fresh =
      if (oldLayout) deduped
      else deduped.withColumn("load_date",
        org.apache.spark.sql.functions.lit(todayUtc.toString))
    Sinks.writeWithQuarantine(fresh, s"$outDir/quarantine",
        quarantineTag(batchId)) {
      df => df.write.mode("append")
        .partitionBy(
          (if (oldLayout) Seq("metric_family")
           else Seq("metric_family", "load_date")): _*)
        .parquet(dataDir)
    } match {
      case Left(err) => System.err.println(
        s"[nagios-etl] batch $batchId quarantined: $err")
      case Right(_) => ()
    }
  }
}
