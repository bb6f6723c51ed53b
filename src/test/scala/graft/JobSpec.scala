package graft

import org.apache.spark.sql.functions._

import graft.jobs.NagiosEtlJob

/** End-to-end run of the committed §3.1 cron-tick job: landed response
  * files → AvailableNow stream → melt → dedup-vs-sink → partitioned
  * parquet. Pins the orchestration contract the reference runs from
  * cron: already-consumed files are never re-read (checkpoint),
  * already-landed rows are never duplicated (whole-row dedup), new
  * data appends.
  */
class JobSpec extends SparkSpec {
  import spark.implicits._

  private val cpuBody =
    """{"data":{"row":[{"t":"1700000000","v":"42.50"}]}}"""
  private val swapBody =
    """{"data":{"row":[{"t":"1700000000","v":["1.00","2.00","1.00"]}]}}"""

  private def land(inDir: String, rows: (String, String, String)*): Unit =
    rows.toSeq.toDF("host_name", "service_name", "body")
      .coalesce(1).write.mode("append").json(inDir)

  test("NagiosEtlJob cron tick: AvailableNow consumes once, sink dedup " +
      "makes re-delivery and mid-batch restart idempotent") {
    val base = tempDir("graftjob").toString
    val (in, out, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    val services = Seq("CPU Usage", "Swap Usage")
    def sink() = spark.read.parquet(s"$out/data")

    // tick 1: one CPU doc (scalar v) + one Swap doc (list v)
    land(in, ("h1", "CPU Usage", cpuBody), ("h1", "Swap Usage", swapBody))
    NagiosEtlJob.runOnce(spark, in, out, ckpt, services)
    val first = sink().collect()
    assert(first.length == 4) // 1 cpu metric + 3 swap metrics
    assert(sink().select("metric_family").distinct()
      .as[String].collect().sorted.toSeq == Seq("cpu", "swap"))
    assert(sink().filter($"metric_name" === "percent_used")
      .count() == 1)

    // tick 2 with NO new files: the checkpoint skips everything
    NagiosEtlJob.runOnce(spark, in, out, ckpt, services)
    assert(sink().count() == 4)

    // tick 3: the same payload re-delivered as a NEW file (the
    // monitoring exporter re-sending an extract) — consumed, then
    // whole-row dedup against the sink drops every row
    land(in, ("h1", "CPU Usage", cpuBody))
    NagiosEtlJob.runOnce(spark, in, out, ckpt, services)
    assert(sink().count() == 4)

    // tick 4: a genuinely new host appends exactly its rows
    land(in, ("h2", "CPU Usage", cpuBody))
    NagiosEtlJob.runOnce(spark, in, out, ckpt, services)
    assert(sink().count() == 5)
    assert(sink().filter($"host_name" === "h2").count() == 1)

    // mid-batch restart equivalence: a fresh checkpoint re-reads ALL
    // files (the crashed-before-commit worst case) and the sink still
    // ends bit-identical — append + dedup composes to exactly-once
    NagiosEtlJob.runOnce(spark, in, out, s"$base/ckpt2", services)
    assert(sink().count() == 5)

    // the sink is (family, load_date)-partitioned with today's UTC
    // date — the layout the bounded dedup window prunes on
    val today = java.time.LocalDate.now(java.time.ZoneOffset.UTC).toString
    assert(sink().select("load_date").distinct()
      .as[String].collect().toSeq == Seq(today))
    assert(new java.io.File(
      s"$out/data/metric_family=cpu/load_date=$today").isDirectory)
  }

  test("an out-of-range epoch is gated, not fatal: the tick commits " +
      "and every other row lands") {
    val base = tempDir("graftjobe").toString
    val (in, out, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    val services = Seq("CPU Usage", "Swap Usage")
    def sink() = spark.read.parquet(s"$out/data")
    // "99999999999999999" is a valid long, but no timestamp: it would
    // overflow the epoch → microseconds conversion
    val farBody = """{"data":{"row":[""" +
      """{"t":"99999999999999999","v":"50.00"},""" +
      """{"t":"1700000300","v":"43.00"}]}}"""
    land(in, ("h1", "CPU Usage", farBody), ("h1", "Swap Usage", swapBody))
    NagiosEtlJob.runOnce(spark, in, out, ckpt, services)
    assert(sink().count() == 4, sink().collect().mkString("\n"))
    assert(sink().filter($"metric_name" === "percent_used")
      .select("value").as[Double].collect().toSeq == Seq(43.0))
    assert(!new java.io.File(s"$out/quarantine").exists())
    // the batch committed: the next tick has nothing to replay
    NagiosEtlJob.runOnce(spark, in, out, ckpt, services)
    assert(sink().count() == 4)
  }

  test("dedup window is bounded: rows older than the horizon no " +
      "longer suppress a re-delivery; a wider horizon does") {
    val base = tempDir("graftjobw").toString
    val (in, out) = (s"$base/in", s"$base/out")
    val services = Seq("CPU Usage")
    def sink() = spark.read.parquet(s"$out/data")
    land(in, ("h1", "CPU Usage", cpuBody))
    NagiosEtlJob.runOnce(spark, in, out, s"$base/ckptw", services)
    assert(sink().count() == 1)
    // age the landed partition past the default 7-day horizon by
    // renaming its load_date directory (partition value lives in the
    // path, not the files)
    val today = java.time.LocalDate.now(java.time.ZoneOffset.UTC)
    val fam = s"$out/data/metric_family=cpu"
    assert(new java.io.File(s"$fam/load_date=$today").isDirectory)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$fam/load_date=$today"),
      java.nio.file.Paths.get(s"$fam/load_date=${today.minusDays(30)}"))
    // re-deliver the same payload: the 30-day-old copy is OUTSIDE the
    // default window, so the anti-join never reads it -> row lands
    // again (per-tick cost stays flat in sink history — that is the
    // trade the bound makes, matching extract.py's
    // previous-extract-only dedup)
    land(in, ("h1", "CPU Usage", cpuBody))
    NagiosEtlJob.runOnce(spark, in, out, s"$base/ckptw", services)
    assert(sink().count() == 2, sink().collect().mkString("\n"))
    // re-deliver once more with a 60-day horizon: the old partition
    // is back inside the window, dedup suppresses the copy
    land(in, ("h1", "CPU Usage", cpuBody))
    NagiosEtlJob.runOnce(spark, in, out, s"$base/ckptw", services,
      dedupHorizonDays = 60)
    assert(sink().count() == 2)
  }

  test("pre-load_date sink keeps its old layout: full-sink dedup, no " +
      "mixed partition depths, sink stays readable") {
    val base = tempDir("graftjobm").toString
    val (in, out) = (s"$base/in", s"$base/out")
    val services = Seq("CPU Usage")
    def sink() = spark.read.parquet(s"$out/data")
    // fabricate an OLD-layout sink: run one tick, then strip load_date
    // by rewriting family-only (what a pre-r10 deployment left behind)
    land(in, ("h1", "CPU Usage", cpuBody))
    NagiosEtlJob.runOnce(spark, in, out, s"$base/ckpt1", services)
    val legacy = sink().drop("load_date").localCheckpoint(true)
    val fs = new java.io.File(s"$out/data")
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
      f.delete(); ()
    }
    deleteRec(fs)
    legacy.write.mode("overwrite").partitionBy("metric_family")
      .parquet(s"$out/data")
    assert(!sink().columns.contains("load_date"))
    // re-delivery into the legacy sink: full-sink dedup still
    // suppresses it (pre-r10 behavior), and the appended tick keeps
    // the single-level layout so the sink stays readable
    land(in, ("h1", "CPU Usage", cpuBody))
    NagiosEtlJob.runOnce(spark, in, out, s"$base/ckpt2", services)
    assert(sink().count() == 1)
    assert(!sink().columns.contains("load_date"))
    // a genuinely new host appends in the same old layout
    land(in, ("h2", "CPU Usage", cpuBody))
    NagiosEtlJob.runOnce(spark, in, out, s"$base/ckpt3", services)
    assert(sink().count() == 2 &&
      !sink().columns.contains("load_date"))
  }

  test("existing-but-unreadable data dir does not wedge the job: a " +
      "footerless first append reads as an empty sink, the next tick " +
      "lands and the sink becomes readable (ADVICE r10)") {
    val base = tempDir("graftjobu").toString
    val (in, out) = (s"$base/in", s"$base/out")
    val services = Seq("CPU Usage")
    // fabricate the wedge state: the data dir EXISTS but holds only a
    // truncated part file with no parquet footer (a first append that
    // died partway) — the pre-fix probe threw here on EVERY tick
    val dataDir = new java.io.File(s"$out/data")
    assert(dataDir.mkdirs())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$out/data/part-00000.snappy.parquet"),
      "not a parquet footer".getBytes)
    land(in, ("h1", "CPU Usage", cpuBody))
    NagiosEtlJob.runOnce(spark, in, out, s"$base/ckpt1", services)
    // the garbage file must not poison the NOW-valid sink read: the
    // new layout lands under partition dirs, so drop the stray file
    // the way an operator cleaning a dead write would
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$out/data/part-00000.snappy.parquet"))
    val sink = spark.read.parquet(s"$out/data")
    assert(sink.count() == 1, sink.collect().mkString("\n"))
    assert(sink.columns.contains("load_date"))
    // and the tick after that sees a READABLE sink: normal dedup path
    land(in, ("h1", "CPU Usage", cpuBody))
    NagiosEtlJob.runOnce(spark, in, out, s"$base/ckpt2", services)
    assert(spark.read.parquet(s"$out/data").count() == 1)
  }

  test("a sink under a dot-named parent, passed as a plain path, keeps " +
      "its dedup: three overlapping ticks land every row exactly once") {
    val base = tempDir("graftjobh").toString
    val (in, out) = (s"$base/in", s"$base/.hidden/out")
    val services = Seq("CPU Usage")
    // each tick re-delivers every earlier host and adds one new host
    for (hosts <- 1 to 3) {
      land(in, (1 to hosts).map(h => (s"h$h", "CPU Usage", cpuBody)): _*)
      NagiosEtlJob.runOnce(spark, in, out, s"$base/ckpt", services)
    }
    val sink = spark.read.parquet(s"$out/data")
    assert(sink.count() == 3, sink.collect().mkString("\n"))
    assert(sink.select("host_name").distinct().count() == 3)
  }

  test("sink probe classifies committed vs aborted state: only a " +
      "trailing PAR1 footer counts as data, scratch/markers never do " +
      "(ADVICE r11)") {
    val base = tempDir("graftprobe")
    val dir = new org.apache.hadoop.fs.Path(base.toString)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val p = java.nio.file.Paths.get(s"$base/$rel")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, bytes)
    }
    // empty dir
    assert(!NagiosEtlJob.containsCommittedParquet(fs, dir))
    // markers + writer scratch + dotfiles: still "no data"
    put("_SUCCESS", Array.emptyByteArray)
    put(".part-0.crc", "PAR1xxxxPAR1".getBytes) // dotfile: ignored
    put("_temporary/0/task/part-1.snappy.parquet",
      "PAR1xxxxPAR1".getBytes) // in scratch: ignored
    assert(!NagiosEtlJob.containsCommittedParquet(fs, dir))
    // a truncated part file (the r10 wedge): no footer -> no data
    put("part-00000.snappy.parquet", "not a parquet footer".getBytes)
    assert(!NagiosEtlJob.containsCommittedParquet(fs, dir))
    // a genuinely committed parquet file under a partition dir -> data
    spark.range(1).toDF("x").coalesce(1).write
      .parquet(s"$base/metric_family=cpu")
    assert(NagiosEtlJob.containsCommittedParquet(fs, dir))
  }

  test("a sink with committed data that fails to read propagates the " +
      "failure instead of silently disabling dedup (ADVICE r11)") {
    // the scenario the blanket NonFatal catch got wrong: the sink HAS
    // committed parquet, but the whole-dir read fails — here the exact
    // state the migration guard (ingestBatch) warns about: MIXED
    // partition depths, a committed file directly under
    // metric_family=*/ alongside its load_date=*/ subdirs, which
    // Spark's partition discovery refuses. Treating this as "empty
    // sink" would silently disable dedup and keep appending into the
    // broken layout forever; the job must fail the tick loudly.
    val base = tempDir("graftprop").toString
    val (in, out) = (s"$base/in", s"$base/out")
    val services = Seq("CPU Usage")
    land(in, ("h1", "CPU Usage", cpuBody))
    NagiosEtlJob.runOnce(spark, in, out, s"$base/ckpt1", services)
    assert(spark.read.parquet(s"$out/data").count() == 1)
    val famDir = new java.io.File(s"$out/data").listFiles()
      .find(_.getName.startsWith("metric_family=")).get
    val partFile = famDir.listFiles()
      .find(_.getName.startsWith("load_date=")).get.listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val stray = new java.io.File(famDir, "part-stray.parquet")
    java.nio.file.Files.copy(partFile.toPath, stray.toPath)
    // precondition: the poisoned sink really is unreadable as a whole
    intercept[Exception] { spark.read.parquet(s"$out/data").count() }
    land(in, ("h1", "CPU Usage", cpuBody))
    intercept[Exception] {
      NagiosEtlJob.runOnce(spark, in, out, s"$base/ckpt2", services)
    }
    // and nothing was appended: the failed tick did not write
    java.nio.file.Files.delete(stray.toPath)
    assert(spark.read.parquet(s"$out/data").count() == 1)
  }

  test("quarantine tags are unique across same-millisecond failures " +
      "and checkpoint-reset batch-id restarts, and are UTC") {
    // the ADVICE r9 failure path: after a checkpoint reset batch ids
    // restart at 0, so two same-day batch-0 failures previously
    // collided on failed_run_date=<date>_batch0 with mode(overwrite)
    val tags = (1 to 100).map(_ => NagiosEtlJob.quarantineTag(0L))
    assert(tags.distinct.length == 100, "colliding quarantine tags")
    assert(tags.forall(_.endsWith("_batch0")))
    // UTC, ms precision: parseable back under the UTC formatter
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd'T'HHmmss.SSS'Z'")
      .withZone(java.time.ZoneOffset.UTC)
    tags.foreach { t =>
      val ts = t.substring(0, t.indexOf("_n"))
      val parsed = java.time.Instant.from(fmt.parse(ts))
      assert(math.abs(parsed.toEpochMilli -
        System.currentTimeMillis()) < 60000, t)
    }
  }
}
