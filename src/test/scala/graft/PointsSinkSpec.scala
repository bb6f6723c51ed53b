package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** A local filesystem that counts the staged files it creates and the
  * renames it makes; reached only through a conf naming it as
  * `fs.file.impl`.
  */
class CountingLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def create(f: org.apache.hadoop.fs.Path,
      permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    if (f.toString.contains("/_staging/"))
      CountingLocalFs.stagedCreates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    CountingLocalFs.renames.incrementAndGet()
    super.rename(src, dst)
  }
}
object CountingLocalFs {
  val stagedCreates = new java.util.concurrent.atomic.AtomicInteger(0)
  val renames = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** DSv2 exactly-once point sink (K5 engine form): staged-file commit
  * protocol, line-protocol rendering, abort-publishes-nothing.
  */
class PointsSinkSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def tmpDir(): String =
    tempDir("graftpoints").toString

  private def points = Seq(
    ("hostA", "CPU load", 0L, 0.42, ts("2024-01-01 00:00:00")),
    ("host B", "Mem usage", 1L, 0.84, ts("2024-01-01 00:00:01")),
    ("hostC", null.asInstanceOf[String], 2L, 0.11,
      ts("2024-01-01 00:00:02"))
  ).toDF("host_name", "service_description", "state_numeric", "value",
    "event_ts")

  private def write(df: org.apache.spark.sql.DataFrame, dir: String,
      mode: String = "append"): Unit =
    df.write.format("graft-points").mode(mode)
      .option("path", dir)
      .option("measurement", "service_status")
      .option("tagCols", "host_name,service_description")
      .option("fieldCols", "state_numeric,value")
      .option("timeCol", "event_ts")
      .save()

  private def published(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".lp"))
      .flatMap(p => Files.readAllLines(p).asScala)
      .toSeq

  test("round-trip: every row published once, staging cleaned, manifest") {
    val dir = tmpDir()
    write(points, dir)
    val lines = published(dir)
    assert(lines.size == 3)
    // line protocol shape: tags escaped, int fields suffixed i,
    // epoch-second time
    val a = lines.find(_.contains("host_name=hostA")).get
    assert(a == "service_status,host_name=hostA," +
      "service_description=CPU\\ load state_numeric=0i,value=0.42 " +
      "1704067200")
    // escaping of the space in "host B"
    assert(lines.exists(_.contains("host_name=host\\ B")))
    // null tag simply omitted
    val c = lines.find(_.contains("hostC")).get
    assert(!c.contains("service_description="))
    // staging gone, _SUCCESS manifest carries the count
    assert(!Files.exists(Paths.get(dir, "_staging")))
    val manifest = Files.readString(Paths.get(dir, "_SUCCESS"))
    assert(manifest == """{"rows":3}""")
  }

  test("file mode resolves the session's Hadoop conf: task writers " +
      "and the driver commit go through its filesystem") {
    val dir = tmpDir()
    val (creates0, renames0) =
      (CountingLocalFs.stagedCreates.get(), CountingLocalFs.renames.get())
    spark.conf.set("fs.file.impl", classOf[CountingLocalFs].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try write(points.repartition(2), dir)
    finally {
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
    }
    assert(published(dir).size == 3)
    // one staged file per task, one rename per non-empty partition
    assert(CountingLocalFs.stagedCreates.get() - creates0 == 2)
    val parts = Files.list(Paths.get(dir)).iterator().asScala
      .count(_.getFileName.toString.endsWith(".lp"))
    assert(CountingLocalFs.renames.get() - renames0 == parts)
  }

  test("newlines in values cannot break line framing (one point = one line)") {
    val dir = tmpDir()
    val tricky = Seq(
      ("host\nA", "multi\r\nline desc", 0L, 1.5,
        ts("2024-01-01 00:00:00")),
      ("hostB", "ok", 1L, 2.5, ts("2024-01-01 00:00:01"))
    ).toDF("host_name", "service_description", "state_numeric", "value",
      "event_ts")
      // a STRING field value with embedded newlines, too
      .withColumn("note", concat(lit("a\nb"), col("host_name")))
    tricky.write.format("graft-points").mode("append")
      .option("path", dir)
      .option("measurement", "m")
      .option("tagCols", "host_name,service_description")
      .option("fieldCols", "state_numeric,note")
      .option("timeCol", "event_ts")
      .save()
    val lines = published(dir)
    // 2 rows -> exactly 2 lines; the embedded newlines rendered as
    // literal \n / \r sequences instead of injecting bogus records
    assert(lines.size == 2, lines.mkString("|"))
    val a = lines.find(_.contains("host\\nA")).get
    assert(a.contains("service_description=multi\\r\\nline\\ desc"))
    assert(a.contains("note=\"a\\nbhost\\nA\""))
  }

  test("non-finite doubles render as absent fields, never f=NaN") {
    val dir = tmpDir()
    Seq(
      ("h1", 0L, Double.NaN, ts("2024-01-01 00:00:00")),
      ("h2", 1L, Double.PositiveInfinity, ts("2024-01-01 00:00:01")),
      ("h3", 2L, 0.5, ts("2024-01-01 00:00:02"))
    ).toDF("host_name", "state_numeric", "value", "event_ts")
      .write.format("graft-points").mode("append")
      .option("path", dir)
      .option("measurement", "m")
      .option("tagCols", "host_name")
      .option("fieldCols", "state_numeric,value")
      .option("timeCol", "event_ts")
      .save()
    val lines = published(dir)
    assert(lines.size == 3)
    // the protocol-invalid tokens never appear; the int field survives
    assert(!lines.exists(l => l.contains("NaN") || l.contains("Inf")))
    assert(lines.find(_.contains("h1")).get.contains("state_numeric=0i"))
    assert(!lines.find(_.contains("h1")).get.contains("value="))
    assert(lines.find(_.contains("h3")).get.contains("value=0.5"))
  }

  test("abort: a failing job publishes nothing") {
    val dir = tmpDir()
    val poisoned = points.withColumn("value",
      when(col("state_numeric") === 2L,
        udf((d: Double) => { throw new RuntimeException("boom"); d })
          .apply(col("value")))
        .otherwise(col("value")))
    intercept[Exception] { write(poisoned, dir) }
    // no part files, no manifest — all-or-nothing
    assert(published(dir).isEmpty)
    assert(!Files.exists(Paths.get(dir, "_SUCCESS")))
  }

  test("append accumulates; overwrite truncates previous parts") {
    val dir = tmpDir()
    write(points, dir)
    write(points, dir)
    assert(published(dir).size == 6)
    // stale epoch markers from an earlier streaming run must go too —
    // they are idempotence markers and would silence a future epoch
    Files.writeString(Paths.get(dir, "_epoch-3"), """{"epoch":3}""")
    write(points.limit(1), dir, mode = "overwrite")
    assert(published(dir).size == 1)
    assert(!Files.exists(Paths.get(dir, "_epoch-3")))
    assert(Files.readString(Paths.get(dir, "_SUCCESS")) ==
      """{"rows":1}""")
  }

  test("empty partitions publish no files") {
    val dir = tmpDir()
    write(points.repartition(8), dir)
    val parts = Files.list(Paths.get(dir)).iterator().asScala
      .count(_.getFileName.toString.endsWith(".lp"))
    assert(parts <= 3) // only non-empty partitions publish
    assert(published(dir).size == 3)
  }

  test("streaming write: per-epoch publish with epoch manifests") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val dir = tmpDir()
    val ckpt = tmpDir()
    val in = MemoryStream[(String, Long, java.sql.Timestamp)]
    val q = in.toDF()
      .toDF("host_name", "state_numeric", "event_ts")
      .writeStream.format("graft-points")
      .option("path", dir)
      .option("checkpointLocation", ckpt)
      .option("measurement", "m")
      .option("tagCols", "host_name")
      .option("fieldCols", "state_numeric")
      .option("timeCol", "event_ts")
      .start()
    try {
      in.addData(("h1", 1L, ts("2024-01-01 00:00:00")))
      q.processAllAvailable()
      in.addData(("h2", 2L, ts("2024-01-01 00:00:01")),
        ("h3", 3L, ts("2024-01-01 00:00:02")))
      q.processAllAvailable()
    } finally q.stop()
    assert(published(dir).size == 3)
    // per-epoch manifests exist; staging fully drained
    val names = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(names.exists(_.startsWith("_epoch-")))
    assert(!Files.exists(Paths.get(dir, "_staging")) ||
      Files.list(Paths.get(dir, "_staging")).count() == 0)
  }

  test("streaming commit is idempotent per epoch (replay publishes nothing)") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val dir = tmpDir()
    val schema = points.schema
    val opts = new CaseInsensitiveStringMap(Map(
      "path" -> dir, "measurement" -> "m",
      "tagCols" -> "host_name", "fieldCols" -> "state_numeric",
      "timeCol" -> "event_ts").asJava)
    val conf = graft.sources.points.PointsWriteConf(opts, schema)
    val sw = new graft.sources.points.PointsStreamingWrite(conf)
    // stage one file for epoch 7 and commit it twice (a replayed
    // epoch after checkpoint recovery)
    def stage(): graft.sources.points.PointsCommitMessage = {
      Files.createDirectories(Paths.get(dir, "_staging", "epoch-7"))
      val f = Paths.get(dir, "_staging", "epoch-7", "part-0-1.lp")
      Files.writeString(f, "m,host_name=h1 state_numeric=1i 0\n")
      graft.sources.points.PointsCommitMessage(0, 1L, f.toString, 1L)
    }
    sw.commit(7L, Array(stage()))
    assert(published(dir).size == 1)
    sw.commit(7L, Array(stage())) // replay: marker exists → no-op
    assert(published(dir).size == 1)
    assert(Files.readString(Paths.get(dir, "_epoch-7")) ==
      """{"epoch":7,"rows":1}""")
  }

  test("mid-commit crash replay: deterministic names, no duplicate parts") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val dir = tmpDir()
    val opts = new CaseInsensitiveStringMap(Map(
      "path" -> dir, "measurement" -> "m",
      "tagCols" -> "host_name", "fieldCols" -> "state_numeric",
      "timeCol" -> "event_ts").asJava)
    val conf = graft.sources.points.PointsWriteConf(opts, points.schema)
    val sw = new graft.sources.points.PointsStreamingWrite(conf)
    def stage(part: Int, taskId: Long)
        : graft.sources.points.PointsCommitMessage = {
      Files.createDirectories(Paths.get(dir, "_staging", "epoch-9"))
      val f = Paths.get(dir, "_staging", "epoch-9", s"part-$part-$taskId.lp")
      Files.writeString(f, s"m,host_name=h$part state_numeric=${part}i 0\n")
      graft.sources.points.PointsCommitMessage(part, taskId, f.toString, 1L)
    }
    // simulate the crash window: partition 0 was already renamed in a
    // commit attempt that died BEFORE the _epoch marker was written
    Files.writeString(Paths.get(dir, "part-00000-epoch9.lp"),
      "m,host_name=hSTALE state_numeric=9i 0\n")
    // the replay re-stages BOTH partitions with fresh taskIds
    sw.commit(9L, Array(stage(0, 555L), stage(1, 556L)))
    val parts = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".lp")).toSeq.sorted
    // exactly one file per partition — the pre-crash publish of
    // partition 0 was reclaimed, not duplicated under a fresh name
    assert(parts == Seq("part-00000-epoch9.lp", "part-00001-epoch9.lp"),
      parts.toString)
    // and its CONTENT is the replay's, not the dead attempt's — the
    // replay may partition the same rows differently, so survivors of
    // the old attempt must never mix with the new publish
    assert(Files.readString(Paths.get(dir, "part-00000-epoch9.lp"))
      .contains("host_name=h0"))
    assert(Files.exists(Paths.get(dir, "_epoch-9")))

    // repartitioned replay: the dead attempt published TWO parts of
    // epoch 10; the replay arrives with ONE partition (shuffle config
    // changed across restart). The stale second part must not survive
    // — skipping on name collision would have kept it (rows counted
    // twice) while dropping the new partition 0 (rows lost)
    Files.writeString(Paths.get(dir, "part-00000-epoch10.lp"),
      "m,host_name=hSTALE state_numeric=1i 0\n")
    Files.writeString(Paths.get(dir, "part-00001-epoch10.lp"),
      "m,host_name=hSTALE state_numeric=2i 0\n")
    def stage10(part: Int): graft.sources.points.PointsCommitMessage = {
      Files.createDirectories(Paths.get(dir, "_staging", "epoch-10"))
      val fp = Paths.get(dir, "_staging", "epoch-10", s"part-$part-777.lp")
      Files.writeString(fp, s"m,host_name=h$part state_numeric=${part}i 0\n")
      graft.sources.points.PointsCommitMessage(part, 777L, fp.toString, 1L)
    }
    sw.commit(10L, Array(stage10(0)))
    val parts10 = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.contains("epoch10")).toSeq.sorted
    assert(parts10 == Seq("part-00000-epoch10.lp"), parts10.toString)
    assert(!Files.readString(Paths.get(dir, "part-00000-epoch10.lp"))
      .contains("hSTALE"))
  }

  test("batch publish names carry a job id: cross-application appends never collide") {
    val dir = tmpDir()
    write(points, dir)
    write(points, dir) // second "application" appending to the same dir
    val parts = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".lp")).toSeq
    assert(parts.size == parts.distinct.size && published(dir).size == 6)
  }

  test("non-string tag column is a plan-time error, not a task crash") {
    val dir = tmpDir()
    val e = intercept[Exception] {
      points.write.format("graft-points").mode("append")
        .option("path", dir)
        .option("tagCols", "state_numeric") // LongType
        .option("fieldCols", "value")
        .option("timeCol", "event_ts")
        .save()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: messages(t.getCause)
    assert(messages(e).exists(m => m.contains("state_numeric") &&
      m.contains("must be STRING")), messages(e).mkString(" | "))
  }

  test("TLS options: validated at build time, carried into the conf") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    def conf(extra: Map[String, String]) =
      graft.sources.points.PointsWriteConf(
        new CaseInsensitiveStringMap((Map("path" -> tmpDir(),
          "tagCols" -> "host_name", "fieldCols" -> "state_numeric",
          "timeCol" -> "event_ts") ++ extra).asJava), points.schema)
    // cert without key (and vice versa) rejected as a pair
    val e1 = intercept[IllegalArgumentException] {
      conf(Map("clientCertPath" -> "/tmp/whatever.pem"))
    }
    assert(e1.getMessage.contains("together"))
    // missing credential file rejected at plan time
    val e2 = intercept[IllegalArgumentException] {
      conf(Map("clientCertPath" -> "/nonexistent/c.pem",
        "clientKeyPath" -> "/nonexistent/k.pem"))
    }
    assert(e2.getMessage.contains("does not exist"))
    // a malformed verify flag cannot silently default
    val e3 = intercept[IllegalArgumentException] {
      conf(Map("sslVerify" -> "maybe"))
    }
    assert(e3.getMessage.contains("sslVerify"))
    // valid pair + verify=false round-trips into the executor conf
    val pem = tempDir("graftpem")
    val cert = Files.createFile(pem.resolve("cert.pem"))
    val key = Files.createFile(pem.resolve("key.pem"))
    val ok = conf(Map("clientCertPath" -> cert.toString,
      "clientKeyPath" -> key.toString, "sslVerify" -> "false"))
    assert(ok.tls == graft.sources.points.PointsTlsConf(
      Some(cert.toString), Some(key.toString), sslVerify = false))
    // defaults: no credentials, verify on (url...py:142-149's shape)
    assert(conf(Map.empty).tls ==
      graft.sources.points.PointsTlsConf(None, None, sslVerify = true))
  }

  test("streaming CDC: foreachBatch applyChangelog == batch apply") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.DataFrame
    implicit val sq = spark.sqlContext
    val base = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val allChanges = Seq(
      (1L, "a2", ts("2024-01-01 10:00:00"), 1L, "U"),
      (2L, "xx", ts("2024-01-01 10:30:00"), 2L, "D"),
      (3L, "c", ts("2024-01-01 11:00:00"), 3L, "U"))
    // stream the changelog in two micro-batches, folding each into
    // the running snapshot exactly as a compaction job would
    var state: DataFrame = base
    val in = MemoryStream[(Long, String, java.sql.Timestamp, Long, String)]
    val q = in.toDF().toDF("id", "v", "ts", "seq", "op")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        state = graft.operators.Relational.applyChangelog(
          state, batch, Seq("id"), "ts", "seq", "op")
          .localCheckpoint(true)
      }.start()
    try {
      in.addData(allChanges.take(2))
      q.processAllAvailable()
      in.addData(allChanges.drop(2))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = state.as[(Long, String)].collect().toMap
    val batch = graft.operators.Relational.applyChangelog(
        base, allChanges.toDF("id", "v", "ts", "seq", "op"),
        Seq("id"), "ts", "seq", "op")
      .as[(Long, String)].collect().toMap
    assert(streamed == batch)
    assert(streamed == Map(1L -> "a2", 3L -> "c"))
  }

  // ------------------------------------------------------------------ //
  // Live-endpoint (HTTP) mode — the reference's InfluxDB write path
  // (`url_service_status_InfluxDB_insert.py:141-159`) over a local
  // stub server: real sockets, no egress.
  // ------------------------------------------------------------------ //

  /** Stub HTTP POST server on an ephemeral 127.0.0.1 port; the handler
    * sees (path, contentType, body) per request. Stopped before return.
    */
  private def withPostServer(
      handler: (String, String, String) => (Int, String))(
      f: String => Unit): Unit = {
    val srv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/", postHandler(handler))
    srv.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    srv.start()
    try f(s"http://127.0.0.1:${srv.getAddress.getPort}")
    finally srv.stop(0)
  }

  private def postHandler(
      handler: (String, String, String) => (Int, String)) =
    new com.sun.net.httpserver.HttpHandler {
      override def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        val ctype = Option(ex.getRequestHeaders.getFirst("Content-Type"))
          .getOrElse("")
        val (status, resp) = handler(ex.getRequestURI.getPath, ctype, body)
        val bytes = resp.getBytes("UTF-8")
        // 204 (InfluxDB's /write success) must carry no body
        ex.sendResponseHeaders(status, if (status == 204) -1 else
          math.max(bytes.length.toLong, if (bytes.isEmpty) -1L else 0L))
        if (status != 204 && bytes.nonEmpty) ex.getResponseBody.write(bytes)
        ex.close()
      }
    }

  private def writeEndpoint(df: org.apache.spark.sql.DataFrame,
      url: String, extra: Map[String, String] = Map.empty,
      mode: String = "append"): Unit = {
    val w = df.write.format("graft-points").mode(mode)
      .option("endpointUrl", url)
      .option("measurement", "service_status")
      .option("tagCols", "host_name,service_description")
      .option("fieldCols", "state_numeric,value")
      .option("timeCol", "event_ts")
      .option("backoffMs", "10")
    extra.foreach { case (k, v) => w.option(k, v) }
    w.save()
  }

  test("endpoint mode: POSTs line protocol over a live socket, " +
      "batched by batchRows, 204 accepted") {
    val posts = new java.util.concurrent.atomic.AtomicInteger(0)
    val lines = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val ctypes = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    withPostServer({ (path, ctype, body) =>
      assert(path == "/write")
      posts.incrementAndGet()
      ctypes.add(ctype)
      body.linesIterator.foreach(lines.add)
      (204, "") // InfluxDB /write success
    }) { base =>
      // 5 rows, 1 partition, batchRows=2 → exactly 3 POSTs
      val five = points.union(points.limit(2)).coalesce(1)
      writeEndpoint(five, s"$base/write", Map("batchRows" -> "2"))
      assert(posts.get() == 3)
      assert(ctypes.asScala.forall(_.startsWith("text/plain")))
      // byte-identical rendering to file mode (shared renderer)
      assert(lines.asScala.exists(_ ==
        "service_status,host_name=hostA," +
          "service_description=CPU\\ load state_numeric=0i,value=0.42 " +
          "1704067200"))
      assert(lines.asScala.size == 3) // 5 rows, 3 distinct lines
    }
  }

  test("endpoint mode: float field values round-trip BIT-EXACT " +
      "through the wire (write -> parse -> compare raw bits) — the " +
      "url...py:141-159 native-float fidelity caveat, now proven " +
      "(VERDICT r10 task 7)") {
    // adversarial doubles: shortest-repr torture values, subnormals,
    // extremes, the 2.2250738585072011e-308 parser edge, negative
    // zero, and long-mantissa measurement-style readings. Java's
    // Double.toString emits the shortest decimal that parses back to
    // the SAME bits, so every one of these must survive the wire.
    val doubles = Seq(
      0.1, 1.0 / 3.0, 0.42, 42.123456789012345, -1.7976931348623157E308,
      java.lang.Double.MIN_VALUE, 2.2250738585072011E-308,
      -0.0, 1.0E-323, 9007199254740993.0, 6.02214076E23)
    val rows = doubles.zipWithIndex.map { case (d, i) =>
      (s"h$i", "fp", i.toLong, d, ts("2024-01-01 00:00:00"))
    }.toDF("host_name", "service_description", "state_numeric",
      "value", "event_ts")
    val lines = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    withPostServer({ (_, _, body) =>
      body.linesIterator.foreach(lines.add); (204, "")
    }) { base => writeEndpoint(rows.coalesce(1), s"$base/write") }
    // parse each line the way an endpoint's float parser does and
    // compare IEEE-754 bit patterns, not string forms
    val got = lines.asScala.map { l =>
      val host = l.split(",")(1).stripPrefix("host_name=")
      val v = l.split(" ")(1).split(",")
        .find(_.startsWith("value=")).get.stripPrefix("value=")
      host -> java.lang.Double.parseDouble(v)
    }.toMap
    assert(got.size == doubles.size, lines.asScala.mkString("\n"))
    doubles.zipWithIndex.foreach { case (d, i) =>
      assert(java.lang.Double.doubleToRawLongBits(got(s"h$i")) ==
        java.lang.Double.doubleToRawLongBits(d),
        s"h$i: wire ${got(s"h$i")} != $d (bits differ)")
    }
    // floats too: the renderer emits Float.toString (shortest float
    // repr); parse as double, narrow back, compare float bits
    val floats = Seq(0.1f, 1f / 3f, java.lang.Float.MIN_VALUE,
      3.4028235E38f, -0.0f, 1.1754944E-38f)
    val frows = floats.zipWithIndex.map { case (f, i) =>
      (s"f$i", "fp", i.toLong, f, ts("2024-01-01 00:00:00"))
    }.toDF("host_name", "service_description", "state_numeric",
      "value", "event_ts")
    val flines = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    withPostServer({ (_, _, body) =>
      body.linesIterator.foreach(flines.add); (204, "")
    }) { base => writeEndpoint(frows.coalesce(1), s"$base/write") }
    val fgot = flines.asScala.map { l =>
      val host = l.split(",")(1).stripPrefix("host_name=")
      val v = l.split(" ")(1).split(",")
        .find(_.startsWith("value=")).get.stripPrefix("value=")
      host -> java.lang.Double.parseDouble(v).toFloat
    }.toMap
    floats.zipWithIndex.foreach { case (f, i) =>
      assert(java.lang.Float.floatToRawIntBits(fgot(s"f$i")) ==
        java.lang.Float.floatToRawIntBits(f),
        s"f$i: wire ${fgot(s"f$i")} != $f (bits differ)")
    }
  }

  test("endpoint mode: 5xx retries into success; 4xx fails fast") {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val got = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    withPostServer({ (_, _, body) =>
      // first request 503s: the guard must retry the SAME batch
      if (hits.incrementAndGet() == 1) (503, "busy")
      else { body.linesIterator.foreach(got.add); (204, "") }
    }) { base =>
      writeEndpoint(points.coalesce(1), s"$base/write")
      assert(hits.get() >= 2)
      assert(got.asScala.size == 3) // nothing lost across the retry
    }
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    withPostServer({ (_, _, _) =>
      attempts.incrementAndGet(); (400, "bad line")
    }) { base =>
      val e = intercept[Exception] {
        writeEndpoint(points.coalesce(1), s"$base/write",
          Map("maxRetries" -> "3"))
      }
      // a malformed write cannot improve on retry: exactly one POST
      assert(attempts.get() == 1, s"4xx was retried ${attempts.get()}x")
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e).exists(
        _.getMessage.toLowerCase.contains("rejected write")), e.toString)
    }
  }

  /** Like [[withPostServer]] but the handler sees the FULL request
    * URI (path + query) — for asserting on `precision=`/probe URLs;
    * separate so withPostServer's path-only contract stays untouched.
    */
  private def withFullUriServer(
      handler: (String, String) => (Int, String))(
      f: String => Unit): Unit = {
    val srv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/", new com.sun.net.httpserver.HttpHandler {
      override def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        val (status, resp) = handler(ex.getRequestURI.toString, body)
        val bytes = resp.getBytes("UTF-8")
        ex.sendResponseHeaders(status, if (status == 204) -1 else
          math.max(bytes.length.toLong, if (bytes.isEmpty) -1L else 0L))
        if (status != 204 && bytes.nonEmpty) ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    srv.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    srv.start()
    try f(s"http://127.0.0.1:${srv.getAddress.getPort}")
    finally srv.stop(0)
  }

  test("endpoint mode: timePrecision drives both the rendered unit " +
      "and the URL's precision= parameter") {
    val uris = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val lines = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    withFullUriServer({ (uri, body) =>
      uris.add(uri); body.linesIterator.foreach(lines.add); (204, "")
    }) { base =>
      // default: the reference's seconds, URL gains precision=s
      writeEndpoint(points.coalesce(1), s"$base/write")
      assert(uris.asScala.forall(_.endsWith("/write?precision=s")))
      assert(lines.asScala.exists(_.endsWith(" 1704067200")))
      uris.clear(); lines.clear()
      // explicit ms: unit scales, query-string URL appends with &
      writeEndpoint(points.coalesce(1), s"$base/write?db=metrics",
        Map("timePrecision" -> "ms"))
      assert(uris.asScala.forall(
        _.endsWith("/write?db=metrics&precision=ms")))
      assert(lines.asScala.exists(_.endsWith(" 1704067200000")))
      uris.clear(); lines.clear()
      // precision already in the URL wins, is not duplicated, and
      // still drives the rendered unit
      writeEndpoint(points.coalesce(1), s"$base/write?precision=u")
      assert(uris.asScala.forall(_.endsWith("/write?precision=u")))
      assert(lines.asScala.exists(_.endsWith(" 1704067200000000")))
    }
    // URL and option disagreeing is a plan-time error
    val e = intercept[IllegalArgumentException] {
      writeEndpoint(points, "http://127.0.0.1:1/write?precision=s",
        Map("timePrecision" -> "ms"))
    }
    assert(e.getMessage.contains("precision"))
    // and so is an unknown unit
    val e2 = intercept[IllegalArgumentException] {
      writeEndpoint(points, "http://127.0.0.1:1/write",
        Map("timePrecision" -> "m"))
    }
    assert(e2.getMessage.contains("s|ms|u|ns"))
  }

  test("endpoint mode: requireDb precondition probes SHOW DATABASES " +
      "before any write POST") {
    val influxBody =
      """{"results":[{"series":[{"name":"databases",""" +
        """"values":[["_internal"],["metrics"]]}]}]}"""
    val writes = new java.util.concurrent.atomic.AtomicInteger(0)
    val probes = new java.util.concurrent.atomic.AtomicInteger(0)
    withFullUriServer({ (uri, _) =>
      if (uri.startsWith("/query")) {
        probes.incrementAndGet()
        assert(uri.contains("q=SHOW"), uri)
        (200, influxBody)
      } else { writes.incrementAndGet(); (204, "") }
    }) { base =>
      // present DB: probe once, then writes flow
      writeEndpoint(points.coalesce(1), s"$base/write?db=metrics",
        Map("requireDb" -> "metrics"))
      assert(probes.get() == 1)
      assert(writes.get() >= 1)
      // absent DB: typed failure, ZERO write POSTs
      writes.set(0); probes.set(0)
      val e = intercept[
          graft.sources.points.PointsPreconditionException] {
        writeEndpoint(points.coalesce(1), s"$base/write?db=nope",
          Map("requireDb" -> "nope"))
      }
      assert(e.getMessage.contains("'nope' does not exist"))
      assert(writes.get() == 0, "no write may precede the precondition")
      // exact-name check: 'metric' must not prefix-match 'metrics'
      val e2 = intercept[
          graft.sources.points.PointsPreconditionException] {
        writeEndpoint(points.coalesce(1), s"$base/write?db=metric",
          Map("requireDb" -> "metric"))
      }
      assert(e2.getMessage.contains("'metric' does not exist"))
    }
    // requireDb is endpoint-mode-only
    val e3 = intercept[IllegalArgumentException] {
      write(points, tmpDir(), mode = "append") // file mode baseline OK
      points.write.format("graft-points").mode("append")
        .option("path", tmpDir())
        .option("measurement", "m").option("timeCol", "event_ts")
        .option("requireDb", "metrics").save()
    }
    assert(e3.getMessage.contains("endpointUrl mode only"))
  }

  test("endpoint mode: overwrite rejected, path XOR endpointUrl") {
    val e1 = intercept[Exception] {
      writeEndpoint(points, "http://127.0.0.1:1/write",
        mode = "overwrite")
    }
    assert(e1.getMessage.contains("overwrite"))
    val e2 = intercept[IllegalArgumentException] {
      writeEndpoint(points, "http://127.0.0.1:1/write",
        Map("path" -> tmpDir()))
    }
    assert(e2.getMessage.contains("not both"))
  }

  test("endpoint mode: mutual TLS — client cert presented, " +
      "self-signed server accepted with sslVerify=false") {
    import java.security.KeyStore
    import javax.net.ssl.{KeyManagerFactory, SSLContext, TrustManagerFactory}
    def store(resource: String): KeyStore = {
      val ks = KeyStore.getInstance("PKCS12")
      val in = getClass.getResourceAsStream(resource)
      try ks.load(in, "changeit".toCharArray) finally in.close()
      ks
    }
    val kmf = KeyManagerFactory.getInstance(
      KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(store("/tls/server.p12"), "changeit".toCharArray)
    val tmf = TrustManagerFactory.getInstance(
      TrustManagerFactory.getDefaultAlgorithm)
    tmf.init(store("/tls/clienttrust.p12")) // trusts ONLY client.crt
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, tmf.getTrustManagers, null)
    val srv = com.sun.net.httpserver.HttpsServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    srv.setHttpsConfigurator(
      new com.sun.net.httpserver.HttpsConfigurator(ctx) {
        override def configure(
            p: com.sun.net.httpserver.HttpsParameters): Unit = {
          // mTLS: reject certless clients. Must go through
          // setSSLParameters — com.sun HttpsServer ignores the
          // individual setNeedClientAuth field (verified empirically:
          // a certless client handshakes fine with it)
          val sp = ctx.getDefaultSSLParameters
          sp.setNeedClientAuth(true)
          p.setSSLParameters(sp)
        }
      })
    val lines = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    srv.createContext("/", postHandler({ (_, _, body) =>
      body.linesIterator.foreach(lines.add); (204, "")
    }))
    srv.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    srv.start()
    val url = s"https://127.0.0.1:${srv.getAddress.getPort}/write"
    def resPath(r: String): String =
      java.nio.file.Paths.get(getClass.getResource(r).toURI).toString
    try {
      // the reference's client surface: cert=(cert, key), verify=False
      // against a self-signed endpoint (url...py:142-149)
      writeEndpoint(points.coalesce(1), url, Map(
        "clientCertPath" -> resPath("/tls/client.crt"),
        "clientKeyPath" -> resPath("/tls/client.key"),
        "sslVerify" -> "false"))
      assert(lines.asScala.size == 3)
      // no client cert → the mTLS handshake must reject the write
      val e = intercept[Exception] {
        writeEndpoint(points.coalesce(1), url, Map(
          "sslVerify" -> "false", "maxRetries" -> "0"))
      }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e).exists(t =>
        t.isInstanceOf[javax.net.ssl.SSLException] ||
          t.getMessage != null &&
          t.getMessage.contains("write failed")), e.toString)
      // verification ON against a self-signed server must also fail
      val e2 = intercept[Exception] {
        writeEndpoint(points.coalesce(1), url, Map(
          "clientCertPath" -> resPath("/tls/client.crt"),
          "clientKeyPath" -> resPath("/tls/client.key"),
          "maxRetries" -> "0"))
      }
      assert(chain(e2).exists(t =>
        t.isInstanceOf[javax.net.ssl.SSLException] ||
          t.getMessage != null &&
          t.getMessage.contains("write failed")), e2.toString)
    } finally srv.stop(0)
  }

  test("§3.2 topology live over sockets: HTTP doc fetch → enrichment " +
      "→ HTTP points sink, re-poll idempotent (url...py end to end)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.types.{MapType, StringType}
    implicit val sq = spark.sqlContext
    // the three API documents of url_service_status_InfluxDB_insert.py
    // (servicegroup membership, current status, service details)
    val membersDoc =
      """{"data":{"servicegroup":{"members":[
        |{"host_name":"h1","service_description":"CPU Usage"},
        |{"host_name":"h2","service_description":"Mem"}]}}}""".stripMargin
    val statusDoc =
      """{"data":{"servicelist":[
        |{"host_name":"h1","service_description":"CPU Usage",
        | "current_state":"0","last_check":"2024-01-01 00:00:00"},
        |{"host_name":"h2","service_description":"Mem",
        | "current_state":"2","last_check":"2024-01-01 00:00:05"},
        |{"host_name":"stray","service_description":"Disk",
        | "current_state":"1","last_check":"2024-01-01 00:00:06"}]}}"""
        .stripMargin
    val detailsDoc =
      """{"data":{"servicelist":[
        |{"host_name":"h1","service_description":"CPU Usage",
        | "display_name":"CPU",
        | "customvars":{"FRIENDLYNAME":"cpu1","CROWNJEWEL":"yes"}},
        |{"host_name":"h2","service_description":"Mem",
        | "display_name":"Memory","customvars":{}}]}}""".stripMargin
    val gets = new java.util.concurrent.atomic.AtomicInteger(0)
    // keyed store mimicking InfluxDB: a point is an upsert on
    // (measurement+tag set, timestamp) — re-POSTing is a no-op
    val store = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val srv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/", { (ex: com.sun.net.httpserver.HttpExchange) =>
      val (status, resp) = (ex.getRequestMethod,
          ex.getRequestURI.getPath) match {
        case ("GET", "/members") => gets.incrementAndGet(); (200, membersDoc)
        case ("GET", "/status") => gets.incrementAndGet(); (200, statusDoc)
        case ("GET", "/details") => gets.incrementAndGet(); (200, detailsDoc)
        case ("POST", "/write") =>
          val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
          body.linesIterator.filter(_.nonEmpty).foreach { line =>
            // meas,tags fields ts — split on unescaped spaces
            val parts = line.split("(?<!\\\\) ")
            store.put(s"${parts(0)} ${parts(2)}", parts(1))
          }
          (204, "")
        case _ => (404, "nope")
      }
      val bytes = resp.getBytes("UTF-8")
      ex.sendResponseHeaders(status, if (status == 204) -1 else bytes.length)
      if (status != 204) ex.getResponseBody.write(bytes)
      ex.close()
    })
    srv.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    srv.start()
    val base = s"http://127.0.0.1:${srv.getAddress.getPort}"
    try {
      // each micro-batch = one poll cycle of the reference's cron job:
      // fetch the trio live, enrich (§3.2), POST points live
      val in = MemoryStream[Int]
      val q = in.toDF().writeStream.outputMode("append")
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
          val t = new graft.sources.rest.HttpTransport()
          def doc(path: String): String = {
            val r = t.fetch(s"$base$path", Map("apikey" -> "k"))
            assert(r.status == 200, s"$path -> ${r.status}")
            r.body
          }
          def parsed(path: String) =
            spark.read.json(Seq(doc(path)).toDS())
          val members = parsed("/members")
            .select(explode(col("data.servicegroup.members")).as("m"))
            .select(col("m.host_name"), col("m.service_description"))
          val status = parsed("/status")
            .select(explode(col("data.servicelist")).as("s"))
            .select(col("s.host_name"), col("s.service_description"),
              col("s.current_state"), col("s.last_check"))
          val details = parsed("/details")
            .select(explode(col("data.servicelist")).as("d"))
            .select(col("d.host_name"), col("d.service_description"),
              col("d.display_name"),
              from_json(to_json(col("d.customvars")),
                MapType(StringType, StringType)).as("customvars_map"),
              lit(null).cast(graft.pipelines.StatusPoints
                .customvarsListType).as("customvars_list"))
          graft.pipelines.StatusPoints
            .points(status, members, details, "service_status")
            .write.format("graft-points").mode("append")
            .option("endpointUrl", s"$base/write")
            .option("measurement", "service_status")
            .option("tagCols",
              "host_name,service_description,friendlyname,crownjewel")
            .option("fieldCols", "service_status_numeric,display_name")
            .option("timeCol", "time")
            .option("backoffMs", "10")
            .save()
        }.start()
      try {
        in.addData(1) // poll 1
        q.processAllAvailable()
        val afterFirst = store.asScala.toMap
        in.addData(2) // poll 2: same upstream state re-fetched
        q.processAllAvailable()
        assert(gets.get() >= 6) // trio fetched live on each cycle
        // the re-poll re-POSTed every point; the keyed store is
        // unchanged — the idempotent-upsert contract the reference's
        // fire-and-forget write_points relies on
        assert(store.asScala.toMap == afterFirst)
        // membership semi-join dropped "stray"; enrichment + defaults
        assert(store.size == 2)
        val h1 = store.asScala.find(_._1.contains("host_name=h1")).get
        assert(h1._1 == "service_status,host_name=h1," +
          "service_description=CPU\\ Usage,friendlyname=cpu1," +
          "crownjewel=yes 1704067200")
        assert(h1._2 == "service_status_numeric=0i," +
          "display_name=\"CPU\"")
        val h2 = store.asScala.find(_._1.contains("host_name=h2")).get
        // defaults: FRIENDLYNAME → unknown, CROWNJEWEL → no
        assert(h2._1.contains("friendlyname=unknown") &&
          h2._1.contains("crownjewel=no") && h2._1.endsWith("1704067205"))
        assert(h2._2.contains("service_status_numeric=2i"))
      } finally q.stop()
    } finally srv.stop(0)
  }

  test("endpoint mode: streaming writeStream POSTs each epoch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val lines = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    withPostServer({ (_, _, body) =>
      body.linesIterator.foreach(lines.add); (204, "")
    }) { base =>
      val ckpt = tmpDir()
      val in = MemoryStream[(String, Long, java.sql.Timestamp)]
      val q = in.toDF().toDF("host_name", "state_numeric", "event_ts")
        .writeStream.format("graft-points")
        .option("endpointUrl", s"$base/write")
        .option("checkpointLocation", ckpt)
        .option("measurement", "m")
        .option("tagCols", "host_name")
        .option("fieldCols", "state_numeric")
        .option("timeCol", "event_ts")
        .option("backoffMs", "10")
        .start()
      try {
        in.addData(("h1", 1L, ts("2024-01-01 00:00:00")))
        q.processAllAvailable()
        in.addData(("h2", 2L, ts("2024-01-01 00:00:01")))
        q.processAllAvailable()
      } finally q.stop()
      assert(lines.asScala ==
        Set("m,host_name=h1 state_numeric=1i 1704067200",
          "m,host_name=h2 state_numeric=2i 1704067201"))
    }
  }
}
