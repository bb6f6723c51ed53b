package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingDedup

/** §2.9 streaming semantics on MemoryStream fixtures (FIXTURES.md B.7):
  * cross-batch dedup replicates the 25 h-overlap anti-join; watermarks
  * drop late ("immature") data.
  */
case class Point(host: String, ts: java.sql.Timestamp, value: Double)
case class DimRow(host: String, dts: java.sql.Timestamp, attr: String)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def p(host: String, minute: Int, v: Double) =
    Point(host, java.sql.Timestamp.valueOf(f"2024-08-11 10:$minute%02d:00"), v)

  test("cross-batch dedup: overlap rows emitted once (extract.py:115-132)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Point]
    val q = StreamingDedup.dedupedStream(input.toDF(), "ts", "2 hours")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()

    // batch 1: the "previous run" window
    input.addData(p("h1", 0, 1.0), p("h1", 10, 2.0), p("h2", 10, 5.0))
    q.processAllAvailable()
    // batch 2: overlapping re-extract (same rows) + new rows
    input.addData(p("h1", 10, 2.0), p("h2", 10, 5.0), p("h1", 20, 3.0))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("dedup_out").as[Point].collect()
      .map(r => (r.host, r.ts.toString, r.value)).toSet
    assert(got.size == 4) // 3 from batch 1 + only the genuinely new row
    assert(got.contains(("h1", "2024-08-11 10:20:00.0", 3.0)))
  }

  test("watermark drops late data beyond horizon (extract.py:94-95)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Point]
    val q = StreamingDedup.windowedCounts(input.toDF(), "ts", "host",
        horizon = "10 minutes", window = "10 minutes")
      .writeStream.format("memory").queryName("wm_out")
      .outputMode("append").start()

    input.addData(p("h1", 0, 1.0), p("h1", 5, 2.0))
    q.processAllAvailable()
    // advance event time far ahead => watermark passes 10:10
    input.addData(p("h1", 55, 9.0))
    q.processAllAvailable()
    // this point is now > horizon late; its window is closed => dropped
    input.addData(p("h1", 1, 100.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("wm_out")
      .select($"window.start".cast("string"), $"n", $"sum_value")
      .as[(String, Long, Double)].collect().toMap2
    // the 10:00 window closed with exactly the 2 on-time points
    assert(rows("2024-08-11 10:00:00") == (2L, 3.0))
  }

  private implicit class MapOps(a: Array[(String, Long, Double)]) {
    def toMap2: Map[String, (Long, Double)] =
      a.map { case (k, n, s) => k -> (n, s) }.toMap
  }

  test("stream-stream interval join: facts pair with in-window dim versions") {
    implicit val sqlCtx = spark.sqlContext
    // minutes measured from 10:00, carrying into later hours
    def ts(minute: Int) = java.sql.Timestamp.valueOf(
      f"2024-08-11 ${10 + minute / 60}%02d:${minute % 60}%02d:00")
    def d(host: String, minute: Int, attr: String) =
      DimRow(host, ts(minute), attr)
    def pm(host: String, minute: Int, v: Double) =
      Point(host, ts(minute), v)
    val facts = MemoryStream[Point]
    val dims = MemoryStream[DimRow]
    val q = StreamingDedup.streamIntervalJoin(facts.toDF(), dims.toDF(),
        "host", "ts", "dts", horizon = "10 minutes", maxAge = "20 minutes")
      .writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").start()

    // dim h1 has version A at 10:00 and B at 10:30
    dims.addData(d("h1", 0, "A"), d("h1", 30, "B"))
    // 10:05 sits in A's 20-min validity only; 10:35 and 10:45 in B's;
    // h2 has no dim version at all
    facts.addData(p("h1", 5, 1.0), p("h1", 35, 2.0), p("h1", 45, 3.0),
      p("h2", 5, 9.0))
    q.processAllAvailable()
    // advance both watermarks far past A's validity (event time 12:00,
    // watermark 11:50 > 10:00 + maxAge + horizon): A's buffered row is
    // now evictable state. A fact timestamped inside A's old window
    // arrives after that — it is late beyond the watermark and must
    // NOT resurrect a match; this pins the bounded-state contract the
    // two-sided time bound exists to provide.
    dims.addData(d("h3", 120, "Z"))
    facts.addData(pm("h3", 120, 8.0))
    q.processAllAvailable()
    facts.addData(pm("h1", 6, 4.0))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("ssjoin").select($"value", $"attr")
      .as[(Double, String)].collect().toSet
    assert(got == Set((1.0, "A"), (2.0, "B"), (3.0, "B"), (8.0, "Z")))
  }

  test("latest-per-key over stream snapshot (url...py:60-64)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Point]
    val q = StreamingDedup.latestPerKeyStream(input.toDF(), "host", "ts",
        Seq("value"))
      .writeStream.format("memory").queryName("latest_out")
      .outputMode("complete").start()

    input.addData(p("h1", 0, 1.0), p("h1", 30, 7.0), p("h2", 10, 5.0))
    q.processAllAvailable()
    input.addData(p("h2", 40, 6.0))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("latest_out")
      .select($"host", $"value").as[(String, Double)].collect().toMap
    assert(got == Map("h1" -> 7.0, "h2" -> 6.0))
  }

  test("stateful latest-per-key: flush on quiet, state evicted, fresh epoch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Point]
    val q = StreamingDedup.latestPerKeyStateful(input.toDF(), "host", "ts",
        "10 minutes")
      .writeStream.format("memory").queryName("stateful_latest")
      .outputMode("append").start()

    input.addData(p("h1", 0, 1.0), p("h1", 30, 7.0), p("h2", 10, 5.0))
    q.processAllAvailable()
    // no key quiet yet — nothing emitted
    assert(spark.table("stateful_latest").count() == 0)

    // h3 pushes the watermark to 10:49 — h1 (last 10:30) and h2 (last
    // 10:10) are now quiet past the horizon; the timeout fires on the
    // NEXT batch after the watermark advances
    input.addData(p("h3", 59, 9.9))
    q.processAllAvailable()
    input.addData(p("h3", 59, 9.9))
    q.processAllAvailable()

    val got = spark.table("stateful_latest")
      .select($"host", $"value").as[(String, Double)].collect().toMap
    // each evicted key emitted its LATEST row exactly once; h3 still
    // active (state bounded by active keys, not keys ever seen)
    assert(got == Map("h1" -> 7.0, "h2" -> 5.0))
    q.stop()
  }

  test("dedup state survives query restart via checkpoint (K6 recovery)") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tempDir("graftckpt").toString
    val out = tempDir("graftckptout").toString
    val input = MemoryStream[Point]

    // memory sink can't recover from checkpoints; foreachBatch can
    def start() = StreamingDedup.dedupedStream(input.toDF(), "ts", "2 hours")
      .writeStream
      .foreachBatch(StreamingDedup.foreachBatchParquetSink(out) _)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val q1 = start()
    input.addData(p("h1", 0, 1.0), p("h1", 10, 2.0))
    q1.processAllAvailable()
    q1.stop() // simulated process death (the reference: cron run ends)

    // next "run": re-extracts the overlap + one new point
    val q2 = start()
    input.addData(p("h1", 10, 2.0), p("h1", 20, 3.0))
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(out).select($"host", $"value")
      .as[(String, Double)].collect().toSet
    // overlap row deduped ACROSS the restart: state came from checkpoint
    assert(got == Set(("h1", 1.0), ("h1", 2.0), ("h1", 3.0)))
  }

  test("stateful latest-per-key drops null-key/null-ts rows instead of crashing") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Point]
    val q = StreamingDedup.latestPerKeyStateful(input.toDF(), "host", "ts",
        "10 minutes")
      .writeStream.format("memory").queryName("stateful_nulls")
      .outputMode("append").start()
    // null ts and null key are the poison rows a checkpoint would
    // replay forever if they crashed the stateful operator
    input.addData(Point("h1", null, 1.0), Point(null, p("h1", 0, 0).ts, 2.0),
      p("h1", 30, 7.0))
    q.processAllAvailable()
    input.addData(p("h3", 59, 9.9))
    q.processAllAvailable()
    input.addData(p("h3", 59, 9.9))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("stateful_nulls")
      .select($"host", $"value").as[(String, Double)].collect().toMap
    assert(got == Map("h1" -> 7.0))
  }

  test("stateful latest-per-key state survives restart via checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tempDir("graftstateckpt").toString
    val out = tempDir("graftstateout").toString
    val input = MemoryStream[Point]

    def start() = StreamingDedup.latestPerKeyStateful(input.toDF(), "host",
        "ts", "10 minutes")
      .writeStream
      .foreachBatch(StreamingDedup.foreachBatchParquetSink(out) _)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val q1 = start()
    input.addData(p("h1", 0, 1.0), p("h1", 30, 7.0))
    q1.processAllAvailable()
    q1.stop() // process death with h1's latest row in kryo-encoded state

    // restart: watermark advances past h1's horizon -> the flush must
    // come from CHECKPOINT-recovered state
    val q2 = start()
    input.addData(p("h2", 59, 5.0))
    q2.processAllAvailable()
    input.addData(p("h2", 59, 5.0))
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(out).select($"host", $"value")
      .as[(String, Double)].collect().toSet
    assert(got == Set(("h1", 7.0)))
  }

  test("curation scrubs run unchanged on a stream (stateless map ops)") {
    // the row-local §2.10 surface (PII redaction, URL blocklist,
    // repetition stats, quality) is pure projection/filter — the SAME
    // Columns drop into readStream → writeStream with no rewrite
    import graft.operators.TextOps
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Point]
    val scored = input.toDF()
      .select($"host",
        concat($"host", lit(" mail a@b.co at https://bad.example.com/x"))
          .as("text"))
      .select($"host",
        TextOps.redactPii($"text").as("clean"),
        TextOps.hasBlockedHost($"text", Seq("bad.example.com"))
          .as("blocked"),
        TextOps.repetitionStats($"text", 2)
          .getField("top_ngram_frac").as("rep"))
    val q = scored.writeStream.format("memory").queryName("curation_stream")
      .outputMode("append").start()
    input.addData(p("h1", 0, 1.0), p("h2", 1, 2.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("curation_stream")
      .as[(String, String, Boolean, Double)].collect()
    assert(got.length == 2)
    got.foreach { case (_, clean, blocked, rep) =>
      assert(clean.contains("<EMAIL>") && !clean.contains("a@b.co"))
      assert(blocked)
      assert(rep >= 0.0 && rep <= 1.0)
    }
  }

  test("consolidation streams: windowed buckets emit once, late rows drop") {
    import graft.operators.TimeSeries
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Point]
    // value doubles as the unique order column in this fixture
    val agg = TimeSeries.consolidateStream(input.toDF(), Seq("host"),
      "ts", "value", "value", stepSeconds = 600L,
      watermarkDelay = "5 minutes")
    val q = agg.writeStream.format("memory").queryName("consolidate_stream")
      .outputMode("append").start()

    // bucket 10:00-10:10 for h1; watermark still before its end
    input.addData(p("h1", 1, 1.0), p("h1", 9, 3.0))
    q.processAllAvailable()
    assert(spark.table("consolidate_stream").count() == 0)

    // advance event time past 10:10 + 5 min delay -> first bucket closes
    input.addData(p("h1", 16, 7.0))
    q.processAllAvailable()
    val closed = spark.table("consolidate_stream")
      .as[(String, Long, Long, Double, Double, Double, Double)].collect()
    assert(closed.length == 1)
    val (host, bucket, n, vmin, vmax, vavg, vlast) = closed.head
    assert(host == "h1" && n == 2L && vmin == 1.0 && vmax == 3.0)
    assert(vavg == 2.0 && vlast == 3.0)
    assert(bucket % 600 == 0)

    // a row behind the watermark never reopens the emitted bucket
    input.addData(p("h1", 2, 99.0))
    q.processAllAvailable()
    assert(spark.table("consolidate_stream").count() == 1)
    q.stop()
  }

  test("cusumStream: cross-batch drift statistics == batch cusum; " +
      "alarm reset carries over the batch boundary; late row dropped") {
    import graft.operators.TimeSeries
    implicit val sq = spark.sqlContext
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // target 10, slack 2, threshold 5: 18 alarms instantly (6>5);
    // batch 2 continues post-reset state; 16,15 accumulate 4+3=7 ->
    // alarm spans the BOUNDARY between batch 2 and 3
    val all = Seq(
      ("h1", t(0), 1L, 18.0), ("h1", t(1), 2L, 16.0),
      // batch 2
      ("h1", t(2), 3L, 15.0), ("h1", t(3), 4L, 10.0),
      // batch 3
      ("h1", t(4), 5L, 1.0))
    val in = MemoryStream[(String, java.sql.Timestamp, Long, Double)]
    val got = scala.collection.mutable.ArrayBuffer[
      (String, Double, Double, Double, Boolean)]()
    val q = StreamingDedup.cusumStream(
        in.toDF().toDF("host", "ts", "event_id", "value"),
        Seq("host"), "ts", "value", "event_id",
        target = 10.0, slack = 2.0, threshold = 5.0)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= b.select($"host", $"value", $"cusum_pos", $"cusum_neg",
            $"alarm")
          .as[(String, Double, Double, Double, Boolean)].collect()
        ()
      }.start()
    try {
      in.addData(all.take(2): _*); q.processAllAvailable()
      in.addData(all.slice(2, 4): _*); q.processAllAvailable()
      // a strictly-late replay of t(1) must be dropped, not re-folded
      in.addData(("h1", t(1), 2L, 16.0)); q.processAllAvailable()
      in.addData(all.drop(4): _*); q.processAllAvailable()
    } finally q.stop()
    val batch = TimeSeries.cusum(
        all.toDF("host", "ts", "event_id", "value"),
        Seq("host"), Seq("ts", "event_id"), "value",
        target = 10.0, slack = 2.0, threshold = 5.0)
      .select($"host", $"value", $"cusum_pos", $"cusum_neg", $"alarm")
      .as[(String, Double, Double, Double, Boolean)].collect()
    assert(got.sortBy(r => (r._2, r._3)) ==
      batch.toSeq.sortBy(r => (r._2, r._3)),
      s"streaming $got vs batch ${batch.toSeq}")
    // the cross-boundary accumulation: 16 -> s_pos 4 (post-reset),
    // then 15 in the NEXT batch -> s_pos 7 -> alarm
    assert(got.contains(("h1", 15.0, 7.0, 0.0, true)))
  }

  test("cusumStream: a replay of the last consumed (ts, tiebreak) " +
      "position is dropped; the same ts with a larger tiebreak is consumed") {
    import graft.operators.TimeSeries
    implicit val sq = spark.sqlContext
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // target 10, slack 2, no alarm: S+ climbs 1 -> 4 and would reach 7
    // if the replayed 15.0 were folded a second time
    val a = ("h1", t(0), 1L, 13.0)
    val b = ("h1", t(1), 2L, 15.0)
    val c = ("h1", t(1), 3L, 12.0)
    val in = MemoryStream[(String, java.sql.Timestamp, Long, Double)]
    val got = scala.collection.mutable.ArrayBuffer[
      (Long, (String, Double, Double, Double, Boolean))]()
    val q = StreamingDedup.cusumStream(
        in.toDF().toDF("host", "ts", "event_id", "value"),
        Seq("host"), "ts", "value", "event_id",
        target = 10.0, slack = 2.0, threshold = 100.0)
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        got ++= df.select($"host", $"value", $"cusum_pos", $"cusum_neg",
            $"alarm")
          .as[(String, Double, Double, Double, Boolean)].collect()
          .map(id -> _)
        ()
      }.start()
    try {
      in.addData(a, b); q.processAllAvailable()
      // b again (equal position) and the same ts with a smaller
      // tiebreak: both dropped; c (same ts, larger tiebreak): consumed
      in.addData(b, ("h1", t(1), 1L, 99.0), c); q.processAllAvailable()
    } finally q.stop()
    val batchIds = got.map(_._1).distinct.sorted
    assert(batchIds.size == 2, s"$got")
    assert(got.filter(_._1 == batchIds(1)).map(_._2) ==
      Seq(("h1", 12.0, 4.0, 0.0, false)), s"$got")
    val batch = TimeSeries.cusum(
        Seq(a, b, c).toDF("host", "ts", "event_id", "value"),
        Seq("host"), Seq("ts", "event_id"), "value",
        target = 10.0, slack = 2.0, threshold = 100.0)
      .select($"host", $"value", $"cusum_pos", $"cusum_neg", $"alarm")
      .as[(String, Double, Double, Double, Boolean)].collect()
    assert(got.map(_._2).sortBy(r => (r._3, r._2)) ==
      batch.toSeq.sortBy(r => (r._3, r._2)),
      s"streaming $got vs batch ${batch.toSeq}")
  }

  test("cusumStream: a row with a null tiebreak is dropped at entry; " +
      "the query keeps running and matches the batch fold") {
    import graft.operators.TimeSeries
    implicit val sq = spark.sqlContext
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val a = ("h1", t(0), Option(1L), 13.0)
    val bad = ("h1", t(1), Option.empty[Long], 50.0)
    val b = ("h1", t(2), Option(2L), 15.0)
    val c = ("h1", t(3), Option(3L), 9.0)
    val in = MemoryStream[(String, java.sql.Timestamp, Option[Long], Double)]
    val got = scala.collection.mutable.ArrayBuffer[
      (String, Double, Double, Double, Boolean)]()
    val q = StreamingDedup.cusumStream(
        in.toDF().toDF("host", "ts", "event_id", "value"),
        Seq("host"), "ts", "value", "event_id",
        target = 10.0, slack = 2.0, threshold = 100.0)
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= df.select($"host", $"value", $"cusum_pos", $"cusum_neg",
            $"alarm")
          .as[(String, Double, Double, Double, Boolean)].collect()
        ()
      }.start()
    try {
      in.addData(a, bad); q.processAllAvailable()
      in.addData(b, c); q.processAllAvailable()
      assert(q.isActive && q.exception.isEmpty, s"${q.exception}")
    } finally q.stop()
    val batch = TimeSeries.cusum(
        Seq(a, b, c).toDF("host", "ts", "event_id", "value"),
        Seq("host"), Seq("ts", "event_id"), "value",
        target = 10.0, slack = 2.0, threshold = 100.0)
      .select($"host", $"value", $"cusum_pos", $"cusum_neg", $"alarm")
      .as[(String, Double, Double, Double, Boolean)].collect()
    assert(got.sortBy(r => (r._3, r._2)) ==
      batch.toSeq.sortBy(r => (r._3, r._2)),
      s"streaming $got vs batch ${batch.toSeq}")
    assert(got.size == 3 && !got.exists(_._2 == 50.0), s"$got")
  }

  test("event-time twins refuse a non-timestamp event time and an " +
      "unsupported tiebreak at construction, naming the twin") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, java.sql.Timestamp, String, Long,
      Seq[Int], Double, String)]
    val df = in.toDF()
      .toDF("host", "ts", "ts_s", "tie", "bad_tie", "value", "state")
    val hosts = Seq("host")
    val twins: Seq[(String, (String, String) => Any)] = Seq(
      "cusumStream" -> ((ts, tie) => StreamingDedup.cusumStream(
        df, hosts, ts, "value", tie, 10.0, 2.0, 5.0)),
      "holtStream" -> ((ts, tie) => StreamingDedup.holtStream(
        df, hosts, ts, "value", tie, 0.25, 0.5)),
      "holtWintersStream" -> ((ts, tie) => StreamingDedup.holtWintersStream(
        df, hosts, ts, "value", tie, 0.25, 0.5, 0.5, 4)),
      "hardSoftStateStream" -> ((ts, tie) =>
        StreamingDedup.hardSoftStateStream(df, hosts, "state", ts, tie, "OK")),
      "notificationStream" -> ((ts, tie) =>
        StreamingDedup.notificationStream(df, hosts, "state", ts, tie, "OK")),
      "flapDetectionStream" -> ((ts, tie) =>
        StreamingDedup.flapDetectionStream(df, hosts, "state", ts, tie)),
      "rateStream" -> ((ts, tie) => StreamingDedup.rateStream(
        df, hosts, ts, "value", tie)))
    twins.foreach { case (name, build) =>
      build("ts", "tie") // the valid form constructs
      Seq(("ts_s", "tie", "event-time column 'ts_s'"),
          ("ts", "bad_tie", "unsupported tiebreak type array<int>"))
        .foreach { case (ts, tie, what) =>
          val e = intercept[IllegalArgumentException](build(ts, tie))
          assert(e.getMessage.startsWith(s"$name: ") &&
            e.getMessage.contains(what), s"$name($ts, $tie): ${e.getMessage}")
        }
    }
  }

  test("holtStream: cross-batch level/trend recursion == batch holt " +
      "bit-for-bit; late row dropped; non-exact complement refused") {
    import graft.operators.TimeSeries
    implicit val sq = spark.sqlContext
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val all = Seq(
      ("h1", t(0), 1L, 10.0), ("h1", t(1), 2L, 12.0),
      // batch 2: the recursion must continue from checkpointed (l, b)
      ("h1", t(2), 3L, 14.0), ("h1", t(3), 4L, 16.0),
      // a second entity isolates state
      ("h2", t(0), 5L, 100.0), ("h2", t(2), 6L, 90.0))
    val in = MemoryStream[(String, java.sql.Timestamp, Long, Double)]
    val got = scala.collection.mutable.ArrayBuffer[
      (String, Double, Double, Double, Double)]()
    val q = StreamingDedup.holtStream(
        in.toDF().toDF("host", "ts", "event_id", "value"),
        Seq("host"), "ts", "value", "event_id",
        alpha = 0.25, beta = 0.5)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= b.select($"host", $"value", $"level", $"trend",
            $"forecast")
          .as[(String, Double, Double, Double, Double)].collect()
        ()
      }.start()
    try {
      in.addData(all.take(2): _*); q.processAllAvailable()
      in.addData(("h2", t(0), 5L, 100.0)); q.processAllAvailable()
      // strictly-late replay: dropped, state NOT re-folded
      in.addData(("h1", t(0), 1L, 10.0)); q.processAllAvailable()
      in.addData(all.slice(2, 4): _*); q.processAllAvailable()
      in.addData(("h2", t(2), 6L, 90.0)); q.processAllAvailable()
    } finally q.stop()
    val batch = TimeSeries.holt(
        all.toDF("host", "ts", "event_id", "value"),
        Seq("host"), Seq("ts", "event_id"), "value",
        alpha = 0.25, beta = 0.5)
      .select($"host", $"value", $"level", $"trend", $"forecast")
      .as[(String, Double, Double, Double, Double)].collect()
    assert(got.sortBy(r => (r._1, r._2)) ==
      batch.toSeq.sortBy(r => (r._1, r._2)),
      s"streaming $got vs batch ${batch.toSeq}")
    // a drift-prone alpha fails loudly, matching the batch kernel
    intercept[IllegalArgumentException] {
      StreamingDedup.holtStream(
        in.toDF().toDF("host", "ts", "event_id", "value"),
        Seq("host"), "ts", "value", "event_id",
        alpha = 0.3, beta = 0.5)
    }
  }

  test("hardSoftStateStream: cross-batch retry counter == batch " +
      "hardSoftState; counter spans batch boundary AND state change; " +
      "late row dropped") {
    import graft.operators.Behavior
    implicit val sq = spark.sqlContext
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val all = Seq(
      // h1 starts healthy (no notification), then warn/crit/warn:
      // the retry ordinal must keep counting across BOTH the batch
      // boundary and the warn→crit change, hardening as warn at 3
      ("h1", t(0), 1L, "ok"), ("h1", t(1), 2L, "warn"),
      // batch 2
      ("h1", t(2), 3L, "crit"), ("h1", t(3), 4L, "warn"),
      // batch 3
      ("h1", t(4), 5L, "ok"),
      // h2 starts broken: first CONFIRMED state fires
      ("h2", t(0), 6L, "crit"), ("h2", t(1), 7L, "crit"),
      ("h2", t(2), 8L, "crit"))
    val in = MemoryStream[(String, java.sql.Timestamp, Long, String)]
    val got = scala.collection.mutable.ArrayBuffer[(String,
      java.sql.Timestamp, String, Long, String, String, Boolean)]()
    val q = StreamingDedup.hardSoftStateStream(
        in.toDF().toDF("host", "ts", "event_id", "st"),
        Seq("host"), "st", "ts", "event_id", okState = "ok",
        maxAttempts = 3)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= b.select($"host", $"ts", $"state", $"attempt",
            $"state_type", $"hard_state", $"hard_change")
          .as[(String, java.sql.Timestamp, String, Long, String,
            String, Boolean)].collect()
        ()
      }.start()
    try {
      in.addData(all.take(2): _*); q.processAllAvailable()
      in.addData(all.slice(5, 7): _*); q.processAllAvailable()
      in.addData(all.slice(2, 4): _*); q.processAllAvailable()
      // strictly-late replay: dropped, counter NOT re-advanced
      in.addData(("h1", t(1), 2L, "warn")); q.processAllAvailable()
      in.addData(all.slice(4, 5): _*); q.processAllAvailable()
      in.addData(all.slice(7, 8): _*); q.processAllAvailable()
    } finally q.stop()
    val batch = Behavior.hardSoftState(
        all.toDF("host", "ts", "event_id", "st"),
        "host", "st", "ts", "event_id", okState = "ok",
        maxAttempts = 3)
      .select($"host", $"ts", $"state", $"attempt", $"state_type",
        $"hard_state", $"hard_change")
      .as[(String, java.sql.Timestamp, String, Long, String, String,
        Boolean)].collect()
    assert(got.size == all.size)
    assert(got.sortBy(r => (r._1, r._2.getTime)).toSeq ==
      batch.toSeq.sortBy(r => (r._1, r._2.getTime)),
      s"streaming ${got.toSeq} vs batch ${batch.toSeq}")
    // the pager rows: warn hardens THROUGH the crit detour, recovery
    // fires, the broken start fires, the healthy start does not
    assert(got.contains(("h1", t(3), "warn", 3L, "HARD", "warn", true)))
    assert(got.contains(("h1", t(4), "ok", 1L, "HARD", "ok", true)))
    assert(got.contains(("h2", t(2), "crit", 3L, "HARD", "crit", true)))
    assert(got.count(r => r._1 == "h1" && r._7) == 2)
    assert(got.count(r => r._1 == "h2" && r._7) == 1)
  }

  test("holtWintersStream: cross-batch seasonal ring == batch " +
      "holtWinters bit-for-bit; warmup spans the boundary and emits " +
      "nothing; late row dropped") {
    import graft.operators.TimeSeries
    implicit val sq = spark.sqlContext
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val season = Seq(10.0, 20.0, 40.0, 20.0)
    val all = (0 until 12).map(i =>
      ("h1", t(i), i.toLong, season(i % 4) + 0.5 * i))
    val in = MemoryStream[(String, java.sql.Timestamp, Long, Double)]
    val got = scala.collection.mutable.ArrayBuffer[
      (String, Double, Double, Double, Double, Double)]()
    val q = StreamingDedup.holtWintersStream(
        in.toDF().toDF("host", "ts", "event_id", "value"),
        Seq("host"), "ts", "value", "event_id",
        alpha = 0.25, beta = 0.5, gamma = 0.25, period = 4)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= b.select($"host", $"value", $"level", $"trend",
            $"season", $"forecast")
          .as[(String, Double, Double, Double, Double, Double)]
          .collect()
        ()
      }.start()
    try {
      // the WARMUP buffer itself must cross this boundary (2 of 4)
      in.addData(all.take(2): _*); q.processAllAvailable()
      in.addData(all.slice(2, 5): _*); q.processAllAvailable()
      // strictly-late replay: dropped, ring NOT re-advanced
      in.addData(all(3)); q.processAllAvailable()
      in.addData(all.slice(5, 12): _*); q.processAllAvailable()
    } finally q.stop()
    val batch = TimeSeries.holtWinters(
        all.toDF("host", "ts", "event_id", "value"),
        Seq("host"), Seq("ts", "event_id"), "value",
        alpha = 0.25, beta = 0.5, gamma = 0.25, period = 4)
      .select($"host", $"value", $"level", $"trend", $"season",
        $"forecast")
      .as[(String, Double, Double, Double, Double, Double)].collect()
    assert(got.size == 8) // 12 rows − 4 warmup
    assert(got.sortBy(_._2).toSeq == batch.toSeq.sortBy(_._2),
      s"streaming ${got.toSeq} vs batch ${batch.toSeq}")
  }

  test("flapDetectionStream: cross-batch flag window == batch " +
      "flapDetection; strict hysteresis carries over the boundary; " +
      "late row dropped") {
    import graft.operators.Behavior
    implicit val sq = spark.sqlContext
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // the BehaviorSpec fixture: historyLen=3, pct = 60·chg₀ + 40·chg₁,
    // states a,b,a,b,a,a,a → pct 0,60,100,100,100,40,0; high=90/low=40
    // strict → flapping F,F,T,T,T,T(boundary pct==40 keeps),F
    val all = Seq("a", "b", "a", "b", "a", "a", "a").zipWithIndex
      .map { case (st, i) => ("h1", t(i), i.toLong, st) }
    val in = MemoryStream[(String, java.sql.Timestamp, Long, String)]
    val got = scala.collection.mutable.ArrayBuffer[
      (String, java.sql.Timestamp, String, Double, Boolean)]()
    val q = StreamingDedup.flapDetectionStream(
        in.toDF().toDF("host", "ts", "event_id", "st"),
        Seq("host"), "st", "ts", "event_id", highPct = 90.0,
        lowPct = 40.0, historyLen = 3)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= b.select($"host", $"ts", $"state", $"pct", $"flapping")
          .as[(String, java.sql.Timestamp, String, Double, Boolean)]
          .collect()
        ()
      }.start()
    try {
      // the flag window AND the flapping verdict must cross these cuts
      in.addData(all.take(2): _*); q.processAllAvailable()
      in.addData(all.slice(2, 3): _*); q.processAllAvailable()
      // strictly-late replay: dropped, window NOT re-advanced
      in.addData(all(1)); q.processAllAvailable()
      in.addData(all.slice(3, 6): _*); q.processAllAvailable()
      in.addData(all.slice(6, 7): _*); q.processAllAvailable()
    } finally q.stop()
    val batch = Behavior.flapDetection(
        all.toDF("host", "ts", "event_id", "st"),
        "host", "st", "ts", "event_id", highPct = 90.0,
        lowPct = 40.0, historyLen = 3)
      .select($"host", $"ts", $"state", $"pct", $"flapping")
      .as[(String, java.sql.Timestamp, String, Double, Boolean)]
      .collect()
    assert(got.size == all.size)
    assert(got.sortBy(_._2.getTime).toSeq ==
      batch.toSeq.sortBy(_._2.getTime),
      s"streaming ${got.toSeq} vs batch ${batch.toSeq}")
    // the dead-band boundary row (pct == lowPct) kept flapping ON
    assert(got.exists(r => r._4 == 40.0 && r._5))
  }

  test("rateStream state (last sample + reorder buffer) survives query " +
      "restart via checkpoint") {
    import graft.operators.TimeSeries
    implicit val sq = spark.sqlContext
    val ckpt = tempDir("graftrateck").toString
    val out = tempDir("graftrateout").toString
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val input = MemoryStream[(String, java.sql.Timestamp, Long, Double)]
    def start() = StreamingDedup.rateStream(
        input.toDF().toDF("host", "ts", "event_id", "value"),
        Seq("host"), "ts", "value", "event_id",
        lateness = Some("5 minutes"))
      .writeStream
      .foreachBatch(StreamingDedup.foreachBatchParquetSink(out) _)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    // t0 establishes state; t2 arrives but stays BUFFERED (watermark
    // has not passed it when the process dies)
    input.addData(("h1", t(0), 1L, 100.0), ("h1", t(2), 2L, 160.0))
    q1.processAllAvailable()
    q1.stop() // simulated process death mid-buffer
    val q2 = start()
    // after restart: a sample that should rate against the BUFFERED
    // t2 (not against t0) once the watermark drains both
    input.addData(("h1", t(4), 3L, 220.0), ("hb", t(30), 9L, 0.0))
    q2.processAllAvailable()
    input.addData(("hb", t(31), 10L, 0.0))
    q2.processAllAvailable()
    q2.stop()
    val got = spark.read.parquet(out)
      .filter($"host" === "h1")
      .select($"value", $"increase", $"rate_per_s")
      .as[(Double, Double, Double)].collect().toSet
    // both rates exist and the t4 step rated against the buffered t2
    // value restored from the checkpoint — 60/120s, not 120/240s
    assert(got == Set((160.0, 60.0, 0.5), (220.0, 60.0, 0.5)), got)
    val batch = TimeSeries.counterRate(
        Seq(("h1", t(0), 1L, 100.0), ("h1", t(2), 2L, 160.0),
          ("h1", t(4), 3L, 220.0)).toDF("host", "ts", "event_id", "value"),
        Seq("host"), "ts", "value", "event_id")
      .select($"value", $"increase", $"rate_per_s")
      .as[(Double, Double, Double)].collect().toSet
    assert(got == batch)
  }

  test("notificationStream: cross-batch episode anchor + slot gate == " +
      "batch notificationSchedule; escalation ordinal spans the " +
      "boundary; late row dropped") {
    import graft.operators.Behavior
    implicit val sq = spark.sqlContext
    def t(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // the BehaviorSpec fixture: maxAttempts=1, 1h interval, escalate
    // at 2 → pages at 10:00 (0), 11:10 (1), 12:30 (2, escalated),
    // and 14:00 (new episode, 0); silent at 10:30 and on recovery
    val all = Seq(
      ("h1", t(9, 0), 1L, "ok"), ("h1", t(10, 0), 2L, "crit"),
      ("h1", t(10, 30), 3L, "crit"), ("h1", t(11, 10), 4L, "crit"),
      ("h1", t(12, 30), 5L, "crit"), ("h1", t(13, 0), 6L, "ok"),
      ("h1", t(14, 0), 7L, "crit"))
    val in = MemoryStream[(String, java.sql.Timestamp, Long, String)]
    val got = scala.collection.mutable.ArrayBuffer[
      (String, java.sql.Timestamp, String, Long, Boolean)]()
    val q = StreamingDedup.notificationStream(
        in.toDF().toDF("host", "ts", "event_id", "st"),
        Seq("host"), "st", "ts", "event_id", okState = "ok",
        maxAttempts = 1, intervalSeconds = 3600L, escalateAfter = 2L)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= b.select($"host", $"ts", $"state", $"notification_no",
            $"escalated")
          .as[(String, java.sql.Timestamp, String, Long, Boolean)]
          .collect()
        ()
      }.start()
    try {
      // episode start and its first repeat land in different batches
      in.addData(all.take(3): _*); q.processAllAvailable()
      // strictly-late replay: dropped, slot state NOT re-advanced
      in.addData(all(2)); q.processAllAvailable()
      in.addData(all.slice(3, 5): _*); q.processAllAvailable()
      in.addData(all.slice(5, 7): _*); q.processAllAvailable()
    } finally q.stop()
    val batch = Behavior.notificationSchedule(
        all.toDF("host", "ts", "event_id", "st"),
        "host", "st", "ts", "event_id", okState = "ok",
        maxAttempts = 1, intervalSeconds = 3600L, escalateAfter = 2L)
      .select($"host", $"ts", $"state", $"notification_no",
        $"escalated")
      .as[(String, java.sql.Timestamp, String, Long, Boolean)]
      .collect()
    assert(got.sortBy(_._2.getTime).toSeq ==
      batch.toSeq.sortBy(_._2.getTime),
      s"streaming ${got.toSeq} vs batch ${batch.toSeq}")
    assert(got.count(_._5) == 1 && got.size == 4)
  }

  test("hardSoftStateStream retry counter survives query restart via " +
      "checkpoint — a half-counted problem keeps counting") {
    import graft.operators.Behavior
    implicit val sq = spark.sqlContext
    val ckpt = tempDir("grafthsck").toString
    val out = tempDir("grafthsout").toString
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val input = MemoryStream[(String, java.sql.Timestamp, Long, String)]
    def start() = StreamingDedup.hardSoftStateStream(
        input.toDF().toDF("host", "ts", "event_id", "st"),
        Seq("host"), "st", "ts", "event_id", okState = "ok",
        maxAttempts = 3)
      .writeStream
      .foreachBatch(StreamingDedup.foreachBatchParquetSink(out) _)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    // two soft non-OK checks land, then the process dies
    input.addData(("h1", t(0), 1L, "warn"), ("h1", t(1), 2L, "crit"))
    q1.processAllAvailable()
    q1.stop()
    val q2 = start()
    // the third check after restart must HARDEN (attempt 3 continues
    // from the checkpointed counter, not restart at 1)
    input.addData(("h1", t(2), 3L, "crit"))
    q2.processAllAvailable()
    q2.stop()
    val got = spark.read.parquet(out)
      .select($"ts", $"state", $"attempt", $"state_type",
        $"hard_state", $"hard_change")
      .as[(java.sql.Timestamp, String, Long, String, String, Boolean)]
      .collect().sortBy(_._1.getTime)
    val batch = Behavior.hardSoftState(
        Seq(("h1", t(0), 1L, "warn"), ("h1", t(1), 2L, "crit"),
          ("h1", t(2), 3L, "crit")).toDF("host", "ts", "event_id", "st"),
        "host", "st", "ts", "event_id", okState = "ok", maxAttempts = 3)
      .select($"ts", $"state", $"attempt", $"state_type",
        $"hard_state", $"hard_change")
      .as[(java.sql.Timestamp, String, Long, String, String, Boolean)]
      .collect().sortBy(_._1.getTime)
    assert(got.toSeq == batch.toSeq, s"restart ${got.toSeq}")
    assert(got.last == ((t(2), "crit", 3L, "HARD", "crit", true)))
  }

  test("rateStream with lateness: randomized bounded-disorder property " +
      "— arrival = ts + U(0, 0.9·lateness), random batch splits, " +
      "streaming == batch bit-for-bit") {
    import graft.operators.TimeSeries
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(20260814L)
    val latenessMs = 5 * 60 * 1000L
    val base = 1704067200000L // 2024-01-01 00:00:00 UTC
    // 3 entities × 40 samples at a 60s cadence with duplicate
    // timestamps (~15%) and resets (~10%)
    val inOrder = for {
      h <- Seq("h1", "h2", "h3")
      i <- 0 until 40
    } yield {
      val ts = base + i * 60000L + (if (rnd.nextDouble() < 0.15) -60000L else 0L)
      val v = if (rnd.nextDouble() < 0.10) rnd.nextDouble() * 50
        else 100.0 + i * 17 + rnd.nextInt(10)
      (h, new java.sql.Timestamp(ts), (h.hashCode.toLong << 8) + i, v)
    }
    // bounded-disorder arrival: sort by ts + U(0, 0.9·lateness), so no
    // sample can ever arrive below the watermark (maxSeen − lateness)
    val arrivals = inOrder.sortBy { case (_, ts, tb, _) =>
      (ts.getTime + (rnd.nextDouble() * 0.9 * latenessMs).toLong, tb)
    }
    // random batch boundaries (4-12 rows each), then a heartbeat far
    // past max(ts)+lateness and one extra cycle to drain the buffers
    val batches = scala.collection.mutable.ArrayBuffer[
      Seq[(String, java.sql.Timestamp, Long, Double)]]()
    var rest = arrivals
    while (rest.nonEmpty) {
      val n = 4 + rnd.nextInt(9)
      batches += rest.take(n); rest = rest.drop(n)
    }
    val hbTs = new java.sql.Timestamp(base + 100L * 60000L + latenessMs * 3)
    val in = MemoryStream[(String, java.sql.Timestamp, Long, Double)]
    val got = scala.collection.mutable.ArrayBuffer[
      (String, java.sql.Timestamp, Double, Double, Double)]()
    val q = StreamingDedup.rateStream(
        in.toDF().toDF("host", "ts", "event_id", "value"),
        Seq("host"), "ts", "value", "event_id",
        lateness = Some("5 minutes"))
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= b.select($"host", $"ts", $"value", $"increase", $"rate_per_s")
          .as[(String, java.sql.Timestamp, Double, Double, Double)].collect()
        ()
      }.start()
    try {
      batches.foreach { chunk => in.addData(chunk: _*); q.processAllAvailable() }
      in.addData(("hb", hbTs, 9999L, 0.0)); q.processAllAvailable()
      in.addData(("hb", new java.sql.Timestamp(hbTs.getTime + 60000L),
        10000L, 0.0)); q.processAllAvailable()
    } finally q.stop()
    val batch = TimeSeries.counterRate(
        inOrder.toDF("host", "ts", "event_id", "value"),
        Seq("host"), "ts", "value", "event_id")
      .select($"host", $"ts", $"value", $"increase", $"rate_per_s")
      .as[(String, java.sql.Timestamp, Double, Double, Double)].collect()
    val key = (r: (String, java.sql.Timestamp, Double, Double, Double)) =>
      (r._1, r._2.getTime, r._3, r._4, r._5)
    assert(got.filter(_._1 != "hb").map(key).sorted ==
      batch.toSeq.map(key).sorted)
    assert(batch.length > 60) // the fixture actually rates something
  }

  test("m4Stream: closed buckets emit once with the batch tie rule; " +
      "late rows drop; stream == batch frame run") {
    import graft.operators.TimeSeries
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Point]
    // value doubles as the unique tiebreak in this fixture
    val agg = TimeSeries.m4Stream(input.toDF(), Seq("host"), "ts",
      "value", "value", bucketSeconds = 600L,
      watermarkDelay = "5 minutes")
    val q = agg.writeStream.format("memory").queryName("m4_stream")
      .outputMode("append").start()
    // bucket 10:00-10:10 for h1 (extremes + first/last distinct rows)
    input.addData(p("h1", 1, 4.0), p("h1", 3, 9.0), p("h1", 5, 1.0),
      p("h1", 9, 6.0))
    q.processAllAvailable()
    assert(spark.table("m4_stream").count() == 0) // watermark not past
    // advance event time past 10:10 + 5 min -> first bucket closes
    input.addData(p("h1", 16, 7.0))
    q.processAllAvailable()
    val closed = spark.table("m4_stream")
      .as[(String, Long, Long, Double, Double, Double, Double)].collect()
    assert(closed.length == 1)
    val (host, bucket, n, vmin, vmax, vfirst, vlast) = closed.head
    assert(host == "h1" && n == 4L && vmin == 1.0 && vmax == 9.0)
    assert(vfirst == 4.0 && vlast == 6.0)
    assert(bucket % 600 == 0)
    // a row behind the watermark never reopens the emitted bucket
    input.addData(p("h1", 2, 99.0))
    q.processAllAvailable()
    assert(spark.table("m4_stream").count() == 1)
    q.stop()
    // batch == stream: the same operator on a batch frame produces
    // the emitted bucket row identically (watermark no-op there)
    val batchRows = TimeSeries.m4Stream(
        Seq(p("h1", 1, 4.0), p("h1", 3, 9.0), p("h1", 5, 1.0),
          p("h1", 9, 6.0)).toDF(),
        Seq("host"), "ts", "value", "value", 600L, "5 minutes")
      .as[(String, Long, Long, Double, Double, Double, Double)]
      .collect().toSeq
    assert(batchRows == Seq(closed.head))
  }

  test("foreachBatch idempotent parquet sink") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graftsink").toString
    val input = MemoryStream[Point]
    val q = StreamingDedup.dedupedStream(input.toDF(), "ts", "1 hour")
      .writeStream
      .foreachBatch(StreamingDedup.foreachBatchParquetSink(dir) _)
      .outputMode("append").start()
    input.addData(p("h1", 0, 1.0), p("h2", 5, 2.0))
    q.processAllAvailable()
    q.stop()
    val back = spark.read.parquet(dir)
    assert(back.count() == 2)
    assert(back.columns.contains("__batch_id"))
    // retried batch (same batch id) REPLACES its partition instead of
    // appending — the idempotence the contract promises
    // materialize before replaying: the overwrite deletes the very
    // files a lazy plan would still be reading
    val replay = back.drop("__batch_id").localCheckpoint(true)
    StreamingDedup.foreachBatchParquetSink(dir)(replay, 0L)
    assert(spark.read.parquet(dir).count() == 2)
    // a NEW batch id lands in its own partition, old batches untouched
    StreamingDedup.foreachBatchParquetSink(dir)(replay.limit(1), 1L)
    assert(spark.read.parquet(dir).count() == 3)
  }

  test("streaming near-dup curation: batches dedup against staged history") {
    // the streaming composition of the incremental minhash path: the
    // corpus version's band keys are staged ONCE; every micro-batch
    // probes them (plus itself) without re-hashing history — the
    // steady-state shape of a continuously-ingesting curation job.
    // Cross-BATCH dups are out of scope by design: batches dedup
    // against the staged corpus version, and restaging folds batches
    // into the next version.
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val histDir = tempDir("graftbands").toString
    val outDir = tempDir("graftcurated").toString
    val hist = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "history keeps completely different second content"))
      .toDF("doc_id", "text")
    Dedup.stageBandKeys(hist, "doc_id", "text", histDir,
      shingleK = 3, numHashes = 32, bands = 16)
    val staged = spark.read.parquet(histDir)
    def curate(batch: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      val corpus = hist.unionByName(batch)
      val pairs = Dedup.minhashNearDupPairsIncremental(batch, corpus,
        staged, "doc_id", "text", shingleK = 3, numHashes = 32,
        bands = 16, threshold = 0.5)
      Dedup.dedupGreedyByPairs(batch, "doc_id", pairs)
        .write.mode("append").parquet(outDir)
    }
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream.foreachBatch(curate _).outputMode("append").start()
    input.addData(
      // J vs hist doc 1 = 6/8 = 0.75: killed by history
      (10L, "alpha beta gamma delta epsilon zeta eta theta near dup"),
      (11L, "streaming novelty one arrives with fresh words"),
      // 12/13 are intra-batch twins (J = 6/7): greedy keeps 12
      (12L, "twin content sentence shared across the batch pair"),
      (13L, "twin content sentence shared across the batch pair extra"))
    q.processAllAvailable()
    // a later batch still dedups against the same staged version
    input.addData(
      (20L, "history keeps completely different second content appended"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.read.parquet(outDir)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(11L, 12L), kept.toString)
  }

  test("streaming substring dedup: batches cut spans against staged " +
      "hashes; equals the full batch pass (VERDICT r11 task 8)") {
    // the span-side twin of the staged minhash curation job: the
    // corpus version's window hashes stage ONCE; every micro-batch
    // cuts (a) spans already present in the staged corpus and (b)
    // all-but-first repeats inside the batch, without re-tokenizing
    // history. With batch ids after all staged ids (the steady-state
    // ingest invariant) this equals the full repeatedSpans pass over
    // (corpus ∪ batch) restricted to batch ids.
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val spanDir = tempDir("graftspans").toString
    val outDir = tempDir("graftsubout").toString
    val boiler = "all rights reserved contact the site administrator now"
    val hist = Seq(
      (1L, s"first article body text here $boiler"),
      (2L, "second history document with entirely fresh words"))
      .toDF("doc_id", "text")
    Dedup.stageSpanHashes(hist, "doc_id", "text", spanDir, k = 4)
    val staged = spark.read.parquet(spanDir)
    def curate(batch: org.apache.spark.sql.DataFrame, id: Long): Unit =
      Dedup.substringDedupIncremental(batch, "doc_id", "text", 4, staged)
        .write.mode("append").parquet(outDir)
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream.foreachBatch(curate _).outputMode("append").start()
    val twin = "shared twin sentence repeated across this batch only"
    input.addData(
      (10L, s"novel opener then $boiler and a novel tail"),
      (11L, "completely novel streaming document nothing repeats"),
      (12L, s"intra batch one $twin"),
      (13L, s"intra batch two $twin"))
    q.processAllAvailable()
    // a later batch still probes the same staged version
    input.addData((20L, s"late arrival repeating $boiler verbatim"))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(outDir)
      .as[(Long, String)].collect().toMap
    // staged boilerplate cut from 10 and 20; novel text untouched
    assert(!got(10L).contains("rights reserved"), got(10L))
    assert(got(10L).contains("novel opener then") &&
      got(10L).contains("and a novel tail"), got(10L))
    assert(got(11L) ==
      "completely novel streaming document nothing repeats")
    assert(!got(20L).contains("rights reserved"), got(20L))
    // intra-batch twin: first occurrence (12) keeps it, 13 loses it
    assert(got(12L).contains("shared twin sentence"), got(12L))
    assert(!got(13L).contains("shared twin sentence"), got(13L))
    // batch == stream: the full pass over (hist ∪ all batches) agrees
    // on every batch id
    val all = hist.unionByName(Seq(
      (10L, s"novel opener then $boiler and a novel tail"),
      (11L, "completely novel streaming document nothing repeats"),
      (12L, s"intra batch one $twin"),
      (13L, s"intra batch two $twin"),
      (20L, s"late arrival repeating $boiler verbatim"))
      .toDF("doc_id", "text"))
    val full = Dedup.substringDedup(all, "doc_id", "text", k = 4)
      .filter($"doc_id" >= 10L)
      .as[(Long, String)].collect().toMap
    assert(got == full,
      s"incremental != full pass:\n got=$got\nfull=$full")
    // parameter drift refused: probing k=5 against a k=4 staging
    val e = intercept[Exception] {
      Dedup.substringDedupIncremental(
        Seq((30L, "any text at all for the probe here")).toDF("doc_id", "text"),
        "doc_id", "text", 5, staged).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(x => x.getMessage != null &&
      x.getMessage.contains("restage or match the width")), e.toString)
  }

  test("streaming entity assignment: micro-batches assign against the " +
      "FROZEN registry; equals the batch serving arm on every record " +
      "(round 13 — the last serving arm without a live twin)") {
    // the ER sibling of the staged-spans / kill-list twins: the
    // resolved registry is a scheduled rebuild; every tick assigns
    // its records against the frozen version — per-record and
    // registry-state-free, so batch == stream exactly, and novel
    // names get per-exact-string provisional ids WITHIN a tick but
    // deliberately never link across ticks (two ticks' near-twins
    // wait for the rebuild — the resolveEntitiesAgainst contract)
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val outDir = tempDir("graftassign").toString
    val registry = Seq(
      (1L, "alpha", 1L), (2L, "alphq", 1L), (4L, "zzzz", 4L))
      .toDF("rec_id", "name", "entity_id")
      .localCheckpoint(true) // frozen artifact
    def assign(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      Dedup.resolveEntitiesAgainst(b, registry, "rec_id", "name",
          "entity_id", maxDist = 1)
        .write.mode("append").parquet(outDir)
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("rec_id", "name")
      .writeStream.foreachBatch(assign _).outputMode("append").start()
    val rows = Seq(
      (10L, "alphz"),     // dist 1 of two registry names -> entity 1
      (11L, "brand new"), // novel twins in ONE tick share the min id
      (12L, "brand new"),
      (13L, "zzzy"))      // dist 1 of zzzz -> entity 4
    input.addData(rows.take(3): _*)
    q.processAllAvailable()
    // a later tick: same frozen registry; a REPEAT of tick-1's novel
    // name gets its own provisional id (no cross-tick state)
    input.addData(rows.drop(3) :+ (14L, "brand new"): _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(outDir)
      .select($"rec_id", $"entity_id").as[(Long, Long)]
      .collect().toMap
    assert(got == Map(10L -> 1L, 11L -> 11L, 12L -> 11L, 13L -> 4L,
      14L -> 14L), got.toString)
    // batch == stream PER TICK: the one-shot serving arm over each
    // tick's rows agrees (cross-tick provisional isolation is the
    // deliberate difference from one big batch)
    val b1 = Dedup.resolveEntitiesAgainst(rows.take(3)
        .toDF("rec_id", "name"), registry, "rec_id", "name",
        "entity_id", maxDist = 1)
      .select($"rec_id", $"entity_id").as[(Long, Long)].collect().toMap
    assert(b1 == got.filter(_._1 <= 12L), s"$b1 vs $got")
  }

  test("streaming boilerplate scrub: micro-batches strip against the " +
      "STAGED kill list; equals the batch serving arm on every doc " +
      "(VERDICT r12 task 4)") {
    // the CCNet-scrubber twin of the staged-span curation job: the
    // corpus version's (domain, line-hash) kill list stages ONCE;
    // every micro-batch scrubs its docs against it without recounting
    // domains — per-doc and state-free, so batch == stream exactly
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val killDir = tempDir("graftboilkill").toString
    val outDir = tempDir("graftboilout").toString
    val hist = Seq(
      (1L, "a", "cookie banner\nbody one"),
      (2L, "a", "cookie banner\nbody two"),
      (3L, "a", "cookie banner\nbody three"),
      (4L, "a", "cookie banner\nbody four"),
      (5L, "a", "cookie banner\nbody five"))
      .toDF("doc_id", "source", "text")
    Dedup.stageBoilerplateKillList(hist, "doc_id", "source", "text",
      killDir, minDomainDocs = 5L, minFraction = 0.5)
    val staged = spark.read.parquet(killDir)
    def scrub(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      Dedup.stripDomainBoilerplateAgainst(b, "doc_id", "source",
          "text", staged)
        .write.mode("append").parquet(outDir)
    val input = MemoryStream[(Long, String, String)]
    val q = input.toDF().toDF("doc_id", "source", "text")
      .writeStream.foreachBatch(scrub _).outputMode("append").start()
    val rows = Seq(
      (10L, "a", "cookie banner\nfresh stream body"),
      (11L, "z", "cookie banner\nnovel domain keeps it"),
      (12L, "a", "only novel text here"))
    input.addData(rows.take(2): _*)
    q.processAllAvailable()
    // a later batch still scrubs against the same staged version
    input.addData(rows.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(outDir)
      .select($"doc_id", $"text", $"n_removed")
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // known-domain boilerplate cut; SAME line in an unseen domain kept
    // (the kill list is domain-scoped, not a global line set)
    assert(got(10L) == (("fresh stream body", 1L)), got(10L))
    assert(got(11L) == (("cookie banner\nnovel domain keeps it", 0L)),
      got(11L))
    assert(got(12L) == (("only novel text here", 0L)), got(12L))
    // batch == stream: the one-shot serving arm over all rows agrees
    val batch = Dedup.stripDomainBoilerplateAgainst(
        rows.toDF("doc_id", "source", "text"), "doc_id", "source",
        "text", staged)
      .select($"doc_id", $"text", $"n_removed")
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == batch, s"stream=$got\nbatch=$batch")
  }

  test("frozen-LM surprisal: streaming scores == batch scores") {
    // the production CCNet shape: the unigram model trains ONCE on a
    // reference corpus; every micro-batch scores against that frozen
    // table, so streaming and batch scoring agree by construction
    import graft.operators.TextOps
    implicit val sq = spark.sqlContext
    val ref = Seq((100L, "the cat sat on the mat"), (101L, "the dog sat"))
      .toDF("doc_id", "text")
    val model = TextOps.unigramModel(ref, "text").localCheckpoint(true)
    val all = Seq((1L, "the cat"), (2L, "qq zz the"), (3L, "dog mat sat"))
    val scored = scala.collection.concurrent.TrieMap[Long, Double]()
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        TextOps.surprisalAgainst(b, "doc_id", "text", model)
          .as[(Long, Long, Double)].collect()
          .foreach(r => scored(r._1) = r._3)
      }.start()
    try {
      in.addData(all.head)
      q.processAllAvailable()
      in.addData(all.tail: _*)
      q.processAllAvailable()
    } finally q.stop()
    val batch = TextOps.surprisalAgainst(all.toDF("doc_id", "text"),
        "doc_id", "text", model)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(scored.toMap == batch)
    // the OOV-heavy doc must score above the fully in-vocabulary one
    assert(scored(2L) > scored(1L),
      s"OOV ${scored(2L)} !> in-vocab ${scored(1L)}")
  }

  test("frozen DSIR + frozen-LM curation: streaming selection == batch") {
    // the full streaming curation composition (round-6 verdict task
    // 6): BOTH scoring artifacts — the DSIR log-ratio table and the
    // reference unigram LM — freeze once per corpus version; each
    // micro-batch scores against them and gates on (target-likeness,
    // surprisal). Frozen models make stream == batch by construction;
    // this pins the composition, not just each operator.
    import graft.operators.TextOps
    implicit val sq = spark.sqlContext
    val target = Seq(
      (100L, "the cat sat on the mat"), (101L, "the dog sat")
    ).toDF("doc_id", "text")
    val rawSample = Seq(
      (200L, "the cat runs"), (201L, "qq zz qq zz market data")
    ).toDF("doc_id", "text")
    val dsir = TextOps.dsirModel(rawSample, target, "text")
      .localCheckpoint(true)
    val lm = TextOps.unigramModel(target, "text").localCheckpoint(true)
    val all = Seq(
      (1L, "the cat sat"),          // target-like, in-vocab
      (2L, "qq zz qq zz"),          // raw-pool-like, OOV-heavy
      (3L, "the dog sat on the mat"),
      (4L, "market data feed qq")
    )
    def select(b: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame =
      TextOps.dsirScoreAgainst(b, "doc_id", "text", dsir)
        .join(TextOps.surprisalAgainst(b, "doc_id", "text", lm), "doc_id")
        .filter(col("dsir_logw") > 0 && col("surprisal_ref") < 3.0)
        .select("doc_id", "dsir_logw", "surprisal_ref")
    val kept = scala.collection.concurrent.TrieMap[Long, (Double, Double)]()
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        select(b).as[(Long, Double, Double)].collect()
          .foreach(r => kept(r._1) = (r._2, r._3))
      }.start()
    try {
      in.addData(all.take(2): _*)
      q.processAllAvailable()
      in.addData(all.drop(2): _*)
      q.processAllAvailable()
    } finally q.stop()
    val batch = select(all.toDF("doc_id", "text"))
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(kept.toMap == batch, s"${kept.toMap} != $batch")
    // the gate did real work: something kept, something dropped
    assert(batch.nonEmpty && batch.size < all.size, batch.toString)
  }

  test("frozen PQ codebook: streaming encode == batch encode") {
    // the PQ artifact freezes per corpus version like the LM/DSIR
    // models; every micro-batch of new vectors encodes against it —
    // identical codes to a batch encode by construction
    import graft.operators.Similarity
    implicit val sq = spark.sqlContext
    val corpus = spark.read
      .parquet(s"${sf("sf0.001")}/embeddings.parquet")
    val cb = Similarity.pqCodebook(corpus, "vec_id", "embedding", 8)
      .localCheckpoint(true)
    val incoming = corpus.filter(col("vec_id").between(100, 139))
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
      .map { case (id, v) => (id, v.toSeq) }
    val streamed = scala.collection.concurrent.TrieMap[(Long, Int), Int]()
    val in = MemoryStream[(Long, Seq[Float])]
    val q = in.toDF().toDF("vec_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        Similarity.pqEncodeAgainst(
            b.select(col("vec_id"), col("embedding").cast("array<float>")),
            "vec_id", "embedding", dim = 64, subspaces = 8, cb)
          .as[(Long, Int, Int)].collect()
          .foreach(r => streamed((r._1, r._2)) = r._3)
      }.start()
    try {
      in.addData(incoming.take(15): _*)
      q.processAllAvailable()
      in.addData(incoming.drop(15): _*)
      q.processAllAvailable()
    } finally q.stop()
    val batch = Similarity.pqEncodeAgainst(
        corpus.filter(col("vec_id").between(100, 139)),
        "vec_id", "embedding", dim = 64, subspaces = 8, cb)
      .as[(Long, Int, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(streamed.toMap == batch)
    assert(batch.size == 40 * 8) // every (vector, subspace) coded
  }

  test("rateStream: cross-batch counter rates == batch counterRate; " +
      "reset and duplicate-ts semantics carry over the batch boundary") {
    import graft.operators.TimeSeries
    implicit val sq = spark.sqlContext
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // h1: increase, then RESET across the batch boundary, then a
    // duplicate-ts row (state advances, no emit), then a normal step
    // whose prev is the duplicate's value — the lag-chain semantics
    val all = Seq(
      ("h1", t(0), 1L, 100.0), ("h1", t(1), 2L, 160.0),
      ("h2", t(0), 3L, 50.0),
      // batch 2
      ("h1", t(2), 4L, 40.0), ("h1", t(3), 5L, 70.0),
      ("h1", t(3), 6L, 90.0), ("h2", t(2), 7L, 80.0),
      // batch 3
      ("h1", t(5), 8L, 100.0))
    val in = MemoryStream[(String, java.sql.Timestamp, Long, Double)]
    val got = scala.collection.mutable.ArrayBuffer[
      (String, Double, Double, Double)]()
    val q = StreamingDedup.rateStream(
        in.toDF().toDF("host", "ts", "event_id", "value"),
        Seq("host"), "ts", "value", "event_id")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= b.select($"host", $"value", $"increase", $"rate_per_s")
          .as[(String, Double, Double, Double)].collect()
        ()
      }.start()
    try {
      in.addData(all.take(3): _*)
      q.processAllAvailable()
      in.addData(all.slice(3, 7): _*)
      q.processAllAvailable()
      in.addData(all.drop(7): _*)
      q.processAllAvailable()
    } finally q.stop()
    val batch = TimeSeries.counterRate(
        all.toDF("host", "ts", "event_id", "value"),
        Seq("host"), "ts", "value", "event_id")
      .select($"host", $"value", $"increase", $"rate_per_s")
      .as[(String, Double, Double, Double)].collect()
    assert(got.sorted == batch.toSeq.sorted,
      s"streaming $got vs batch ${batch.toSeq}")
    // the duplicate-ts row emitted nothing but advanced state: the
    // t(5) step rates against value 90, not 70
    assert(got.contains(("h1", 100.0, 10.0, round6(10.0 / 120))))
  }

  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  test("rateStream: multi-key entities whose parts concatenate " +
      "identically keep separate counter state") {
    import graft.operators.TimeSeries
    implicit val sq = spark.sqlContext
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // ("1","2x") vs ("12","x"): an unseparated key concat collides
    val all = Seq(
      ("1", "2x", t(0), 1L, 100.0), ("12", "x", t(1), 2L, 500.0),
      ("1", "2x", t(2), 3L, 160.0), ("12", "x", t(3), 4L, 530.0))
    val in = MemoryStream[(String, String, java.sql.Timestamp, Long, Double)]
    val got = scala.collection.mutable.ArrayBuffer[
      (String, String, Double, Double)]()
    val q = StreamingDedup.rateStream(
        in.toDF().toDF("user_id", "event_type", "ts", "event_id", "value"),
        Seq("user_id", "event_type"), "ts", "value", "event_id")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= b.select($"user_id", $"event_type", $"value", $"increase")
          .as[(String, String, Double, Double)].collect()
        ()
      }.start()
    try {
      in.addData(all.take(2): _*); q.processAllAvailable()
      in.addData(all.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    val batch = TimeSeries.counterRate(
        all.toDF("user_id", "event_type", "ts", "event_id", "value"),
        Seq("user_id", "event_type"), "ts", "value", "event_id")
      .select($"user_id", $"event_type", $"value", $"increase")
      .as[(String, String, Double, Double)].collect()
    assert(got.sorted == batch.toSeq.sorted, s"streaming $got vs batch ${batch.toSeq}")
    // the colliding concat would have rated 160 against 500 (reset →
    // increase 160 ≠ 60); separate states rate 160 against 100
    assert(got.contains(("1", "2x", 160.0, 60.0)))
    assert(got.contains(("12", "x", 530.0, 30.0)))
  }

  test("rateStream: duplicate-timestamp tiebreak uses the column's " +
      "NATIVE ordering (numeric 2 < 10, not lexicographic)") {
    import graft.operators.TimeSeries
    implicit val sq = spark.sqlContext
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // two same-ts rows with event_ids 2 and 10: the batch window's
    // numeric order makes id=10's value (90) the surviving state;
    // lexicographic ("10" < "2") would keep id=2's value (70)
    val all = Seq(
      ("h1", t(0), 1L, 50.0),
      ("h1", t(1), 10L, 90.0), ("h1", t(1), 2L, 70.0),
      ("h1", t(2), 11L, 100.0))
    val in = MemoryStream[(String, java.sql.Timestamp, Long, Double)]
    val got = scala.collection.mutable.ArrayBuffer[
      (String, Double, Double, Double)]()
    val q = StreamingDedup.rateStream(
        in.toDF().toDF("host", "ts", "event_id", "value"),
        Seq("host"), "ts", "value", "event_id")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= b.select($"host", $"value", $"increase", $"rate_per_s")
          .as[(String, Double, Double, Double)].collect()
        ()
      }.start()
    try {
      in.addData(all.take(3): _*); q.processAllAvailable()
      in.addData(all.drop(3): _*); q.processAllAvailable()
    } finally q.stop()
    val batch = TimeSeries.counterRate(
        all.toDF("host", "ts", "event_id", "value"),
        Seq("host"), "ts", "value", "event_id")
      .select($"host", $"value", $"increase", $"rate_per_s")
      .as[(String, Double, Double, Double)].collect()
    assert(got.sorted == batch.toSeq.sorted, s"streaming $got vs batch ${batch.toSeq}")
    // t(2) rates against 90 (native order), not 70 (lexicographic)
    assert(got.contains(("h1", 100.0, 10.0, round6(10.0 / 60))))
  }

  test("rateStream with lateness: out-of-order arrival within the " +
      "watermark == batch counterRate on a shuffled MemoryStream") {
    import graft.operators.TimeSeries
    implicit val sq = spark.sqlContext
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // in-order ground truth (h1 has a reset at t4 and a duplicate ts;
    // h2 interleaves) — delivered SHUFFLED across three micro-batches,
    // every displacement within the 10-minute lateness bound
    val all = Seq(
      ("h1", t(0), 1L, 100.0), ("h1", t(2), 2L, 160.0),
      ("h1", t(4), 3L, 40.0), ("h1", t(6), 4L, 70.0),
      ("h1", t(6), 5L, 90.0), ("h1", t(8), 6L, 120.0),
      ("h2", t(1), 7L, 50.0), ("h2", t(3), 8L, 80.0),
      ("h2", t(5), 9L, 20.0))
    val shuffled = Seq(
      // batch 1: t2 before t0, h2's t3 before t1
      all(1), all(7), all(0), all(6),
      // batch 2: h1's duplicate-ts pair inverted, t4 after t6
      all(4), all(3), all(2), all(8),
      // batch 3: the tail + a heartbeat far past max(ts)+lateness so
      // the watermark passes every real sample and the buffer drains
      all(5), ("hb", t(40), 99L, 0.0))
    val batches = Seq(shuffled.take(4), shuffled.slice(4, 8), shuffled.drop(8))
    val in = MemoryStream[(String, java.sql.Timestamp, Long, Double)]
    val got = scala.collection.mutable.ArrayBuffer[
      (String, java.sql.Timestamp, Double, Double, Double)]()
    val q = StreamingDedup.rateStream(
        in.toDF().toDF("host", "ts", "event_id", "value"),
        Seq("host"), "ts", "value", "event_id",
        lateness = Some("10 minutes"))
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= b.select($"host", $"ts", $"value", $"increase", $"rate_per_s")
          .as[(String, java.sql.Timestamp, Double, Double, Double)].collect()
        ()
      }.start()
    try {
      batches.foreach { chunk =>
        in.addData(chunk: _*); q.processAllAvailable()
      }
      // one extra empty-ish cycle so the heartbeat-advanced watermark
      // is applied to the buffered tail
      in.addData(("hb", t(41), 100L, 0.0)); q.processAllAvailable()
    } finally q.stop()
    val batch = TimeSeries.counterRate(
        all.toDF("host", "ts", "event_id", "value"),
        Seq("host"), "ts", "value", "event_id")
      .select($"host", $"ts", $"value", $"increase", $"rate_per_s")
      .as[(String, java.sql.Timestamp, Double, Double, Double)].collect()
    val gotReal = got.filter(_._1 != "hb")
    assert(gotReal.sortBy(r => (r._1, r._2.getTime)) ==
      batch.toSeq.sortBy(r => (r._1, r._2.getTime)),
      s"streaming $gotReal vs batch ${batch.toSeq}")
    // h1 emits t2, t4 (reset), the FIRST t6 row (the second advances
    // state silently), t8; h2 emits t3, t5 (reset)
    assert(gotReal.size == 6)
  }

  test("frozen maintenance windows: streaming interval overlap == batch") {
    // the overlap join's serving split: the window table is the
    // frozen artifact; each micro-batch of incoming sessions joins it
    // row-locally (bin fan-out + broadcast hash join), so batching
    // cannot change the pairs
    import graft.operators.Relational
    implicit val sq = spark.sqlContext
    val windows = Seq((1L, 100L, 260L), (2L, 300L, 455L),
        (3L, 1000L, 1040L)).toDF("win_id", "ws", "we")
      .localCheckpoint(true)
    def overlap(df: org.apache.spark.sql.DataFrame) =
      Relational.intervalOverlapJoin(df, windows, "s", "t", "ws", "we",
          binWidth = 64L)
        .select(col("sess_id"), col("win_id"))
    val sessions = Seq((10L, 90L, 120L), (11L, 200L, 310L),
      (12L, 500L, 600L), (13L, 1040L, 1100L), (14L, 40L, 50L))
    val streamed = scala.collection.mutable.Set[(Long, Long)]()
    val in = MemoryStream[(Long, Long, Long)]
    val q = in.toDF().toDF("sess_id", "s", "t")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        streamed ++= overlap(b).as[(Long, Long)].collect()
        ()
      }.start()
    try {
      in.addData(sessions.take(2): _*)
      q.processAllAvailable()
      in.addData(sessions.drop(2): _*)
      q.processAllAvailable()
    } finally q.stop()
    val batch = overlap(sessions.toDF("sess_id", "s", "t"))
      .as[(Long, Long)].collect().toSet
    assert(streamed.toSet == batch)
    assert(batch == Set((10L, 1L), (11L, 1L), (11L, 2L), (13L, 3L)))
  }

  test("frozen k-center exemplars: streaming assignment == batch") {
    // the coreset's serving path: the k exemplar VECTORS are the
    // frozen artifact (IVF-centroid-sized driver state); incoming
    // vectors route to their nearest exemplar row-locally, so
    // micro-batching cannot change assignments
    import graft.operators.Similarity
    import graft.functions.VectorExpressions
    implicit val sq = spark.sqlContext
    val corpus = spark.read
      .parquet(s"${sf("sf0.001")}/embeddings.parquet")
    val centers = Similarity.kCenterCoreset(corpus, "vec_id",
        "embedding", dim = 64, k = 4)
      .select("vec_id")
      .join(corpus, "vec_id")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    def assign(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"),
        get(VectorExpressions.centroidTopIds(
          col("embedding").cast("array<float>"),
          centers.map(_._2), 1), lit(0)).as("exemplar_idx"))
    val incoming = corpus.filter(col("vec_id").between(200, 239))
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
      .map { case (id, v) => (id, v.toSeq) }
    val streamed = scala.collection.concurrent.TrieMap[Long, Int]()
    val in = MemoryStream[(Long, Seq[Float])]
    val q = in.toDF().toDF("vec_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        assign(b).as[(Long, Int)].collect()
          .foreach(r => streamed(r._1) = r._2)
      }.start()
    try {
      in.addData(incoming.take(15): _*)
      q.processAllAvailable()
      in.addData(incoming.drop(15): _*)
      q.processAllAvailable()
    } finally q.stop()
    val batch = assign(corpus.filter(col("vec_id").between(200, 239)))
      .as[(Long, Int)].collect().toMap
    assert(streamed.toMap == batch)
    assert(batch.size == 40)
    assert(batch.values.toSet.subsetOf((0 until 4).toSet))
  }

  test("frozen IVF index: streaming query batches == batch search") {
    // the serving shape: centroids train once on the corpus version,
    // query micro-batches probe the frozen index
    import graft.operators.Similarity
    implicit val sq = spark.sqlContext
    val corpus = spark.read
      .parquet(s"${sf("sf0.001")}/embeddings.parquet")
      .localCheckpoint(true)
    val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding",
      nlist = 8)
    val queryRows = corpus.filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
      .map { case (id, v) => (id, v.toSeq) }
    val streamed =
      scala.collection.concurrent.TrieMap[Long, Seq[(Double, Long)]]()
    val in = MemoryStream[(Long, Seq[Float])]
    val q = in.toDF().toDF("qid", "qvec")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        Similarity.ivfTopKAgainst(corpus,
            b.select(col("qid"),
              col("qvec").cast("array<float>").as("embedding")),
            "vec_id", "embedding", "qid", k = 5, cents, nprobe = 8)
          .select(col("query_id"),
            col("neighbors").cast("array<struct<score:double,id:bigint>>"))
          .as[(Long, Seq[(Double, Long)])].collect()
          .foreach(r => streamed(r._1) = r._2)
      }.start()
    try {
      in.addData(queryRows.take(7): _*)
      q.processAllAvailable()
      in.addData(queryRows.drop(7): _*)
      q.processAllAvailable()
    } finally q.stop()
    val batch = Similarity.ivfTopKAgainst(corpus,
        corpus.filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("embedding")),
        "vec_id", "embedding", "qid", k = 5, cents, nprobe = 8)
      .select(col("query_id"),
        col("neighbors").cast("array<struct<score:double,id:bigint>>"))
      .as[(Long, Seq[(Double, Long)])].collect().map(r => r._1 -> r._2)
      .toMap
    assert(streamed.toMap == batch)
    assert(batch.size == 20 && batch.values.forall(_.size == 5))
  }

  test("frozen CMS: streaming rare-token ratios == batch") {
    // the rarity gate's serving shape: the count-min sketch freezes
    // once per reference-corpus version (bounded depth x width rows);
    // every micro-batch scores its token stream against it
    import graft.operators.{Profiling, TextOps}
    implicit val sq = spark.sqlContext
    val ref = Seq((100L, "the cat sat on the mat the cat"),
      (101L, "the dog sat on the cat")).toDF("doc_id", "text")
    val sketch = Profiling.countMinSketch(
        ref.select(explode(TextOps.tokens(col("text"))).as("t")), "t",
        depth = 3, width = 64)
      .localCheckpoint(true)
    val all = Seq((1L, "the cat sat"), (2L, "qq zz the"),
      (3L, "dog mat unseen"))
    val scored = scala.collection.concurrent.TrieMap[Long, (Long, Double)]()
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        TextOps.rareTokenRatio(b, "doc_id", "text", sketch,
            depth = 3, width = 64, rareBelow = 2L)
          .as[(Long, Long, Double)].collect()
          .foreach(r => scored(r._1) = (r._2, r._3))
      }.start()
    try {
      in.addData(all.head)
      q.processAllAvailable()
      in.addData(all.tail: _*)
      q.processAllAvailable()
    } finally q.stop()
    val batch = TextOps.rareTokenRatio(all.toDF("doc_id", "text"),
        "doc_id", "text", sketch, depth = 3, width = 64, rareBelow = 2L)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(scored.toMap == batch)
    // the gate discriminates: reference-vocab doc ordinary, OOV-heavy
    // doc mostly rare
    assert(batch(1L)._2 < batch(2L)._2,
      s"in-vocab ${batch(1L)} !< OOV ${batch(2L)}")
  }

  test("frozen IVF-PQ artifacts: streaming query batches == batch search") {
    // the composed index's serving shape: coarse quantizer and PQ
    // codebook both freeze per corpus version; query micro-batches
    // probe nprobe lists and ADC-score against the frozen codes
    import graft.operators.Similarity
    implicit val sq = spark.sqlContext
    val corpus = spark.read
      .parquet(s"${sf("sf0.001")}/embeddings.parquet")
      .localCheckpoint(true)
    val coarse = Similarity.pqCodebook(corpus, "vec_id", "embedding", 8)
      .localCheckpoint(true)
    val cb = Similarity.pqCodebook(corpus, "vec_id", "embedding", 16)
      .localCheckpoint(true)
    val queryRows = corpus.filter(col("vec_id") < 12)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
      .map { case (id, v) => (id, v.toSeq) }
    val streamed =
      scala.collection.concurrent.TrieMap[Long, Seq[(Double, Long)]]()
    val in = MemoryStream[(Long, Seq[Float])]
    val q = in.toDF().toDF("qid", "qvec")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        Similarity.ivfPqSearchAgainst(corpus,
            b.select(col("qid"),
              col("qvec").cast("array<float>").as("embedding")),
            "vec_id", "embedding", "qid", dim = 64, subspaces = 8,
            nprobe = 2, k = 5, coarse, cb)
          .select(col("query_id"),
            col("neighbors").cast("array<struct<score:double,id:bigint>>"))
          .as[(Long, Seq[(Double, Long)])].collect()
          .foreach(r => streamed(r._1) = r._2)
      }.start()
    try {
      in.addData(queryRows.take(5): _*)
      q.processAllAvailable()
      in.addData(queryRows.drop(5): _*)
      q.processAllAvailable()
    } finally q.stop()
    val batch = Similarity.ivfPqSearchAgainst(corpus,
        corpus.filter(col("vec_id") < 12)
          .select(col("vec_id").as("qid"), col("embedding")),
        "vec_id", "embedding", "qid", dim = 64, subspaces = 8,
        nprobe = 2, k = 5, coarse, cb)
      .select(col("query_id"),
        col("neighbors").cast("array<struct<score:double,id:bigint>>"))
      .as[(Long, Seq[(Double, Long)])].collect().map(r => r._1 -> r._2)
      .toMap
    assert(streamed.toMap == batch)
    assert(batch.size == 12)
  }

  test("streaming CDC merge: per-batch applyChangelog over a staged " +
      "base == one batch merge of all changes") {
    // the production table-maintenance loop: each micro-batch of
    // change rows merges into the staged base via the same
    // applyChangelog the batch path uses, and the final table equals
    // a single batch merge of the full changelog — upsert idempotence
    // makes replay safe, and per-batch application commutes because
    // latest-per-key picks the same winners
    import graft.operators.Relational
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graftcdc").toString
    Seq((1L, "a", 1L), (2L, "b", 1L))
      .toDF("k", "v", "ts").write.parquet(s"$dir/base")
    // (k, v, ts, op): updates to k=1 across batches, delete of k=2,
    // insert of k=3
    val input = MemoryStream[(Long, String, Long, String)]
    val q = input.toDF().toDF("k", "v", "ts", "op")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val base = spark.read.parquet(s"$dir/base").localCheckpoint(true)
        Relational.applyChangelog(base, batch.localCheckpoint(true),
            Seq("k"), "ts", "ts", "op")
          .localCheckpoint(true)
          .write.mode("overwrite").parquet(s"$dir/base")
      }
      .outputMode("append").start()
    input.addData((1L, "a2", 2L, "U"), (3L, "c", 2L, "U"))
    q.processAllAvailable()
    input.addData((1L, "a3", 3L, "U"), (2L, "b", 3L, "D"))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(s"$dir/base")
      .as[(Long, String, Long)].collect().toSet
    val batchMerged = Relational.applyChangelog(
        Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("k", "v", "ts"),
        Seq((1L, "a2", 2L, "U"), (3L, "c", 2L, "U"),
          (1L, "a3", 3L, "U"), (2L, "b", 3L, "D"))
          .toDF("k", "v", "ts", "op"),
        Seq("k"), "ts", "ts", "op")
      .as[(Long, String, Long)].collect().toSet
    assert(streamed == batchMerged, s"$streamed != $batchMerged")
    assert(streamed == Set((1L, "a3", 3L), (3L, "c", 2L)))
  }

  test("frozen hashed-idf model: streaming embeddings == batch") {
    // per-doc vectors depend only on the doc's own tokens + the
    // frozen model, so micro-batching cannot change them
    import graft.operators.TextOps
    implicit val sqlCtx = spark.sqlContext
    val train = Seq((0L, "aa bb cc"), (1L, "aa bb"), (2L, "dd ee"))
      .toDF("doc_id", "text")
    val model = TextOps.hashedIdfModel(train, "text", headVocab = 100)
      .localCheckpoint(true)
    val got = scala.collection.mutable.Set[(Long, Long, Double)]()
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= TextOps.hashedTfidfEmbeddingAgainst(
            batch.localCheckpoint(true), "doc_id", "text", model, dim = 8)
          .as[(Long, Long, Double)].collect()
        ()
      }
      .outputMode("append").start()
    input.addData((0L, "aa bb cc"), (9L, "zz yy"))
    q.processAllAvailable()
    input.addData((2L, "dd ee"))
    q.processAllAvailable()
    q.stop()
    val batchAll = TextOps.hashedTfidfEmbeddingAgainst(
        Seq((0L, "aa bb cc"), (9L, "zz yy"), (2L, "dd ee"))
          .toDF("doc_id", "text"), "doc_id", "text", model, dim = 8)
      .as[(Long, Long, Double)].collect().toSet
    assert(got.toSet == batchAll, s"$got != $batchAll")
    assert(batchAll.map(_._1) == Set(0L, 9L, 2L))
  }

  test("frozen GD weights: streaming scores == batch scores") {
    // the linear gate's serving path is pure literal arithmetic, so a
    // frozen fit scores a stream identically to a batch — the same
    // frozen-artifact contract as the LM/DSIR/PQ/CMS families
    import graft.operators.Profiling
    implicit val sqlCtx = spark.sqlContext
    val train = Seq((0.2, 0.0), (0.4, 1.0), (0.9, 1.0), (0.1, 0.0))
      .toDF("x", "y")
    val w = Profiling.linearFitGD(train, Seq("x"), "y", steps = 3,
        lr = 0.5).as[(String, Double)].collect().toMap
    def score(c: org.apache.spark.sql.Column) =
      round(lit(w("bias")) + lit(w("x")) * c, 6)
    val input = MemoryStream[(Long, Double)]
    val q = input.toDF().toDF("id", "x")
      .select(col("id"), score(col("x")).as("s"))
      .writeStream.format("memory").queryName("gd_stream")
      .outputMode("append").start()
    input.addData((1L, 0.3), (2L, 0.8))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("gd_stream")
      .as[(Long, Double)].collect().toMap
    val batch = Seq((1L, 0.3), (2L, 0.8)).toDF("id", "x")
      .select(col("id"), score(col("x")).as("s"))
      .as[(Long, Double)].collect().toMap
    assert(streamed == batch && batch.size == 2)
    assert(batch(2L) > batch(1L)) // higher x scores higher
  }

  test("inverted index maintains incrementally: per-batch shards " +
      "merge-on-read to the full-corpus index") {
    // the production shape for a growing corpus: each crawl/batch
    // indexes its OWN documents (docs partition cleanly — a doc's
    // postings live in one shard), shards land via the idempotent
    // batch sink, and readers merge per (token, block) — proven
    // equivalent to a full rebuild by the ExtensionOpsSpec
    // mergeability law, exercised here over the streaming path
    import graft.operators.TextOps
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graftidx").toString
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamingDedup.foreachBatchParquetSink(dir)(
          TextOps.invertedIndex(batch, "doc_id", "text",
            nBlocks = 2, minDf = 1L), id)
      }
      .outputMode("append").start()
    input.addData((0L, "x y"), (1L, "x z"))
    q.processAllAvailable()
    input.addData((2L, "x y"), (3L, "w"))
    q.processAllAvailable()
    q.stop()
    val merged = spark.read.parquet(dir)
      .groupBy(col("token"), col("block"))
      .agg(sum(col("n_docs")).as("n_docs"),
        array_sort(flatten(collect_list(col("postings")))).as("postings"))
    val dfTab = merged.groupBy(col("token"))
      .agg(sum(col("n_docs")).as("df"))
    val got = merged.join(dfTab, "token")
      .select(col("token"), col("block"), col("df"), col("n_docs"),
        col("postings"))
      .as[(String, Long, Long, Long, Seq[Long])].collect().toSet
    val full = TextOps.invertedIndex(
        Seq((0L, "x y"), (1L, "x z"), (2L, "x y"), (3L, "w"))
          .toDF("doc_id", "text"), "doc_id", "text",
        nBlocks = 2, minDf = 1L)
      .as[(String, Long, Long, Long, Seq[Long])].collect().toSet
    assert(got == full, s"$got != $full")
  }

  test("session_window stream == batch sessionize on starts and counts") {
    // the batch gap rule and Structured Streaming's merging session
    // windows must agree where their contracts overlap: session START
    // (first event) and event COUNT. (Ends differ by design: batch
    // reports the last EVENT time, session_window end = last + gap.)
    import graft.operators.Behavior
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Point]
    val q = input.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(col("host"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("host"), col("session_window.start").as("session_start"),
        col("n_events"))
      .writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").start()
    // h1: two sessions split by a 31-min gap (delivered out of order
    // within a batch — the merging state machine must still fuse
    // overlapping windows); h2: one singleton session
    input.addData(p("h1", 10, 2.0), p("h1", 0, 1.0), p("h1", 51, 3.0),
      p("h2", 5, 9.0))
    q.processAllAvailable()
    // close the open sessions: advance the watermark far past them
    input.addData(Point("h9",
      java.sql.Timestamp.valueOf("2024-08-11 13:00:00"), 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sess_stream")
      .filter(col("host") =!= "h9")
      .as[(String, java.sql.Timestamp, Long)].collect().toSet
    val batch = Behavior.sessionize(
        Seq(p("h1", 0, 1.0), p("h1", 10, 2.0), p("h1", 51, 3.0),
          p("h2", 5, 9.0)).toDF(), "host", "ts", gapSeconds = 1800L)
      .select(col("host"), col("session_start"), col("n_events"))
      .as[(String, java.sql.Timestamp, Long)].collect().toSet
    assert(streamed == batch, s"$streamed != $batch")
    assert(batch.size == 3)
  }

  test("frozen corpus index: streaming BM25 query batches == batch " +
      "search") {
    // the search-serving split: the corpus (and therefore tf/df/dl/
    // avgdl) freezes per index version; query micro-batches score
    // against it — stream == batch by construction, the IVF/PQ
    // serving convention applied to text retrieval
    import graft.operators.TextOps
    implicit val sq = spark.sqlContext
    val corpus = Seq((1L, "x x y"), (2L, "x z"), (3L, "y z z"))
      .toDF("doc_id", "text").localCheckpoint(true)
    val raw = TextOps.bm25Index(corpus, "doc_id", "text")
    val index = TextOps.Bm25Index(raw.postings.localCheckpoint(true),
      raw.docLen.localCheckpoint(true),
      raw.docFreq.localCheckpoint(true), raw.stats.localCheckpoint(true))
    val all = Seq((10L, "x y"), (20L, "z"), (30L, "x z y"))
    val got = scala.collection.concurrent.TrieMap[(Long, Long), (Long, Double)]()
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("qid", "qtext")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        TextOps.bm25SearchTopK(index, b, "qid", "qtext")
          .as[(Long, Long, Long, Double)].collect()
          .foreach(r => got((r._1, r._3)) = (r._2, r._4))
        ()
      }.start()
    try {
      in.addData(all.head)
      q.processAllAvailable()
      in.addData(all.tail: _*)
      q.processAllAvailable()
    } finally q.stop()
    val batch = TextOps.bm25TopK(corpus, "doc_id", "text",
        all.toDF("qid", "qtext"), "qid", "qtext")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._3) -> ((r._2, r._4))).toMap
    assert(got.toMap == batch && batch.nonEmpty)
  }

  test("frozen PCA direction: streaming projection == batch") {
    // the whitening direction trains ONCE on a reference corpus
    // (driver-held weights, the frozen-artifact class); every
    // micro-batch projects against those literals, so stream == batch
    // by construction — pinned here like the GD/PQ/IVF siblings
    import graft.operators.Similarity
    implicit val sq = spark.sqlContext
    val ref = (1 to 30).map { i =>
      Seq((if (i % 2 == 0) 2.0 else -2.0) * (1 + i % 3),
        0.01 * (i % 5), 0.02 * (i % 2))
    }.toDF("v")
    val w = Similarity.pcaTopComponent(ref, "v", 3, steps = 3)
    val all = Seq((1L, Seq(1.0, 2.0, 3.0)), (2L, Seq(-4.0, 0.5, 0.0)),
      (3L, Seq(0.0, 0.0, 1.0)))
    val scored = scala.collection.concurrent.TrieMap[Long, Double]()
    val in = MemoryStream[(Long, Seq[Double])]
    val q = in.toDF().toDF("id", "v")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        Similarity.pcaProject(b, "id", "v", w.toSeq)
          .as[(Long, Double)].collect().foreach(r => scored(r._1) = r._2)
      }.start()
    try {
      in.addData(all.head)
      q.processAllAvailable()
      in.addData(all.tail: _*)
      q.processAllAvailable()
    } finally q.stop()
    val batch = Similarity.pcaProject(all.toDF("id", "v"), "id", "v",
      w.toSeq).as[(Long, Double)].collect().toMap
    assert(scored.toMap == batch && batch.size == 3)
  }

  test("bottom-k sample shards: per-batch kept sets re-minimize to " +
      "the batch sample (incremental quantile sketch maintenance)") {
    // min-k sets are mergeable: union the per-batch kept (hash, value)
    // rows, keep the k smallest hashes — identical to one batch pass,
    // so the quantile sketch maintains incrementally with O(k) state
    import org.apache.spark.sql.functions.{col, conv, md5, substring}
    implicit val sq = spark.sqlContext
    val b1 = (1 to 40).map(i => (s"id$i", i.toDouble))
    val b2 = (41 to 90).map(i => (s"id$i", i.toDouble))
    val k = 16
    val shards = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Double)]
    def keptOf(df: org.apache.spark.sql.DataFrame) = df
      .select(conv(substring(md5(col("id")), 1, 15), 16, 10)
        .cast("long").as("h"), col("x"))
      .orderBy(col("h")).limit(k)
      .as[(Long, Double)].collect()
    val in = MemoryStream[(String, Double)]
    val q = in.toDF().toDF("id", "x")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        shards ++= keptOf(b)
        ()
      }.start()
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val merged = shards.sortBy(_._1).take(k).toSet
    val batch = keptOf((b1 ++ b2).toDF("id", "x")).toSet
    assert(merged == batch && batch.size == k)
  }

  test("Misra-Gries shards: per-batch summaries sum to the batch " +
      "counts in the exact regime") {
    // incremental heavy-hitter maintenance: each micro-batch emits its
    // own <=k-counter summary; with per-group distinct <= k no counter
    // ever evicts, so shard counts are exact partial counts and the
    // cross-batch merge is a plain (group, item) sum — equal to one
    // batch summary over the union, independent of batch boundaries
    import graft.operators.Profiling
    implicit val sq = spark.sqlContext
    val b1 = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("a", "x"))
    val b2 = Seq(("a", "y"), ("b", "z"), ("b", "z"), ("a", "x"))
    val shards = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long)]
    val in = MemoryStream[(String, String)]
    val q = in.toDF().toDF("g", "v")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        shards ++= Profiling.freqItemsByKey(b, "g", "v", 8)
          .as[(String, String, Long)].collect()
        ()
      }.start()
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val merged = shards.groupBy(r => (r._1, r._2))
      .view.mapValues(_.map(_._3).sum).toMap
    val batch = Profiling.freqItemsByKey((b1 ++ b2).toDF("g", "v"),
        "g", "v", 8)
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(merged == batch, s"$merged != $batch")
  }
  test("availabilityStream: live SLA coverage == batch availability " +
      "after every batch; duplicates and out-of-order emit nothing new") {
    import graft.operators.TimeSeries
    implicit val sq = spark.sqlContext
    // window [100, 199] (the batch spec's fixture): h1 accretes
    // overlapping + adjacent + out-of-window intervals across batches,
    // h2 lands whole-window in one shot, h3 never intersects
    val in = MemoryStream[(String, Long, Long)]
    val got = scala.collection.mutable.ArrayBuffer[
      (String, Long, Long, Long)]()
    val q = StreamingDedup.availabilityStream(
        in.toDF().toDF("host", "lo", "hi"),
        Seq("host"), "lo", "hi", windowLo = 100L, windowHi = 199L)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= b.as[(String, Long, Long, Long)].collect(); ()
      }.start()
    def batchAvail(ivs: Seq[(String, Long, Long)]) = TimeSeries
      .availability(ivs.toDF("host", "lo", "hi"), Seq("host"),
        "lo", "hi", 100L, 199L)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    def lastPerKey = got.groupBy(_._1).view
      .mapValues(v => (v.last._2, v.last._3, v.last._4)).toMap
    val b1 = Seq(("h1", 90L, 120L), ("h3", 0L, 50L))
    val b2 = Seq(("h1", 110L, 140L),          // overlap: extends to 140
      ("h1", 180L, 260L),                     // clamps to [180, 199]
      ("h2", 100L, 199L))                     // exact window -> 10^6 ppm
    val b3 = Seq(("h1", 90L, 120L),           // duplicate re-delivery
      ("h1", 115L, 130L),                     // fully inside an island
      ("h3", 300L, 400L))                     // out of window again
    val b4 = Seq(("h1", 141L, 150L))          // ADJACENT: extends island
    try {
      var seen = Seq.empty[(String, Long, Long)]
      for (b <- Seq(b1, b2, b3, b4)) {
        in.addData(b: _*); q.processAllAvailable()
        seen = seen ++ b
        assert(lastPerKey == batchAvail(seen),
          s"after batch: $lastPerKey vs ${batchAvail(seen)}")
      }
    } finally q.stop()
    // h3 never emitted; the no-change batch (b3) emitted nothing
    assert(!got.exists(_._1 == "h3"))
    assert(got.size == 4, got.toString) // h1 x3 changes + h2 x1
    // exact ppm values: h1 ends [100,150]+[180,199] = 71s -> 710000
    assert(lastPerKey("h1") == ((71L, 100L, 710000L)))
    assert(lastPerKey("h2") == ((100L, 100L, 1000000L)))
  }
  test("burnRateStream: one fold, two windows == the batch q_burn_rate " +
      "semantics; one-window keys silent; page flips live") {
    implicit val sq = spark.sqlContext
    // long window [100, 299] (200s, budget 1% -> burn>1 iff
    // availability < 0.99 iff covered < 198); short [200, 249] (50s)
    val in = MemoryStream[(String, Long, Long)]
    val got = scala.collection.mutable.ArrayBuffer[
      (String, Long, Long, Boolean)]()
    val q = StreamingDedup.burnRateStream(
        in.toDF().toDF("host", "lo", "hi"),
        Seq("host"), "lo", "hi", 100L, 299L, 200L, 249L)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= b.as[(String, Long, Long, Boolean)].collect(); ()
      }.start()
    try {
      // h1 covers only the long window -> inner-join silence
      in.addData(("h1", 100L, 150L)); q.processAllAvailable()
      assert(got.isEmpty)
      // h1 touches the short window: both burns defined, both > 1
      // long covered 51+10=61 -> avail 305000 ppm, burn 69500000
      // short covered 10 -> avail 200000 ppm, burn 80000000 -> page
      in.addData(("h1", 200L, 209L)); q.processAllAvailable()
      assert(got.toSeq == Seq(("h1", 69500000L, 80000000L, true)))
      // full recovery: cover both windows entirely -> burn 0, no page
      in.addData(("h1", 100L, 299L)); q.processAllAvailable()
      assert(got.last == (("h1", 0L, 0L, false)))
      // duplicate re-delivery: nothing changes, nothing emits
      in.addData(("h1", 100L, 299L)); q.processAllAvailable()
      assert(got.size == 2)
    } finally q.stop()
  }
  test("availabilityDowntimeAdjustedStream: one tagged fold == the batch " +
      "operator after every batch; downtime-first keys surface on first " +
      "uptime; duplicates silent") {
    import graft.operators.TimeSeries
    implicit val sq = spark.sqlContext
    // window [100, 199]; rows are (host, lo, hi, is_downtime)
    val in = MemoryStream[(String, Long, Long, Boolean)]
    val got = scala.collection.mutable.ArrayBuffer[
      (String, Long, Long, Long, Long, Long)]()
    val q = StreamingDedup.availabilityDowntimeAdjustedStream(
        in.toDF().toDF("host", "lo", "hi", "is_down"),
        Seq("host"), "lo", "hi", "is_down", 100L, 199L)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= b.as[(String, Long, Long, Long, Long, Long)].collect(); ()
      }.start()
    def batchAdj(rows: Seq[(String, Long, Long, Boolean)]) = {
      val up = rows.filter(!_._4).map(r => (r._1, r._2, r._3))
        .toDF("host", "lo", "hi")
      val dn = rows.filter(_._4).map(r => (r._1, r._2, r._3))
        .toDF("host", "lo", "hi")
      TimeSeries.availabilityDowntimeAdjusted(up, dn, Seq("host"),
          "lo", "hi", 100L, 199L)
        .as[(String, Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    }
    def lastPerKey = got.groupBy(_._1).view
      .mapValues(v => (v.last._2, v.last._3, v.last._4, v.last._5,
        v.last._6)).toMap
    val b1 = Seq(("h1", 100L, 179L, false),   // plain uptime
      ("h2", 120L, 129L, true))               // downtime BEFORE any uptime
    val b2 = Seq(("h1", 140L, 159L, true),    // punches a hole in h1
      ("h2", 122L, 126L, false))              // inside downtime: covered 0
    val b3 = Seq(("h1", 140L, 159L, true),    // duplicate: silent
      ("h2", 122L, 126L, false))              // duplicate: silent
    val b4 = Seq(("h2", 180L, 189L, false))   // h2 recovers outside downtime
    try {
      var seen = Seq.empty[(String, Long, Long, Boolean)]
      for (b <- Seq(b1, b2, b3, b4)) {
        in.addData(b: _*); q.processAllAvailable()
        seen = seen ++ b
        assert(lastPerKey == batchAdj(seen),
          s"after batch: $lastPerKey vs ${batchAdj(seen)}")
      }
    } finally q.stop()
    // h2 was downtime-only after b1 (silent), surfaced on b2's
    // inside-downtime uptime with covered 0; the duplicate batch
    // emitted nothing
    assert(got.size == 4, got.toString) // h1 x2 + h2 x2
    assert(lastPerKey("h1") == ((60L, 20L, 100L, 80L, 750000L)))
    assert(lastPerKey("h2") == ((10L, 10L, 100L, 90L, 111111L)))
  }
  test("subtractIntervalsStream: fragment islands == the batch operator " +
      "after every batch; retraction to empty emits a tombstone; " +
      "duplicates silent (VERDICT r12 task 8)") {
    import graft.operators.TimeSeries
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(String, Long, Long, Boolean)]
    val got = scala.collection.mutable.ArrayBuffer[
      (String, Option[Long], Option[Long], Long)]()
    val q = StreamingDedup.subtractIntervalsStream(
        in.toDF().toDF("host", "lo", "hi", "is_down"),
        Seq("host"), "lo", "hi", "is_down")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= b.as[(String, Option[Long], Option[Long], Long)]
          .collect(); ()
      }.start()
    // latest snapshot per key = the max-seq rows, tombstone = empty
    def snapshot = got.groupBy(_._1).view.mapValues { v =>
      val s = v.map(_._4).max
      v.filter(r => r._4 == s && r._2.isDefined)
        .map(r => (r._2.get, r._3.get)).sorted
    }.toMap
    def batchFrags(rows: Seq[(String, Long, Long, Boolean)]) = {
      val up = rows.filter(!_._4).map(r => (r._1, r._2, r._3))
        .toDF("host", "lo", "hi")
      val dn = rows.filter(_._4).map(r => (r._1, r._2, r._3))
        .toDF("host", "lo", "hi")
      TimeSeries.subtractIntervals(up, dn, Seq("host"), "lo", "hi")
        .as[(String, Long, Long)].collect().toSeq
        .groupBy(_._1).view
        .mapValues(_.map(r => (r._2, r._3)).sorted).toMap
    }
    val b1 = Seq(("h1", 100L, 179L, false), // plain coverage
      ("h2", 120L, 129L, false))
    val b2 = Seq(("h1", 140L, 159L, true),  // punches a hole -> 2 islands
      ("h2", 110L, 140L, true))             // swallows h2 -> tombstone
    val b3 = Seq(("h1", 140L, 159L, true))  // duplicate: silent
    val b4 = Seq(("h1", 180L, 200L, false)) // adjacent: right island grows
    try {
      var seen = Seq.empty[(String, Long, Long, Boolean)]
      for (b <- Seq(b1, b2, b3, b4)) {
        in.addData(b: _*); q.processAllAvailable()
        seen = seen ++ b
        val want = batchFrags(seen)
        // the batch operator omits fully-swallowed keys; the stream's
        // tombstone reads as an empty snapshot — compare non-empty
        assert(snapshot.filter(_._2.nonEmpty) == want,
          s"after batch: $snapshot vs $want")
      }
    } finally q.stop()
    // h2's retraction surfaced as a NULL tombstone at its latest seq
    assert(snapshot("h2").isEmpty, got.toString)
    assert(got.exists(r => r._1 == "h2" && r._2.isEmpty))
    // b3 (pure duplicate) emitted nothing: h1's emissions are b1 (1
    // row), b2 (2 rows), b4 (2 rows — the grown right island re-emits
    // with its sibling at the same seq)
    assert(got.count(_._1 == "h1") == 5, got.toString)
    assert(snapshot("h1") == Seq((100L, 139L), (160L, 200L)))
  }

  test("availabilityDowntimeAdjustedStream == batch on the sf0.001 " +
      "events fixture, tagged union replayed in 3 interleaved batches") {
    import graft.operators.TimeSeries
    import org.apache.spark.sql.functions.{col, unix_timestamp}
    implicit val sq = spark.sqlContext
    val ev = graft.sources.Tables.events(spark, sf("sf0.001"))
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
    val rows = ev.select(col("user_id"),
        unix_timestamp(col("ts")).as("lo"),
        (unix_timestamp(col("ts")) + 600L).as("hi"),
        (col("event_type") === "error").as("is_down"))
      .as[(Long, Long, Long, Boolean)].collect().sortBy(r => (r._2, r._1))
    // error events are ALSO 30-minute downtime windows (the
    // q_downtime_adjusted shape: an event is activity; an error event
    // additionally opens maintenance)
    val all = rows.map(r => (r._1, r._2, r._3, false)) ++
      rows.filter(_._4).map(r => (r._1, r._2, r._2 + 1800L, true))
    val batches = (0 until 3).map(i =>
      all.zipWithIndex.collect { case (r, j) if j % 3 == i => r })
    val in = MemoryStream[(Long, Long, Long, Boolean)]
    val last = scala.collection.mutable.Map[
      Long, (Long, Long, Long, Long, Long)]()
    val q = StreamingDedup.availabilityDowntimeAdjustedStream(
        in.toDF().toDF("user_id", "lo", "hi", "is_down"),
        Seq("user_id"), "lo", "hi", "is_down",
        1704412800L, 1705708799L)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.as[(Long, Long, Long, Long, Long, Long)].collect()
          .foreach(r => last(r._1) = (r._2, r._3, r._4, r._5, r._6)); ()
      }.start()
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val e = unix_timestamp(col("ts"))
    val batch = TimeSeries.availabilityDowntimeAdjusted(
        ev.select(col("user_id"), e.as("lo"), (e + 600L).as("hi")),
        ev.filter(col("event_type") === "error")
          .select(col("user_id"), e.as("lo"), (e + 1800L).as("hi")),
        Seq("user_id"), "lo", "hi", 1704412800L, 1705708799L)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(last.toMap == batch,
      s"${last.size} streamed vs ${batch.size} batch keys")
    assert(batch.nonEmpty)
  }
  test("availabilityStream == batch availability on the sf0.001 events " +
      "fixture, arbitrary 3-way batch split") {
    import graft.operators.TimeSeries
    import org.apache.spark.sql.functions.{col, unix_timestamp}
    implicit val sq = spark.sqlContext
    // the q_availability fixture: 10-minute activity intervals per
    // user over the Jan 5-19 window, replayed as a 3-batch stream in
    // a deterministic arbitrary order (sorted by (lo, user) then
    // round-robin split — within-batch disorder AND cross-batch
    // interleaving)
    val iv = graft.sources.Tables.events(spark, sf("sf0.001"))
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), unix_timestamp(col("ts")).as("lo"),
        (unix_timestamp(col("ts")) + 600L).as("hi"))
      .as[(Long, Long, Long)].collect().sortBy(r => (r._2, r._1))
    val batches = (0 until 3).map(i =>
      iv.zipWithIndex.collect { case (r, j) if j % 3 == i => r })
    val in = MemoryStream[(Long, Long, Long)]
    val last = scala.collection.mutable.Map[Long, (Long, Long, Long)]()
    val q = StreamingDedup.availabilityStream(
        in.toDF().toDF("user_id", "lo", "hi"),
        Seq("user_id"), "lo", "hi", 1704412800L, 1705708799L)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.as[(Long, Long, Long, Long)].collect()
          .foreach(r => last(r._1) = (r._2, r._3, r._4)); ()
      }.start()
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val batch = TimeSeries.availability(
        iv.toSeq.toDF("user_id", "lo", "hi"), Seq("user_id"),
        "lo", "hi", 1704412800L, 1705708799L)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(last.toMap == batch,
      s"${last.size} streamed vs ${batch.size} batch keys")
    assert(batch.nonEmpty)
  }
  test("availabilityStream island state survives query restart via " +
      "checkpoint; post-restart interval merges with pre-restart islands") {
    implicit val sq = spark.sqlContext
    val ckpt = tempDir("graftavck").toString
    val out = tempDir("graftavout").toString
    val input = MemoryStream[(String, Long, Long)]
    def start() = StreamingDedup.availabilityStream(
        input.toDF().toDF("host", "lo", "hi"),
        Seq("host"), "lo", "hi", windowLo = 100L, windowHi = 199L)
      .writeStream
      .foreachBatch(StreamingDedup.foreachBatchParquetSink(out) _)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    input.addData(("h1", 100L, 129L)) // island [100,129], 30s
    q1.processAllAvailable()
    q1.stop() // simulated process death
    val q2 = start()
    // merges with the RESTORED island (adjacent), not a fresh one:
    // covered must read 60, not 30
    input.addData(("h1", 130L, 159L))
    q2.processAllAvailable()
    // duplicate of a pre-restart interval: restored state absorbs it
    input.addData(("h1", 100L, 129L))
    q2.processAllAvailable()
    q2.stop()
    val got = spark.read.parquet(out)
      .select($"host", $"covered_s", $"availability_ppm")
      .as[(String, Long, Long)].collect().sortBy(_._2)
    assert(got.toSeq == Seq(("h1", 30L, 300000L), ("h1", 60L, 600000L)),
      got.toSeq.toString)
  }
}
