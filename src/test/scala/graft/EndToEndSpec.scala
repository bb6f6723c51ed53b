package graft

import org.apache.spark.sql.functions._
import graft.model.NagiosModel
import graft.operators.Relational
import graft.pipelines.HostMetrics
import graft.sources.Sinks

/** §3.1 as ONE collapsed DAG, end-to-end: DSv2 rest source (S2) →
  * registry pivot (F8) → completeness gate (P3) → melt → cross-run
  * dedup (J3) → family routing (P4) → partitioned parquet (K6) and
  * JDBC (K4) sinks — the reference's three cron-chained processes in
  * a single lineage.
  */
class EndToEndSpec extends SparkSpec {

  private lazy val endpointDir: String = {
    val d = tempDir("grafte2e")
    def write(host: String, service: String, body: String): Unit =
      java.nio.file.Files.writeString(
        d.resolve(graft.sources.rest.NagiosRestSource.taskFile(host, service)),
        body)
    for (host <- Seq("web01", "web02")) {
      write(host, "CPU Usage",
        """{"data": {"row": [
          |  {"t": "1723402800", "v": "42.123"},
          |  {"t": "1723406400", "v": "NaN"},
          |  {"t": "1723410000", "v": "55.5"}
          |]}}""".stripMargin)
      write(host, "Swap Usage",
        """{"data": {"row": [
          |  {"t": "1723402800", "v": ["1.0", "8.0", "7.0"]},
          |  {"t": "1723406400", "v": ["1.5", "8.0"]}
          |]}}""".stripMargin)
    }
    d.toString
  }

  test("host-metric ETL: rest scan -> pivot -> clean -> dedup -> sinks") {
    val raw = spark.read.format("nagios-rest")
      .option("endpointDir", endpointDir).load()

    // registry-driven pivot + completeness gate per family
    val payload = HostMetrics.longPayload(raw)
    // surviving: CPU 2 pts x2 hosts x1 metric + Swap 1 pt x2 hosts x3 metrics
    assert(payload.count() == 4 + 6)

    // cross-run dedup: previous run saw the first CPU point of web01
    val previous = payload.filter(
      col("host_name") === "web01" && col("service_name") === "CPU Usage" &&
      col("timestamp") === "2024-08-11 19:00:00")
    val fresh = HostMetrics.dedupAgainst(payload, previous)
    assert(fresh.count() == 9)

    // K6: partitioned parquet by metric family
    val outDir = tempDir("grafte2eout").toString
    HostMetrics.writePartitioned(fresh, outDir)
    val back = spark.read.parquet(outDir)
    assert(back.select("metric_family").distinct()
      .as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().toSet == Set("cpu", "swap"))

    // K4: per-family JDBC tables (embedded Derby), host_{family}_usage
    val url = "jdbc:derby:memory:grafte2e;create=true"
    val families = Map(
      "cpu" -> HostMetrics.familyFrame(raw, "CPU Usage"),
      "swap" -> HostMetrics.familyFrame(raw, "Swap Usage"))
    val props = new java.util.Properties()
    HostMetrics.writeJdbc(families, url, props)
    val cpuBack = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "host_cpu_usage").load()
    assert(cpuBack.count() == 4)
    assert(cpuBack.columns.map(_.toLowerCase).toSet ==
      Set("host_name", "timestamp", "service_name", "percent_used"))

    // A-counts attach for free via observe
    assert(Sinks.observed(fresh, "payload").count() == 9)
  }

  test("inventory + fan-out drive the fetch task table (J4 shape)") {
    import spark.implicits._
    val hosts = Seq(("web01", "hostgroup1"), ("web02", "hostgroup1"))
      .toDF("host_name", "host_group")
    val tasks = Relational.fanOut(hosts, NagiosModel.services,
      "service_name")
    assert(tasks.count() == 2 * NagiosModel.services.size)
    // tasks match exactly what the rest source exposes as partitions
    val fetched = spark.read.format("nagios-rest")
      .option("endpointDir", endpointDir).load()
      .join(tasks, Seq("host_name", "service_name"), "left_semi")
    assert(fetched.select("host_name", "service_name").distinct()
      .count() == 4)
  }

  test("LLM curation end-to-end: score -> select -> pack -> write") {
    // the training-data pipeline composed from the public ops, each
    // individually oracled: quality-band the corpus (surprisal), pick
    // the most target-like survivors (DSIR), pack them into
    // token-budget shards, land parquet — then prove determinism by
    // running it twice
    import graft.operators.{Sampling, TextOps}
    val docs = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
    def pipeline() = {
      val quality = TextOps.surprisal(docs, "doc_id", "text")
        .filter(col("surprisal") <= 3.45).select("doc_id")
      val picked = TextOps.dsirLogWeights(docs,
          docs.filter(col("lang") === "en"), "doc_id", "text")
        .join(quality, "doc_id")
        .orderBy(desc("dsir_logw"), asc("doc_id")).limit(100)
      Sampling.shardByBudget(picked, "doc_id", "n_tokens",
        budget = 2000L)
    }
    val out = tempDir("graftcurated").toString
    pipeline().write.mode("overwrite").parquet(out)
    val shards = spark.read.parquet(out)
    assert(shards.count() == 100)
    // survivors come from the corpus, with their true token counts
    val bad = shards.join(docs, "doc_id")
      .filter(TextOps.tokenCount(col("text")).cast("long") =!=
        col("n_tokens")).count()
    assert(bad == 0)
    // budget honored: a shard exceeds 2000 only via a single oversize
    // doc (first-fit semantics: the straddling doc closes the shard)
    import spark.implicits._
    val over = shards.groupBy("shard")
      .agg(sum("n_tokens").as("tok"), count(lit(1)).as("n"))
      .filter(col("tok") > 2000L && col("n") > 1L)
      .join(shards.filter(col("n_tokens") > 2000L)
        .select(col("shard")).distinct(), Seq("shard"), "left_anti")
    // multi-doc shards may straddle the boundary by at most the last
    // doc; none may exceed budget by a whole extra document's worth
    over.as[(Long, Long, Long)].collect().foreach { case (s, tok, _) =>
      assert(tok <= 2000L * 2, s"shard $s packed to $tok")
    }
    // deterministic: the same pipeline lands the same rows
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("n_tokens"), col("shard"))
        .as[(Long, Long, Long)].collect().toSet
    assert(rows(pipeline()) == rows(shards))
  }

  test("SLA dashboard end-to-end: events -> state history -> " +
      "availability + MTTR/MTBF -> ORC archive") {
    // the monitoring readout the reference's dashboards serve,
    // composed from individually-oracled stages and landed in the
    // archive format a Hive/Trino estate reads
    import graft.operators.{Behavior, TimeSeries}
    import graft.sources.Sinks
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, sf("sf0.001"))
    val e = unix_timestamp(col("ts"))
    val avail = TimeSeries.availability(
      ev.filter(col("ts").isNotNull)
        .select(col("user_id"), e.as("lo"), (e + 600L).as("hi")),
      Seq("user_id"), "lo", "hi", 1704412800L, 1705708799L)
    val rel = Behavior.reliability(ev, "user_id", "event_type", "ts",
      "event_id", downState = "error")
    val report = avail.join(rel, Seq("user_id"), "left")
    val out = tempDir("graftsla").toString
    Sinks.writeOrc(report, out)
    val back = Sinks.readOrc(spark, out)
    assert(back.count() == avail.count() && back.count() > 0)
    // ppm stays in [0, 10^6]; every user with failures has a count
    val sane = back.filter(col("availability_ppm") < 0L ||
      col("availability_ppm") > 1000000L ||
      (col("n_failures").isNotNull && col("n_failures") <= 0)).count()
    assert(sane == 0)
    // determinism across the archive round-trip
    val again = avail.join(rel, Seq("user_id"), "left")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select(col("user_id"), col("availability_ppm"),
          col("n_failures"))
        .as[(Long, Long, Option[Long])].collect().toSet
    assert(key(back) == key(again))
  }

  test("incident lifecycle end-to-end: snapshots -> confirmation -> " +
      "flap-suppressed pages -> JDBC alert log") {
    // the full Nagios notification path composed from the round-9
    // tier: confirm problems over retries, schedule pages with
    // interval gating, SUPPRESS pages while the service is flapping
    // (the reason flap detection exists), land the alert log over K4
    import graft.operators.Behavior
    import graft.sources.Sinks
    import spark.implicits._
    val snap = graft.sources.Tables.events(spark, sf("sf0.001"))
      .filter(col("value").isNotNull)
      .withColumn("state",
        when(col("value") < 50, "ok")
          .when(col("value") < 80, "warn").otherwise("crit"))
    val pages = Behavior.notificationSchedule(snap, "user_id", "state",
      "ts", "event_id", okState = "ok", maxAttempts = 3,
      intervalSeconds = 21600L, escalateAfter = 1L)
    val flap = Behavior.flapDetection(snap, "user_id", "state", "ts",
        "event_id", highPct = 20.0, lowPct = 5.0)
      .filter(col("flapping"))
      .select(col("user_id"), col("ts"))
    // a page is suppressed when its check row is inside a flapping
    // window — the left anti join is the suppression
    val sent = pages.join(flap, Seq("user_id", "ts"), "left_anti")
    val (nPages, nSent) = (pages.count(), sent.count())
    assert(nPages > 0 && nSent > 0 && nSent <= nPages,
      s"pages=$nPages sent=$nSent")
    val url = "jdbc:derby:memory:graftalerts;create=true"
    Sinks.writeJdbc(sent.withColumn("ts", col("ts").cast("string")),
      url, "alert_log")
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "alert_log").load()
    assert(back.count() == nSent)
    assert(back.columns.map(_.toLowerCase).sorted.toSeq ==
      Seq("escalated", "notification_no", "state", "ts", "user_id"))
  }
}
