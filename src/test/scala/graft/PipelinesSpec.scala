package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipelines.{HostInventory, HostMetrics, StatusPoints}

/** End-to-end semantics of the three reference pipelines on the
  * reference-shaped fixtures of FIXTURES.md §B (citations therein).
  */
class PipelinesSpec extends SparkSpec {
  import spark.implicits._

  // ---- B.2: hostgroupmembers document --------------------------------
  test("§3.3 host inventory: explode + IN filter + project") {
    val doc =
      """{"hostgroup": [
        |  {"hostgroup_name": "hostgroup1",
        |   "members": {"host": [{"host_name": "web01"}, {"host_name": "web02"}]}},
        |  {"hostgroup_name": "hostgroup_other",
        |   "members": {"host": [{"host_name": "stray01"}]}}
        |]}""".stripMargin
    val df = spark.read.json(Seq(doc).toDS())
    val got = HostInventory.hostRows(df, Seq("hostgroup1", "hostgroup2"))
      .as[(String, String)].collect().toSet
    assert(got == Set("web01" -> "hostgroup1", "web02" -> "hostgroup1"))
  }

  // ---- B.3: rrdexport responses, both v shapes ----------------------
  private val memBody =
    """{"data": {"row": [
      |  {"t": "1723402800", "v": ["3.50", "15.6", "77.5612", "3.4", "12.1"]},
      |  {"t": "1723406400", "v": ["NaN", "15.6", "80.1", "3.1", "12.5"]},
      |  {"t": "1723410000", "v": ["3.20", "15.6"]}
      |]}}""".stripMargin
  private val cpuBody =
    """{"data": {"row": [
      |  {"t": "1723402800", "v": "42.123"},
      |  {"t": "1723406400", "v": "junk"},
      |  {"t": "garbage-ts", "v": "9.9"}
      |]}}""".stripMargin

  private def responses = Seq(
    ("web01", "Memory Usage", memBody),
    ("web01", "CPU Usage", cpuBody)
  ).toDF("host_name", "service_name", "body")

  test("§3.1 flatten: explode rows, polymorphic v normalized") {
    val flat = HostMetrics.flattenResponses(responses)
    assert(flat.count() == 6)
    // garbage t doesn't crash under ANSI mode — it becomes a null epoch
    // (nulls sort first) and is later dropped by the completeness gate
    val cpu = flat.filter($"service_name" === "CPU Usage")
      .orderBy("epoch").select("values").as[Seq[String]].collect()
    assert(cpu.toSeq == Seq(Seq("9.9"), Seq("42.123"), Seq("junk")))
    val mem = flat.filter($"service_name" === "Memory Usage")
      .orderBy("epoch").select("values").as[Seq[String]].head()
    assert(mem == Seq("3.50", "15.6", "77.5612", "3.4", "12.1"))
  }

  test("§3.1 familyFrame: pivot + round + completeness gate") {
    val flat = HostMetrics.flattenResponses(responses)
    val mem = HostMetrics.familyFrame(flat, "Memory Usage")
    // row 2 (NaN) and row 3 (short list) dropped (extract.py:95-99)
    val rows = mem.collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("timestamp") == "2024-08-11 19:00:00")
    assert(r.getAs[Double]("memory_used_percent") == 77.56) // 2dp round
    // CPU: scalar shape; unparseable "junk" row dropped
    val cpu = HostMetrics.familyFrame(flat, "CPU Usage").collect()
    assert(cpu.length == 1 && cpu.head.getAs[Double]("percent_used") == 42.12)
  }

  test("§3.1 longPayload melts all families; dedup is exact set-diff") {
    val flat = HostMetrics.flattenResponses(responses)
    val long = HostMetrics.longPayload(flat)
    // 1 surviving Memory row x 5 metrics + 1 CPU row x 1 metric
    assert(long.count() == 6)
    // J3: current \ previous; previous = the CPU row -> 5 remain
    val prev = long.filter($"service_name" === "CPU Usage")
    val deduped = HostMetrics.dedupAgainst(long, prev)
    assert(deduped.count() == 5)
    // idempotence: dedup twice == once (SURVEY §5.3)
    assert(HostMetrics.dedupAgainst(deduped, prev).count() == 5)
    // full overlap -> empty
    assert(HostMetrics.dedupAgainst(long, long).count() == 0)
  }

  test("§3.1 routing: family column + partitioned write roundtrip") {
    val flat = HostMetrics.flattenResponses(responses)
    val routed = HostMetrics.routed(HostMetrics.longPayload(flat))
    val fams = routed.select("metric_family").distinct()
      .as[String].collect().toSet
    assert(fams == Set("mem", "cpu"))
    val dir = tempDir("graft").toString
    HostMetrics.writePartitioned(HostMetrics.longPayload(flat), dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 6 &&
      back.columns.contains("metric_family"))
  }

  test("§7.4.2 registry reproduces the reference's casing quirks verbatim") {
    // Free_Gib (not GiB) for "Disk Usage home" ONLY (extract.py:46);
    // Used_Gib for every disk family (extract.py:40-46)
    val home =
      """{"data": {"row": [{"t": "1723402800", "v": ["1.0", "2.0", "3.0"]}]}}"""
    val resp = Seq(("h1", "Disk Usage home", home),
      ("h1", "Disk Usage root", home))
      .toDF("host_name", "service_name", "body")
    val flat = HostMetrics.flattenResponses(resp)
    val homeCols = HostMetrics.familyFrame(flat, "Disk Usage home").columns
    assert(homeCols.contains("Free_Gib") && !homeCols.contains("Free_GiB"))
    assert(homeCols.contains("Used_Gib"))
    val rootCols = HostMetrics.familyFrame(flat, "Disk Usage root").columns
    assert(rootCols.contains("Free_GiB") && rootCols.contains("Used_Gib"))
  }

  // ---- B.5: service-status trio --------------------------------------
  test("§3.2 status points: semi-join, enrich, defaults, drops, maps") {
    val members = Seq(
      ("h1", "URL a"), ("h1", "URL b"), ("h2", "URL c"), ("h3", "URL d"),
      ("h4", "URL e"), ("h5", "URL f")
    ).toDF("host_name", "service_description")

    val status = Seq(
      ("h1", "URL a", "0", "2024-08-11 19:00:00"),   // OK
      ("h1", "URL b", "2", "2024-08-11 19:00:05"),   // CRITICAL
      ("h2", "URL c", "9", "2024-08-11 19:00:10"),   // out of range -> UNKNOWN
      ("h3", "URL d", "1", null),                    // P6 drop (missing last_check)
      ("h4", "URL e", "3", "not-a-timestamp"),       // P7 drop (bad parse)
      ("hX", "URL x", "0", "2024-08-11 19:00:00"),   // non-member -> semi-join drop
      ("h5", "URL f", null, "2024-08-11 19:00:20")   // missing state -> default "3"
    ).toDF("host_name", "service_description", "current_state", "last_check")

    val detailsSchema = StructType(Seq(
      StructField("host_name", StringType),
      StructField("service_description", StringType),
      StructField("display_name", StringType),
      StructField("customvars_map", MapType(StringType, StringType)),
      StructField("customvars_list", StatusPoints.customvarsListType)))
    val details = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("h1", "URL a", "A", Map("FRIENDLYNAME" -> "My URL",
          "CROWNJEWEL" -> "yes"), null),
        Row("h1", "URL b", "B", null,
          Seq(Row("FRIENDLYNAME", "List URL"), Row("CROWNJEWEL", "no"))),
        Row("h2", "URL c", null, null, null)
        // h5/URL f absent entirely -> all defaults
      )), detailsSchema)

    val pts = StatusPoints.points(status, members, details, "m1")
      .orderBy("host_name")
    val got = pts.collect()
    assert(got.length == 4) // h3, h4, hX dropped

    def row(h: String) = got.find(_.getAs[String]("host_name") == h).get
    assert(row("h1").getAs[String]("service_status") == "OK")
    assert(row("h1").getAs[String]("friendlyname") == "My URL")
    assert(row("h1").getAs[String]("crownjewel") == "yes")
    assert(row("h1").getAs[Long]("time") == 1723402800L)
    val h1b = got.filter(_.getAs[String]("service_description") == "URL b").head
    assert(h1b.getAs[String]("friendlyname") == "List URL")
    assert(h1b.getAs[Int]("service_status_numeric") == 2)
    assert(row("h2").getAs[String]("service_status") == "UNKNOWN")
    assert(row("h2").getAs[String]("display_name") == "unknown")
    assert(row("h2").getAs[String]("friendlyname") == "unknown")
    assert(row("h5").getAs[String]("service_status") == "UNKNOWN")
    assert(row("h5").getAs[Int]("service_status_numeric") == 3)
    assert(row("h5").getAs[String]("crownjewel") == "no")

    // K3 audit projection
    assert(StatusPoints.auditRows(pts).columns.toSeq ==
      Seq("host_name", "service_description", "friendlyname", "crownjewel"))

    // K5 point sink: a graft-points file-mode write publishes every
    // point once (endpoint mode and its requireDb precondition are in
    // PointsSinkSpec)
    val out = tempDir("graftk5")
    pts.write.format("graft-points").mode("append")
      .option("path", out.toString)
      .option("measurement", "m1")
      .option("tagCols", "host_name,service_description")
      .option("fieldCols", "service_status_numeric")
      .option("timeCol", "time")
      .save()
    import scala.jdk.CollectionConverters._
    val lines = java.nio.file.Files.list(out).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".lp"))
      .flatMap(java.nio.file.Files.readAllLines(_).asScala).toSeq
    assert(lines.size == 4, lines)
  }
}
