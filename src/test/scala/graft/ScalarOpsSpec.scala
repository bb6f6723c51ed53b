package graft

import org.apache.spark.sql.functions._
import graft.functions.ScalarOps

/** F1–F14 scalar semantics, pinned to the reference's behaviors
  * (NaN→null, 2-dp rounding, defaults on missing keys, epoch↔string
  * round-trip). Citations in ScalarOps.
  */
class ScalarOpsSpec extends SparkSpec {
  import spark.implicits._

  test("F1 parseRound2: parse-or-null, NaN->null, 2dp round") {
    val got = Seq("3.456", "NaN", "abc", "77.5612", "12", null)
      .toDF("v").select(ScalarOps.parseRound2($"v").as("r"))
      .collect().map(r => Option(r.get(0)))
    assert(got.toSeq == Seq(Some(3.46), None, None, Some(77.56),
      Some(12.0), None))
  }

  test("F1 parseRound2 rounds the exact binary value half-even, as " +
      "the reference's float(f\"{v:.2f}\") does") {
    // 2.675 and 1.005 are stored just below the half-way point, 0.125
    // and 0.375 exactly on it; half-up on the shortest decimal (Spark's
    // round) gives 2.68, 1.01, 0.13, 0.38
    val got = Seq("2.6750000000e+00", "1.0050000000e+00",
      "1.2500000000e-01", "0.375", "-2.675")
      .toDF("v").select(ScalarOps.parseRound2($"v").as("r"))
      .as[Double].collect().toSeq
    assert(got == Seq(2.67, 1.0, 0.12, 0.38, -2.67))
  }

  test("F2/F3 epoch <-> datetime2 round-trip at second precision") {
    val epochs = Seq(0L, 1723402800L, 1723406455L)
    val got = epochs.toDF("e")
      .select(ScalarOps.epochToDatetime2($"e").as("s"))
      .select($"s", ScalarOps.datetime2ToEpoch($"s").as("back"))
      .as[(String, Long)].collect()
    assert(got.map(_._2).toSeq == epochs)
    assert(got.head._1 == "1970-01-01 00:00:00")
    assert(got(1)._1 == "2024-08-11 19:00:00")
  }

  test("F2 is null outside years 0001-9999 instead of overflowing") {
    val epochs = Seq(-62135596800L, 253402300799L, -62135596801L,
      253402300800L, 99999999999999999L, Long.MinValue)
    val got = epochs.map(Option(_)).toDF("e")
      .select(ScalarOps.epochToDatetime2($"e")).as[Option[String]].collect()
    assert(got.toSeq == Seq(Some("0001-01-01 00:00:00"),
      Some("9999-12-31 23:59:59"), None, None, None, None))
  }

  test("F4/F5 status maps: bijection on 0-3, defaults outside") {
    val got = Seq("0", "1", "2", "3", "7", null).toDF("c")
      .select(ScalarOps.statusText($"c").as("t"))
      .select($"t", ScalarOps.statusNumeric($"t").as("n"))
      .as[(String, Int)].collect().toSeq
    assert(got == Seq("OK" -> 0, "WARNING" -> 1, "CRITICAL" -> 2,
      "UNKNOWN" -> 3, "UNKNOWN" -> 3, "UNKNOWN" -> 3))
    // text outside the enum -> -1 (url...py:108)
    val bad = Seq("garbage").toDF("t")
      .select(ScalarOps.statusNumeric($"t")).as[Int].head()
    assert(bad == -1)
  }

  test("F6/F7 family routing predicate + derived family column") {
    val got = Seq("CPU Usage", "Memory Usage", "Disk Usage root",
        "Swap Usage", "Uptime").toDF("s")
      .select(ScalarOps.metricFamily($"s").as("f"))
      .collect().map(r => Option(r.getString(0))).toSeq
    assert(got == Seq(Some("cpu"), Some("mem"), Some("disk"),
      Some("swap"), None))
  }

  test("F8 zipToColumns: positional mapping, short array -> nulls") {
    val keys = Seq("a", "b", "c")
    val df = Seq(Seq("1.004", "2", "3"), Seq("9.9")).toDF("values")
    val got = df.select(ScalarOps.zipToColumns($"values", keys): _*)
      .collect()
    assert(got(0).toSeq == Seq(1.0, 2.0, 3.0))
    assert(Option(got(1).get(1)).isEmpty && Option(got(1).get(2)).isEmpty)
  }

  test("F10 customVar: both shapes + defaults") {
    import graft.pipelines.StatusPoints
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(Map("FRIENDLYNAME" -> "My URL"), null),
        org.apache.spark.sql.Row(null,
          Seq(org.apache.spark.sql.Row("FRIENDLYNAME", "ListName"))),
        org.apache.spark.sql.Row(null, null))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("m",
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType)),
        org.apache.spark.sql.types.StructField("l",
          StatusPoints.customvarsListType))))
    val got = df.select(
      ScalarOps.customVar($"m", $"l", "FRIENDLYNAME", "unknown").as("f"),
      ScalarOps.customVar($"m", $"l", "CROWNJEWEL", "no").as("c"))
      .as[(String, String)].collect().toSeq
    assert(got == Seq("My URL" -> "no", "ListName" -> "no",
      "unknown" -> "no"))
  }

  test("F10 customVar: duplicate names in list shape -> last wins (no crash)") {
    import graft.pipelines.StatusPoints
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(null,
          Seq(org.apache.spark.sql.Row("FRIENDLYNAME", "first"),
            org.apache.spark.sql.Row("FRIENDLYNAME", "second"))))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("m",
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType)),
        org.apache.spark.sql.types.StructField("l",
          StatusPoints.customvarsListType))))
    val got = df.select(ScalarOps.customVar($"m", $"l", "FRIENDLYNAME",
      "unknown")).as[String].head()
    assert(got == "second") // reference dict comprehension is last-wins
  }
}
