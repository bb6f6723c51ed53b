package graft

import org.apache.spark.sql.functions._
import graft.operators.Layout

/** Z-order clustering: key correctness and the layout property it
  * exists for — per-file min/max boxes shrink on BOTH dimensions.
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("zValue: exact bit interleave") {
    val got = Seq((1, 0), (0, 1), (3, 0), (0, 3), (65535, 65535),
      (21845, 0), (0, 21845))
      .toDF("x", "y")
      .select(Layout.zValue(col("x"), col("y")).as("z"))
      .as[Long].collect().toSeq
    // x fills even bit positions, y odd
    assert(got == Seq(1L, 2L, 5L, 10L, 4294967295L,
      0x11111111L, 0x22222222L))
  }

  test("zValue codegens under a global aggregate (no Janino fallback)") {
    // spark.sql.codegen.fallback=false (SparkSpec) turns any codegen
    // compile failure into a hard error, so this pins the exact shape
    // that used to overflow Janino's method limit and silently fall
    // back: hashAgg_doAggregateWithoutKey over the Morton expression.
    val agg = spark.range(100000).select(
      (col("id") % 65536).cast("int").as("x"),
      ((col("id") * 7) % 65536).cast("int").as("y"))
      .select(Layout.zValue(col("x"), col("y")).as("z"))
      .agg(sum("z").as("s"), max("z").as("m"))
      .head()
    assert(agg.getLong(0) > 0 && agg.getLong(1) > 0)
  }

  test("zValue: recovering even/odd bits returns x and y") {
    val df = spark.range(500).select(
      (col("id") * 2654435761L % 65536).cast("int").as("x"),
      (col("id") * 40503 % 65536).cast("int").as("y"))
    val z = Layout.zValue(col("x"), col("y"))
    val bad = df.select(col("x"), col("y"), z.as("z"))
      .filter(
        Layout.zExtract(col("z"), 0) =!= col("x").cast("long") ||
          Layout.zExtract(col("z"), 1) =!= col("y").cast("long"))
      .count()
    assert(bad == 0)
  }

  test("writeClustered bounds per-file boxes on BOTH dimensions") {
    val n = 20000
    val df = spark.range(n).select(
      (col("id") * 2654435761L % 65536).cast("int").as("x"),
      (col("id") * 40503 % 65536).cast("int").as("y"))
    val numFiles = 16

    def meanExtents(path: String): (Double, Double) = {
      val perFile = spark.read.parquet(path)
        .withColumn("__file", input_file_name())
        .groupBy("__file")
        .agg((max("x") - min("x")).as("xe"), (max("y") - min("y")).as("ye"))
        .agg(avg("xe"), avg("ye")).head()
      (perFile.getDouble(0), perFile.getDouble(1))
    }

    val zDir = tempDir("graftz").toString
    Layout.writeClustered(df, zDir, "x", "y", numFiles)
    val (zx, zy) = meanExtents(zDir)

    // the single-column sort layout: perfect on x, useless on y
    val sDir = tempDir("grafts").toString
    df.repartitionByRange(numFiles, col("x"))
      .sortWithinPartitions(col("x"))
      .write.mode("overwrite").parquet(sDir)
    val (sx, sy) = meanExtents(sDir)

    // z-order: both extents well under the 65536 domain; the x-sorted
    // layout leaves y at (nearly) full domain width
    assert(zx < 65536 * 0.5 && zy < 65536 * 0.5,
      s"z layout boxes too wide: x=$zx y=$zy")
    assert(sy > 65536 * 0.8, s"control layout unexpectedly clustered y=$sy")
    assert(zy < sy * 0.5,
      s"z-order should at least halve the y extent: $zy vs $sy")
    assert(sx < zx, "x-sort must beat z-order on its own column")
  }
}
