package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.DedupQueries

/** Scratch decomposition of q_minhash_incremental (round 8, VERDICT
  * task 3): times the probe's internal jobs separately to attribute
  * the r6→r7 flat-bench movement (1.34 s → 2.27 s).
  */
object ProfileIncr {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dir = "/root/testdata/sf0.1"
    def t[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"[incr] $tag%-22s ${(System.nanoTime()-t0)/1e9}%6.2f s")
      r
    }
    for (pass <- 1 to 3) {
      System.err.println(s"--- pass $pass ---")
      val docs = sources.Tables.documents(spark, dir).select("doc_id", "text")
      val batch = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" near dup suffix")).as("text"))
      // the staged read (includes the session's one-time staging in pass 1)
      val staged = t("staged_read") {
        val d = DedupQueries.stagedHistoryBands(spark, dir)
        d.count(); d
      }
      t("scheme_check") {
        staged.agg(min(col("shingle_k")), max(col("shingle_k")),
          min(col("num_hashes")), max(col("num_hashes")),
          min(col("bands")), max(col("bands"))).collect()
      }
      // inline decomposition of the probe's internal actions (same
      // code path as minhashNearDupPairsIncremental, staged apart)
      val newBands = t("p1_new_bands") {
        val nb = operators.Dedup.bandKeyRows(batch, "doc_id", "text",
            5, 64, 32)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        nb.count(); nb
      }
      val cand = t("p2_candidates") {
        val probeBuckets = newBands.select("band", "bucket").distinct()
        val all = staged.select("id", "band", "bucket")
          .unionByName(newBands)
          .join(broadcast(probeBuckets), Seq("band", "bucket"))
        val dense = all.groupBy("band", "bucket")
          .agg(count(lit(1)).as("n")).filter(col("n") <= 1000)
          .select("band", "bucket")
        val a = newBands.select(col("band"), col("bucket"),
          col("id").as("id_a"))
        val b = all.join(dense, Seq("band", "bucket"))
          .select(col("band"), col("bucket"), col("id").as("id_b"))
        val c = a.join(b, Seq("band", "bucket"))
          .filter(col("id_a") =!= col("id_b"))
          .select(least(col("id_a"), col("id_b")).as("id_a"),
            greatest(col("id_a"), col("id_b")).as("id_b"))
          .distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        System.err.println(s"[incr]   nCandidates=${c.count()}")
        c
      }
      t("p3_verify") {
        operators.Dedup.verifyCandidatePairs(cand,
            docs.unionByName(batch), "doc_id", "text", 5, 0.5,
            1000000L, cand.count())
          .localCheckpoint(true)
      }
      newBands.unpersist(false); cand.unpersist(false)
      val full = t("full_probe") {
        operators.Dedup.minhashNearDupPairsIncremental(
          batch, docs.unionByName(batch), staged,
          "doc_id", "text", shingleK = 5, numHashes = 64, bands = 32,
          threshold = 0.5)
      }
      t("round+noop") {
        full.select(col("id_a"), col("id_b"),
            round(col("jaccard"), 4).as("jaccard"))
          .write.mode("overwrite").format("noop").save()
      }
    }
    spark.stop()
  }
}
