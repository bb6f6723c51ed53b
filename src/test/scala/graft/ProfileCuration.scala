package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.TextQueries

/** Splits q_curation_v5's wall time into (a) logical construction,
  * (b) analysis+optimization+physical planning (executedPlan force),
  * (c) execution via the noop sink — to test whether the ~2.5k-line
  * static plan's per-action planning overhead is a real share of the
  * bench row. Scratch profiler, not part of the bench surface.
  */
object ProfileCuration {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def t[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(
        f"[cur] $tag%-28s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      r
    }

    for (pass <- 1 to 4) {
      System.err.println(s"--- pass $pass ---")
      val df = t("construct")(
        SparkEntry.queries("q_curation_v5")(spark, dir))
      t("plan (executedPlan)")(df.queryExecution.executedPlan)
      t("execute (noop)")(
        df.write.mode("overwrite").format("noop").save())
    }

    // arm B: same pipeline, but the k=100 survivor frame is cut out of
    // the static plan via an eager localCheckpoint before the final
    // text pass — end-to-end timing (checkpoint included) so the arms
    // compare like bench rows
    import org.apache.spark.sql.functions._
    import graft.operators.TextOps
    def armB(): DataFrame = {
      val docs = graft.sources.Tables.documents(spark, dir)
      val band = TextOps.surprisal(docs, "doc_id", "text")
        .filter(col("surprisal").between(3.39, 3.41))
        .select(col("doc_id"), col("n_tokens"))
      val reps = docs
        .select(sha2(col("text"), 256).as("__h"), col("doc_id"))
        .groupBy(col("__h")).agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val base = docs.select(col("doc_id"), col("lang"))
        .join(reps, "doc_id").join(band.select("doc_id"), "doc_id")
      val kept = graft.operators.Sampling
        .temperatureRebalance(base, "doc_id", "lang")
        .filter(col("kept")).select("doc_id")
      val sel = graft.operators.Sampling.weightedSample(
        band.select(col("doc_id"),
            col("n_tokens").cast("long").as("weight"))
          .join(kept, "doc_id"),
        "doc_id", "weight", k = 100)
        .localCheckpoint(true)
      val selW = broadcast(sel.select(col("doc_id"), col("weight")))
      TextOps.mergePhrases(
          docs.join(selW, "doc_id"), "doc_id", "text",
          TextQueries.phraseTable)
        .join(selW, "doc_id")
        .select(col("doc_id"), col("weight"), col("text_merged"),
          col("n_merged"))
    }
    for (pass <- 1 to 4) {
      System.err.println(s"--- armB pass $pass ---")
      val df = t("B construct (+checkpoint)")(armB())
      t("B plan (executedPlan)")(df.queryExecution.executedPlan)
      t("B execute (noop)")(
        df.write.mode("overwrite").format("noop").save())
    }
    spark.stop()
  }
}
