package graft

/** Driver-contract guards: the smoke entry returns rows; every oracle
  * key names a real query; results stay non-empty at the smoke SF
  * (rows-only checks are meaningless on empty output).
  */
class EntrySpec extends SparkSpec {

  test("entry (t1 smoke): flagship query returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a matching query (verify surface = " +
      "queries ++ verifyOnly)") {
    val missing = SparkEntry.oracleSql.keySet --
      SparkEntry.queries.keySet -- SparkEntry.verifyOnly.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("verifyOnly twins: every one is oracled (that is their whole " +
      "point), disjoint from the bench surface, and hashes against " +
      "its sibling's exact SQL") {
    val unoracled =
      SparkEntry.verifyOnly.keySet -- SparkEntry.oracleSql.keySet
    assert(unoracled.isEmpty, s"verifyOnly without oracle: $unoracled")
    assert((SparkEntry.verifyOnly.keySet &
      SparkEntry.queries.keySet).isEmpty)
    assert((SparkEntry.verifyOnly.keySet &
      SparkEntry.benchOnly.keySet).isEmpty)
    SparkEntry.verifyOnly.keySet.foreach { twin =>
      val sib = twin.stripSuffix("_dist")
      assert(SparkEntry.oracleSql(twin) == SparkEntry.oracleSql(sib),
        s"$twin must share $sib's oracle verbatim")
    }
  }

  test("all queries return rows on sf0.001") {
    val sc = spark.sparkContext
    val empty =
      (SparkEntry.queries ++ SparkEntry.benchOnly ++ SparkEntry.verifyOnly)
        .flatMap { case (name, fn) =>
          // one job group per query, as Bench runs them
          sc.setJobGroup(name, name)
          val n = try fn(spark, sf("sf0.001")).count()
            finally sc.clearJobGroup()
          if (n == 0) Some(name) else None
        }
    assert(empty.isEmpty, s"empty results: $empty")
    // the staging registry derived every consumer, and no other
    // query (a base-table read is not a staging): the 25 queries the
    // floor's staging_dependent list once named by hand, the 5 that
    // list missed, the 5 readers of parquet stagings, and the bucketed
    // join, which the hand-kept list and the registry both missed
    val consumers = Set("q_triangles", "q_kcore", "q_triangles_dist",
      "q_kcore_dist", "q_pagerank", "q_personalized_pagerank",
      "q_pagerank_dist", "q_personalized_pagerank_dist", "q_theil_sen",
      "q_theil_sen_sampled", "q_repeated_spans", "q_substring_dedup",
      "q_dup_text_fraction", "q_gram_matrix", "q_pca_power",
      "q_pca_project", "q_pca_whiten", "q_bm25_topk", "q_bm25_pruned",
      "q_minhash_pairs", "q_minhash_dedup", "q_minhash_dedup_cc",
      "q_minhash_dedup_cc_dist", "q_dup_clusters", "q_dup_representatives",
      "q_curation_v2", "q_curation_v3", "q_semdedup_pairs", "q_semdedup",
      "q_split_leakage_safe", "q_minhash_incremental",
      "q_substring_incremental", "q_entity_resolution_incremental",
      "q_boilerplate_incremental", "q_etl_job", "q_multi_join_bucketed")
    val names = (SparkEntry.queries ++ SparkEntry.benchOnly ++
      SparkEntry.verifyOnly).keySet
    val recorded = Staged.consumers & names
    assert(recorded == consumers, s"missed: ${consumers -- recorded}, " +
      s"over-recorded: ${recorded -- consumers}")
  }

  test("staging registry: a new session rebuilds its stagings, the " +
      "old one keeps serving, a released session's root is deleted") {
    def run(group: String, q: String,
        s: org.apache.spark.sql.SparkSession = spark): Unit = {
      spark.sparkContext.setJobGroup(group, group)
      try SparkEntry.queries(q)(s, sf("sf0.001")).count()
      finally spark.sparkContext.clearJobGroup()
    }
    run("registry-warm-1", "q_gram_matrix")
    run("registry-warm-2", "q_gram_matrix")
    assert(!Staged.builtBy("registry-warm-2").contains("gram"))
    val fresh = spark.newSession()
    run("registry-cold", "q_gram_matrix", fresh)
    run("registry-cold", "q_minhash_incremental", fresh)
    assert(Set("gram", "bands").subsetOf(Staged.builtBy("registry-cold")))
    val root = Staged.root(fresh)
    assert(root.list().exists(_.startsWith("bands_")))
    Staged.release(fresh)
    assert(!root.exists(), s"$root survived its session's release")
  }

  /** A copy of sf0.001 in a temp dir, and the path of its part table. */
  private def sfCopy(): (String, java.nio.file.Path) = {
    val copy = tempDir("graftsrc")
    new java.io.File(sf("sf0.001")).listFiles().foreach(f =>
      java.nio.file.Files.copy(f.toPath, copy.resolve(f.getName)))
    (copy.toString, copy.resolve("part.parquet"))
  }

  /** Rewrites a single-file table in place with `rows`. */
  private def rewriteFile(rows: org.apache.spark.sql.DataFrame,
      table: java.nio.file.Path): Unit = {
    val tmp = new java.io.File(table.getParent.toFile, "rewrite")
    rows.coalesce(1).write.parquet(tmp.getPath)
    java.nio.file.Files.move(tmp.listFiles()
      .find(_.getName.endsWith(".parquet")).get.toPath, table,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("staging registry: rewriting a table in the source dir " +
      "rebuilds the staging instead of serving stale rows") {
    val (dir, table) = sfCopy()
    def rows(): Long = Staged(spark, "part_rows", dir)(
      spark.read.parquet(table.toString).count())
    val before = rows()
    // rewrite part.parquet in place with its even-keyed half
    rewriteFile(spark.read.parquet(table.toString)
      .filter("p_partkey % 2 = 0"), table)
    val after = rows()
    assert(after > 0 && after < before, s"$after rows after, $before before")
  }

  test("relation cache: a table rewritten in place is read again, as a " +
      "dir or as a single file, and a staging rebuilt on it reads the " +
      "new rows") {
    import graft.sources.Tables
    val (dir, table) = sfCopy()
    val part = Tables.part(spark, dir)
    val half = spark.createDataFrame(
      part.filter("p_partkey % 2 = 0").collectAsList(), part.schema)
    // the table as a single file, rewritten in place
    assert(part.count() == 200)
    rewriteFile(half, table)
    assert(Tables.part(spark, dir).count() == 100)
    // the table as a Spark output dir, rewritten in place
    java.nio.file.Files.delete(table)
    spark.read.parquet(s"${sf("sf0.001")}/part.parquet").write
      .parquet(table.toString)
    def staged(): Long =
      Staged(spark, "part_rows_via_tables", dir)(Tables.part(spark, dir).count())
    assert(Tables.part(spark, dir).count() == 200 && staged() == 200)
    half.write.mode("overwrite").parquet(table.toString)
    assert(staged() == 100)
    assert(Tables.part(spark, dir).count() == 100)
  }

  test("bucketed tables are stagings: a new session builds its own " +
      "copy under its staging root while the old frame keeps its rows; " +
      "release deletes both; the warehouse is untouched") {
    import graft.sources.Tables
    val dir = sf("sf0.001")
    val wh = new java.io.File(new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath)
    def warehouse = Option(wh.list()).map(_.toSet).getOrElse(Set.empty)
    val before = warehouse
    def orders(s: org.apache.spark.sql.SparkSession, group: String) = {
      spark.sparkContext.setJobGroup(group, group)
      try Tables.bucketed(s, dir, "orders", "o_orderkey", 16)
      finally spark.sparkContext.clearJobGroup()
    }
    val (old, fresh) = (spark.newSession(), spark.newSession())
    val o1 = orders(old, "bucketed-old")
    val n = o1.count()
    assert(n > 0 && (orders(old, "bucketed-old-2") eq o1))
    val o2 = orders(fresh, "bucketed-fresh")
    assert(Staged.builtBy("bucketed-fresh") ==
      Set("bucketed_orders_o_orderkey_16"))
    assert(Staged.builtBy("bucketed-old-2").isEmpty)
    val (r1, r2) = (Staged.root(old), Staged.root(fresh))
    val (f1, f2) = (o1.inputFiles.toSeq, o2.inputFiles.toSeq)
    assert(f1.nonEmpty && f1.forall(_.contains(r1.getPath)), f1)
    assert(f2.nonEmpty && f2.forall(_.contains(r2.getPath)), f2)
    assert(o1.count() == n && o2.count() == n)
    Staged.release(old)
    Staged.release(fresh)
    assert(!r1.exists() && !r2.exists())
    assert((f1 ++ f2).forall(f => !new java.io.File(new java.net.URI(f)).exists()))
    assert(warehouse == before, s"written under $wh")
  }

  test("bench floor artifact min-merges same-fingerprint runs, keeps " +
      "failure sentinels out of the min, resets on surface change") {
    val f = tempDir("graftfloor").resolve("floor.json").toString
    def read() = {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      m.readTree(new java.io.File(f))
    }
    Bench.writeFloor(Map("a" -> 2.0, "b" -> 5.0, "c" -> -1.0), "sfX", f)
    assert(read().get("runs").asLong() == 1L)
    // second run: a slower (old min kept), b faster (new min taken),
    // c succeeds (replaces the failure sentinel)
    Bench.writeFloor(Map("a" -> 3.0, "b" -> 4.0, "c" -> 1.5), "sfX", f)
    val n2 = read()
    assert(n2.get("runs").asLong() == 2L)
    assert(n2.get("queries").get("a").asDouble() == 2.0)
    assert(n2.get("queries").get("b").asDouble() == 4.0)
    assert(n2.get("queries").get("c").asDouble() == 1.5)
    assert(n2.get("value").asDouble() == 7.5)
    // surface change (new query set) => different fingerprint => reset
    Bench.writeFloor(Map("a" -> 9.0, "d" -> 1.0), "sfX", f)
    val n3 = read()
    assert(n3.get("runs").asLong() == 1L)
    assert(n3.get("queries").get("a").asDouble() == 9.0)
  }

  test("bench floor: a run with a failed pass is tainted and leaves " +
      "the floor file unchanged") {
    import org.apache.spark.sql.{DataFrame, SparkSession}
    val f = tempDir("graftfloor").resolve("floor.json")
    Bench.writeFloor(Map("ok" -> 2.0, "flaky" -> 1.0), "sfX", f.toString)
    val before = java.nio.file.Files.readAllBytes(f)
    // fails in pass 1 only, so its best time is a real sample
    var calls = 0
    val benched = Map[String, (SparkSession, String) => DataFrame](
      "ok" -> ((s, _) => s.range(10).toDF()),
      "flaky" -> ((s, _) => {
        calls += 1
        if (calls == 1) throw new IllegalStateException("boom")
        s.range(10).toDF()
      }))
    val (results, failed, perPass) = Bench.timePasses(spark, benched, "sfX", 2)
    assert(failed == Set("flaky") && results("flaky") >= 0)
    Bench.writeFloor(results, "sfX", f.toString, failed = failed)
    assert(java.util.Arrays.equals(java.nio.file.Files.readAllBytes(f),
      before))
    // every pass is kept: null for the failed pass 1, a time for pass 2
    val passes = f.resolveSibling("passes.json")
    Bench.writePasses(perPass, passes.toString)
    val flaky = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(passes.toFile).get("flaky")
    assert(flaky.size() == 2 && flaky.get(0).isNull &&
      flaky.get(1).isNumber && flaky.get(1).asDouble() == results("flaky"))
  }

  test("catalog assembly rejects a duplicated query name, naming it") {
    import graft.catalog.{Catalog, Query}
    def q(name: String) = Query(name, (s, _) => s.range(1).toDF(), "SELECT 1")
    val e = intercept[IllegalArgumentException](
      Catalog.assemble(Seq(q("q_once"), q("q_twice")), Seq(q("q_twice"))))
    assert(e.getMessage.contains("q_twice") &&
      !e.getMessage.contains("q_once"), e.getMessage)
  }

  test("Verify rejects an unknown query name, naming it, before it " +
      "runs or writes anything") {
    val out = tempDir("graftverify").resolve("out")
    val e = intercept[IllegalArgumentException](
      Verify.main(Array(sf("sf0.001"), out.toString, "q1_agg,q1_agg_typo")))
    assert(e.getMessage.contains("q1_agg_typo"), e.getMessage)
    assert(!java.nio.file.Files.exists(out))
  }

  test("benchOnly is disjoint from queries and never oracled") {
    // benchOnly exists precisely because these configurations are
    // approximate by design: an entry drifting into queries/oracleSql
    // would reintroduce an unverifiable correctness row
    assert((SparkEntry.benchOnly.keySet & SparkEntry.queries.keySet).isEmpty)
    assert((SparkEntry.benchOnly.keySet & SparkEntry.oracleSql.keySet).isEmpty)
  }
}
