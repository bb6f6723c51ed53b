package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{DedupQueries, NagiosQueries}

/** Scaling datapoint tool: no sf1 testdata ships with the harness, so
  * this replicates the sf0.1 FACT tables `factor`× (dimension tables
  * stay fixed — facts grow faster than dims in any real deployment)
  * into a work dir with the harness file layout, then times a headline
  * query subset at both scales. The interesting claim under test:
  * operators whose scale story is "bucketed/banded candidate
  * generation, never all-pairs" (minhash family, jaccard join, CC,
  * metrics ETL) should grow ~linearly in input, not quadratically.
  *
  * Replication preserves workload shape:
  *  - `documents`: ids shift by 10M per copy; every TOKEN gets a
  *    copy-specific suffix, so shingle sets across copies are disjoint
  *    — near-dup density per copy is exactly the original's (naive id
  *    shifts alone would make each doc a `factor`-member near-dup
  *    cluster and the measured workload a different problem);
  *  - `lineitem`/`orders`: orderkeys shift together (join preserved);
  *  - `events`: event ids shift, user ids don't (dim join rates
  *    preserved);
  *  - `embeddings`: vec ids shift (the vec_id < 50 query set stays
  *    copy-0-only).
  *
  * Usage: SPARK_GRAFT_SCALE_FACTOR=10 sbt "runMain graft.ScaleProbe"
  * Output: one line per (query, scale) with wall seconds to stderr and
  * a final JSON summary to stdout; results land in BASELINE.md.
  */
object ScaleProbe {

  private def shifted(df: DataFrame, idCols: Map[String, Long],
      copy: Int): DataFrame =
    idCols.foldLeft(df) { case (d, (c, stride)) =>
      d.withColumn(c, col(c) + lit(stride * copy))
    }

  /** Suffix every whitespace token with a copy tag (copy 0 untouched). */
  private def mangleText(df: DataFrame, textCol: String,
      copy: Int): DataFrame =
    if (copy == 0) df
    else df.withColumn(textCol,
      array_join(transform(split(col(textCol), " "),
        w => concat(w, lit(s"~$copy"))), " "))

  def replicate(spark: SparkSession, srcDir: String, outDir: String,
      factor: Int): Unit = {
    val fs = new java.io.File(outDir)
    fs.mkdirs()
    if (!new java.io.File(fs, "_READY").exists()) {
      def copies(name: String)(f: (DataFrame, Int) => DataFrame): Unit = {
        val base = spark.read.parquet(s"$srcDir/$name.parquet")
        (0 until factor).map(f(base, _)).reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      }
      copies("documents")((d, i) =>
        mangleText(shifted(d, Map("doc_id" -> 10000000L), i), "text", i))
      copies("events")((d, i) => shifted(d, Map("event_id" -> 1000000000L), i))
      copies("lineitem")((d, i) =>
        shifted(d, Map("l_orderkey" -> 1000000000L), i))
      copies("orders")((d, i) => shifted(d, Map("o_orderkey" -> 1000000000L), i))
      copies("embeddings")((d, i) => shifted(d, Map("vec_id" -> 10000000L), i))
      // dims: one copy, unchanged
      Seq("customer", "supplier", "part", "nation", "region").foreach { n =>
        spark.read.parquet(s"$srcDir/$n.parquet")
          .write.mode("overwrite").parquet(s"$outDir/$n.parquet")
      }
      new java.io.File(fs, "_READY").createNewFile()
    }
    // Zipf corpora MATERIALIZE here rather than generating in-query:
    // every other probe row reads parquet, where scan and fixed costs
    // set the 1x floor — a generated corpus has no such floor, so its
    // ratio trends toward the raw linear factor and is not comparable.
    // Sized to the real sf0.1 corpus (≈500k tokens at 1x). Guarded by
    // its own marker so a pre-Zipf replica upgrades in place.
    if (!new java.io.File(fs, "_READY_ZIPF").exists()) {
      zipfCorpus(spark, ZipfDocs, ZipfDocLen, ZipfVocab)
        .write.mode("overwrite").parquet(s"$outDir/zipf_documents_1x.parquet")
      zipfCorpus(spark, ZipfDocs * factor, ZipfDocLen, ZipfVocab)
        .write.mode("overwrite").parquet(s"$outDir/zipf_documents.parquet")
      new java.io.File(fs, "_READY_ZIPF").createNewFile()
    }
    // stopword-preserving RAKE corpus, MATERIALIZED (r10, VERDICT r9
    // task 6): the r8/r9 axis built its 10x corpus inline — a
    // per-token array_contains + suffix transform paid ONLY in the
    // 10x timing (the 1x side was a parquet passthrough), so the
    // measured ratio carried corpus construction, not the RAKE
    // pipeline. Same lesson as the zipf corpora above: both scales
    // must READ, not generate. Guarded by its own marker so a
    // pre-rake replica upgrades in place.
    if (!new java.io.File(fs, "_READY_RAKE").exists()) {
      rakeCorpus(spark, srcDir, factor)
        .write.mode("overwrite").parquet(s"$outDir/rake_documents.parquet")
      new java.io.File(fs, "_READY_RAKE").createNewFile()
    }
  }

  /** `factor` stopword-preserving copies of the source documents:
    * only CONTENT words get the copy suffix, so phrase structure per
    * copy is exactly the original's while the content vocabulary and
    * the distinct-phrase set grow with the corpus — the honest growth
    * axis for RAKE's vocabulary aggregate and phrase join (the
    * generic mangled-documents replica suffixes stopwords too,
    * degenerating every copied doc into one whole-doc phrase run).
    */
  private def rakeCorpus(s: SparkSession, srcDir: String,
      factor: Int): DataFrame = {
    val sw = graft.operators.TextOps.langProfiles("en")
    val swLit = array(sw.map(lit): _*)
    val base = s.read.parquet(s"$srcDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    (0 until factor).map { i =>
      if (i == 0) base
      else base.select(
        (col("doc_id") + 10000000L * i).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => when(array_contains(swLit, lower(t)), t)
            .otherwise(concat(t, lit(s"~$i")))), " ").as("text"))
    }.reduce(_ unionByName _)
  }

  private val ZipfDocs = 5000L
  private val ZipfDocLen = 100
  private val ZipfVocab = 20000

  /** Headline subset: the operators whose 100 TB reshape SCALE.md
    * argues for, plus two baseline aggregates for reference. The
    * minhash family is probed through DIRECT pipeline calls — the
    * SparkEntry entries serve their verified pairs from the per-dir
    * staging memo, which is correct engine behavior but would let the
    * second timed run measure a memo hit instead of the pipeline.
    */
  /** Deterministic Zipf(s≈1) synthetic corpus: token ranks drawn by
    * inverse CDF r = ⌊V^u⌋ with u uniform in [0,1) from a Murmur3
    * hash of (doc, position) — p(rank) ∝ 1/rank, so the head token
    * ("t1") lands in essentially every document. This is the
    * adversarial frequency profile the replicated-documents axis
    * cannot produce: replication suffixes every token per copy, so
    * frequencies stay roughly uniform and a token-keyed straggler
    * would never show. The surprisal family's corpus-count aggregates
    * are probed here under real hot-key pressure; a plan with a
    * token-partitioned window would go superlinear on this axis.
    */
  private def zipfCorpus(s: SparkSession, nDocs: Long, docLen: Int,
      vocab: Int): DataFrame =
    s.range(nDocs).select(col("id").as("doc_id"),
      array_join(transform(sequence(lit(1), lit(docLen)),
        i => concat(lit("t"),
          floor(pow(lit(vocab.toDouble),
            pmod(hash(col("id"), i), lit(1 << 20)).cast("double")
              / (1 << 20))).cast("long").cast("string"))),
        " ").as("text"))

  /** Session intervals over events with per-copy user AND time-range
    * shifts (copy = event_id stride): 10× the sessions over 10× the
    * timeline at constant density — the honest temporal growth axis
    * for the interval operators.
    */
  private def shiftedSessions(s: SparkSession, dir: String): DataFrame = {
    val ev = s.read.parquet(s"$dir/events.parquet")
      .withColumn("_copy",
        floor(col("event_id") / 1000000000L).cast("long"))
      .withColumn("user_id",
        col("user_id") + col("_copy") * 10000000L)
      .withColumn("ts",
        (unix_timestamp(col("ts")) + col("_copy") * 40000000L)
          .cast("timestamp"))
    graft.operators.Behavior.sessionize(ev, "user_id", "ts",
        gapSeconds = 1800L)
      .select(col("user_id"), col("session_no"),
        unix_timestamp(col("session_start")).as("s"),
        unix_timestamp(col("session_end")).as("t"))
      .localCheckpoint(true)
  }

  private def nearDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    docs.unionByName(docs.filter(col("doc_id") < 20)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" near dup suffix")).as("text")))
  }

  private def headline(factor: Int, scaleDir: String)
      : Seq[(String, (SparkSession, String) => DataFrame)] =
    Seq("q1_agg", "q_corr_moments", "q_window_funcs", "q_jaccard_join",
      "q_metrics_etl", "q_dedup_exact", "q_tfidf", "q_knn_ivf_full",
      // round-6 text/curation operators: the LM-scoring family's
      // shuffle volume is (id, token/pair/bucket, count) only — the
      // ratios certify that claim
      "q_surprisal", "q_surprisal_bigram", "q_dsir_weights",
      // round-8 late addition (VERDICT r8 task 7): per-iter assign is
      // a broadcast-centroid row-local argmin, the update a k×dim-cell
      // partial-combined aggregate — both corpus-linear
      "q_kmeans",
      // round-9 operators (no late addition ships without a scale
      // row — the r8 lesson). All per-key-window/fold shapes are
      // LINEAR per key, so the fixed-users replicated-events axis is
      // honest for them (unlike theilSen's quadratic pair join):
      // holt_winters = one fold pass per key; ks_drift = one
      // tie-collapsed window; notifications = three windows on one
      // partitioning; scene_changes = row-local decode + media
      // window; tokenizer_fertility = vocab-sized encode cache
      // (mangled copies grow the vocab 10x — exactly the claim)
      "q_holt_winters", "q_ks_drift", "q_notifications",
      "q_scene_changes", "q_tokenizer_fertility",
      // ab_test = one partial-combined 4-cell aggregate; kaplan_meier
      // = per-user aggregate + per-cohort curve windows (distinct
      // durations grow with the timeline, users with the corpus)
      "q_ab_test", "q_kaplan_meier")
      .map(q => q -> SparkEntry.queries(q)) ++ Seq(
      // leakage-safe split via DIRECT pipeline calls (the SparkEntry
      // entry serves the per-dir pair-staging memo, which would let
      // run 2 time a cache hit — the minhash_cc_full rationale)
      "leakage_split_full" -> ((s: SparkSession, dir: String) => {
        val corpus = nearDupCorpus(s, dir)
        graft.operators.Sampling.leakageSafeSplit(
          corpus.select(col("doc_id")), "doc_id",
          graft.operators.Dedup.minhashNearDupPairs(corpus, "doc_id",
            "text", numHashes = 64, bands = 32, threshold = 0.5),
          Seq("train" -> 90, "val" -> 5, "test" -> 5))
      }),
      // RAKE on a STOPWORD-PRESERVING replication (VERDICT r8 task 7):
      // the generic mangled-documents axis suffixes every token, so
      // copies 1..N-1 contain zero stopwords and each document
      // degenerates into one whole-doc phrase run — a different
      // workload (first measured 11.2x), the q_metrics_etl document-
      // shape lesson again. Here only CONTENT words get the copy
      // suffix: phrase structure per copy is exactly the original's,
      // the content vocabulary grows with the corpus, and the ratio
      // reads the aggregate/join pipeline, not a workload morph.
      "rake_keywords_scale" -> ((s: SparkSession, dir: String) => {
        // both scales READ a materialized corpus (see rakeCorpus):
        // 1x = the source documents, 10x = the staged
        // stopword-preserving replica — the timing covers the RAKE
        // pipeline only, not 10x of inline corpus construction
        val sw = graft.operators.TextOps.langProfiles("en")
        val corpus =
          if (dir == scaleDir)
            s.read.parquet(s"$dir/rake_documents.parquet")
          else s.read.parquet(s"$dir/documents.parquet")
            .select(col("doc_id"), col("text"))
        graft.operators.TextOps.rakeKeywords(corpus, "doc_id", "text",
          sw, minOcc = 5L, maxWords = 6)
      }),
      // the ETL's REAL scale axis: document COUNT grows with the
      // corpus (hosts scale with the events), each document stays
      // fetch-window-bounded — vs q_metrics_etl above, which holds 25
      // hosts and therefore grows each collect_list document 10x (the
      // axis the per-(host,service) connector fan-out exists to avoid)
      "metrics_etl_hosts" -> ((s: SparkSession, dir: String) => {
        val f = if (dir == scaleDir) factor else 1
        NagiosQueries.metricsEtl(s, dir, hosts = 25 * f)
      }),
      // the committed cron-tick job end to end on the same hosts axis
      // (VERDICT r9 task 7): doc count grows with the corpus, each
      // doc stays fetch-window-bounded; the tick adds the stream
      // read, the (empty-sink) bounded dedup, and the partitioned
      // append on top of metrics_etl_hosts' transform pipeline
      "etl_job_hosts" -> ((s: SparkSession, dir: String) => {
        val f = if (dir == scaleDir) factor else 1
        NagiosQueries.etlJobTick(s, dir, hosts = 25 * f)
      }),
      // consolidate-then-fit: the documented production answer for a
      // Theil-Sen series past the pair cap, as a MEASURED row (r10).
      // The replica grows per-user density 10x (event ids shift, ts
      // does not — the hot-series shape): raw fitting would grow the
      // pair set 100x, but consolidating to fixed daily buckets first
      // is one linear map-combined aggregate and the fit then runs on
      // a bounded bucket series at ANY density — the exact arm never
      // approaches its cap. Expected ratio: scan-linear.
      "theil_sen_consolidated_scale" -> ((s: SparkSession, dir: String) => {
        val ev = s.read.parquet(s"$dir/events.parquet")
          .filter(col("user_id").isNotNull && col("ts").isNotNull &&
            col("value").isNotNull)
          .select(col("user_id"),
            unix_timestamp(col("ts")).as("sec"),
            col("value"), col("event_id"))
        val buckets = graft.operators.TimeSeries.consolidate(ev,
          Seq("user_id"), "sec", "value", "event_id",
          Seq("daily" -> 86400L))
        graft.operators.TimeSeries.theilSen(buckets, Seq("user_id"),
          "bucket_start", "v_avg")
      }),
      "minhash_pairs_full" -> ((s: SparkSession, dir: String) =>
        graft.operators.Dedup.minhashNearDupPairs(nearDupCorpus(s, dir),
          "doc_id", "text", numHashes = 64, bands = 32, threshold = 0.5)),
      // direct pipeline calls (the SparkEntry queries serve per-dir
      // memos, which would let run 2 time a cache hit)
      "substring_spans_full" -> ((s: SparkSession, dir: String) => {
        val docs = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"),
            when(col("doc_id") % 5 === 0, concat(col("text"),
              lit(" all rights reserved contact the legal department" +
                " for licensing terms and conditions apply")))
              .otherwise(col("text")).as("text"))
        graft.operators.Dedup.repeatedSpans(docs, "doc_id", "text", k = 8)
      }),
      // SemDeDup's operating point scales nlist with the corpus (the
      // paper runs ~1e5 clusters web-scale) so per-cluster pairing
      // stays bounded — mirror that here, like metrics_etl_hosts
      "semdedup_full" -> ((s: SparkSession, dir: String) => {
        val f = if (dir == scaleDir) factor else 1
        graft.operators.Dedup.semanticDedup(
          s.read.parquet(s"$dir/embeddings.parquet"),
          "vec_id", "embedding", threshold = 0.2, nlist = 8 * f)
      }),
      // the incremental span probe's FULL per-corpus-version cost:
      // stage the window hashes, then cut a batch (2% of docs,
      // id-shifted with novel heads) against them. Staging is the
      // corpus-linear pass; the probe itself is batch-sized (the
      // steady-state tick) — together the row reads the whole
      // stage-once-probe-often pipeline under 10x corpus growth
      "substring_incremental_full" -> ((s: SparkSession, dir: String) => {
        val docs = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
        val path = java.nio.file.Files
          .createTempDirectory("graft_scale_spans").toString
        graft.operators.Dedup.stageSpanHashes(docs, "doc_id", "text",
          path, k = 8)
        val batch = docs.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 100000000L).as("doc_id"),
            concat(lit("batch head "), col("doc_id").cast("string"),
              lit(" says "), col("text")).as("text"))
        graft.operators.Dedup.substringDedupIncremental(batch,
          "doc_id", "text", 8, s.read.parquet(path))
      }),
      // round-12 additions (no late addition ships without a scale
      // row): boilerplate reads the mangled replica — same 20 sources,
      // 10x docs per domain, so the relative-threshold kill list and
      // the per-domain counts grow on the honest axis; the downtime
      // sweep reads 10x intervals per user in the same report window
      // (denser per-key boundary sets, the per-key window contract)
      // r14 (VERDICT r13 task 5): the raw sf0.1 1x side ran ~0.47 s —
      // fixed-cost dominated, so this row flapped over 2.0 on session
      // noise alone. Replicate the corpus 4x on BOTH axes (id-shifted
      // copies over the SAME source set, so per-domain density grows —
      // the honest axis for a relative-threshold kill list) and the
      // denominator measures scaling work instead of session fixed
      // cost; the 10x side still reads 10x the docs per domain.
      "boilerplate_full" -> ((s: SparkSession, dir: String) => {
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val rep = (0 until 4).map(i => docs.select(
            (col("doc_id") + lit(i.toLong * 100000000L)).as("doc_id"),
            col("source"), col("text")))
          .reduce(_ unionByName _)
        // the q_boilerplate corpus mangle, the ONE shared definition
        // (id shift is a multiple of 4, so each copy keeps the
        // every-4th promo line)
        val corpus = DedupQueries.boilerMangle(rep)
        graft.operators.Dedup.stripDomainBoilerplate(corpus, "doc_id",
          "source", "text", minDomainDocs = 5L, minFraction = 0.5)
      }),
      // the serving arm under corpus growth (round 13, the
      // entity_assign_incremental convention): a FIXED 20-doc batch
      // scrubs against the per-(dir, version) STAGED kill list — the
      // corpus-wide counting is paid once in the warm pass exactly as
      // a scheduled restage is in production, and the tick itself
      // touches only the batch plus the batch-domain slice of the
      // staged parquet, so the ratio certifies the
      // tick-scales-with-the-batch claim
      "boilerplate_incremental_scale" ->
        SparkEntry.queries("q_boilerplate_incremental"),
      // per-copy user shifts: 10x keys at constant per-key density,
      // the availability_scale fleet-growth convention
      "downtime_adjusted" -> ((s: SparkSession, dir: String) => {
        val ev = s.read.parquet(s"$dir/events.parquet")
          .filter(col("ts").isNotNull)
          .withColumn("user_id", col("user_id") +
            floor(col("event_id") / 1000000000L).cast("long") * 10000000L)
        val e = unix_timestamp(col("ts"))
        val up = ev.select(col("user_id"), e.as("lo"), (e + 600L).as("hi"))
        val down = ev.filter(col("event_type") === "error")
          .select(col("user_id"), e.as("lo"), (e + 1800L).as("hi"))
        graft.operators.TimeSeries.availabilityDowntimeAdjusted(up, down,
          Seq("user_id"), "lo", "hi", 1704412800L, 1705708799L)
      }),
      // entity resolution on a GENERATED name corpus (parts are a
      // fixed dim in the replica): unique base64 names (64-symbol
      // alphabet — hex's 16 symbols give only 4096 distinct 3-grams,
      // which degenerates gram blocking into huge buckets) + a typo
      // twin for every 10th record, nodes AND typos scale with the
      // factor — gram buckets stay rare-gram-sized, so the pipeline
      // should read ~linear (generated => no scan floor, so the ratio
      // is conservative, the zipfCorpus note)
      "entity_resolution_scale" -> ((s: SparkSession, dir: String) => {
        val f = if (dir == scaleDir) factor else 1
        val recs = s.range(20000L * f).select(col("id").as("rec_id"),
          concat(lit("record "), base64(unhex(md5(col("id")
            .cast("string"))))).as("name"))
        val twins = recs.filter(col("rec_id") % 10 === 0)
          .select((col("rec_id") + 100000000L).as("rec_id"),
            concat(substring(col("name"), 1, 9), lit("z"),
              substring(col("name"), 11, 1000)).as("name"))
        graft.operators.Dedup.resolveEntities(
          recs.unionByName(twins), "rec_id", "name", maxDist = 1)
      }),
      // the serving tick under registry growth: a FIXED 2k-record
      // batch assigns against a registry of 20k·f resolved names —
      // the batch×registry claim says the tick grows with the
      // registry's distinct names (here ~linearly, dominated by the
      // registry-side gram pass), never batch²
      "entity_assign_incremental" -> ((s: SparkSession, dir: String) => {
        val f = if (dir == scaleDir) factor else 1
        val registry = s.range(20000L * f).select(col("id").as("rec_id"),
          concat(lit("record "), base64(unhex(md5(col("id")
            .cast("string"))))).as("name"))
          .withColumn("entity_id", col("rec_id"))
        val batch = s.range(2000L).select(
          (col("id") + 500000000L).as("rec_id"),
          concat(substring(concat(lit("record "),
              base64(unhex(md5((col("id") * 7L).cast("string"))))),
            1, 9), lit("z"),
            substring(concat(lit("record "),
              base64(unhex(md5((col("id") * 7L).cast("string"))))),
            11, 1000)).as("name"))
        graft.operators.Dedup.resolveEntitiesAgainst(batch, registry,
          "rec_id", "name", "entity_id", maxDist = 1)
      }),
      "minhash_cc_full" -> ((s: SparkSession, dir: String) => {
        val corpus = nearDupCorpus(s, dir)
        graft.operators.Dedup.dedupByComponents(corpus, "doc_id",
          graft.operators.Dedup.minhashNearDupPairs(corpus, "doc_id",
            "text", numHashes = 64, bands = 32, threshold = 0.5))
      }),
      // skew-adversarial axis (round-6 verdict task 3): Zipf token
      // frequencies, document count scaling with the factor — the
      // head token appears in ~every doc, so any plan holding a
      // token-keyed unsplittable partition (the round-6 window shape)
      // goes superlinear here while the broadcast-head rewrite stays
      // in the same regime as the replicated-corpus rows. Corpora are
      // MATERIALIZED by replicate() (see there for why reading, not
      // generating, is the comparable measurement).
      "surprisal_zipf" -> ((s: SparkSession, dir: String) =>
        graft.operators.TextOps.surprisal(
          zipfTable(s, dir, scaleDir), "doc_id", "text")),
      "surprisal_bigram_zipf" -> ((s: SparkSession, dir: String) =>
        graft.operators.TextOps.surprisalBigram(
          zipfTable(s, dir, scaleDir), "doc_id", "text")),
      // the tfidf family shares the (doc, token) aggregate shape —
      // probe it under the same hot-token pressure
      "tfidf_zipf" -> ((s: SparkSession, dir: String) =>
        graft.operators.TextOps.tfidf(
          zipfTable(s, dir, scaleDir), "doc_id", "text")),
      // the PRODUCTION surprisal path under Zipf pressure: the LM is
      // frozen once per corpus version (built from the 1x corpus at
      // BOTH scales — a fixed offset), so this row isolates the
      // per-crawl scoring join, where the self-scoring bigram row
      // above also pays the one-time LM-build sort per query
      "surprisal_ref_zipf" -> ((s: SparkSession, dir: String) => {
        val model = graft.operators.TextOps.unigramModel(
          s.read.parquet(s"$scaleDir/zipf_documents_1x.parquet"), "text")
        graft.operators.TextOps.surprisalAgainst(
          zipfTable(s, dir, scaleDir), "doc_id", "text", model)
      }),
      // round-7 additions. IVF-PQ: candidate volume is the contract —
      // ∝ corpus × nprobe/nlist — so the ratio certifies the probe
      // filter keeps working as the corpus grows
      "ivfpq_search" -> ((s: SparkSession, dir: String) => {
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        graft.operators.Similarity.ivfPqSearchTopK(emb,
          emb.filter(col("vec_id") < 20)
            .select(col("vec_id").as("qid"), col("embedding")),
          "vec_id", "embedding", "qid", dim = 64, subspaces = 8,
          codebookSize = 16, nlist = 8, nprobe = 2, k = 10)
      }),
      // frozen-CMS novelty: sketch build is a bounded aggregate, the
      // estimate join is vocab-sized — both should track the corpus
      // linearly with no skewed single-task stage
      "rare_tokens_cms" -> ((s: SparkSession, dir: String) => {
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val sketch = graft.operators.Profiling.countMinSketch(
          docs.filter(col("lang") === "en")
            .select(explode(graft.operators.TextOps.tokens(col("text")))
              .as("t")), "t", depth = 4, width = 512)
        graft.operators.TextOps.rareTokenRatio(docs, "doc_id", "text",
          sketch, depth = 4, width = 512, rareBelow = 50L)
      }),
      // row-local family (CDC chunking, JL projection): no exchange
      // at all — the ratio certifies nothing serializes on the driver
      "cdc_chunks" -> ((s: SparkSession, dir: String) =>
        graft.operators.Dedup.cdcChunks(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
          window = 8, divisor = 16)),
      "random_project" -> ((s: SparkSession, dir: String) =>
        graft.operators.Similarity.randomProject(
          s.read.parquet(s"$dir/embeddings.parquet"), "vec_id",
          "embedding", dimIn = 64, dimOut = 16)),
      // greedy k-center: k−1 corpus passes, each one row-local
      // distance fold + a TakeOrdered(1) argmax — the ratio certifies
      // each pass is scan-bound (no pairwise blowup, no driver state
      // beyond k vectors)
      "kcenter_coreset" -> ((s: SparkSession, dir: String) =>
        graft.operators.Similarity.kCenterCoreset(
          s.read.parquet(s"$dir/embeddings.parquet"), "vec_id",
          "embedding", dim = 64, k = 5)),
      // blocked inverted index under the Zipf axis: the head token's
      // postings are ~every doc — the blocked (token, doc_id mod N)
      // aggregate must spread it; an unblocked (token) group would
      // serialize the head token on one reducer here
      "inverted_index_zipf" -> ((s: SparkSession, dir: String) =>
        graft.operators.TextOps.invertedIndex(
          zipfTable(s, dir, scaleDir), "doc_id", "text",
          nBlocks = 64, minDf = 2L)),
      // PageRank: edges grow with the replicated lineitem; 5 fixed
      // iterations, each one (dst, contrib) aggregate + rank join —
      // the ratio certifies linear-in-edges rounds (hot in-degree is
      // map-side combined, never a window)
      "pagerank_edges" -> ((s: SparkSession, dir: String) => {
        val pairs = s.read.parquet(s"$dir/lineitem.parquet")
          .select(concat(lit("O"), col("l_orderkey")).as("o"),
            concat(lit("S"), col("l_suppkey")).as("p"))
          .distinct()
        // localMaxEdges=0: this axis certifies the DISTRIBUTED path
        // (the 1x graph fits the r13 driver arm, the 10x one does
        // not — a regime flip mid-axis would compare two different
        // algorithms; the spec convention of the CC/FastSV pins)
        graft.operators.Behavior.pageRank(
          pairs.select(col("o").as("src"), col("p").as("dst"))
            .union(pairs.select(col("p").as("src"), col("o").as("dst"))),
          "src", "dst", iters = 5, localMaxEdges = 0L)
      }),
      // sessionization on the HONEST axis: users scale with the data
      // (copy index from the event-id stride re-keys each copy's
      // users), so window partitions stay per-user-bounded — the
      // metrics_etl_hosts rationale applied to the session rollup
      "sessions_users_scale" -> ((s: SparkSession, dir: String) =>
        graft.operators.Behavior.sessionize(
          s.read.parquet(s"$dir/events.parquet")
            .withColumn("user_id", col("user_id") +
              floor(col("event_id") / 1000000000L).cast("long")
                * 10000000L),
          "user_id", "ts", gapSeconds = 1800L)),
      // SLA tier on the users axis (round 8): per-entity islands +
      // rollup must track the fleet linearly, same contract as the
      // sessionize row they share plan shape with
      "availability_scale" -> ((s: SparkSession, dir: String) => {
        val ev = s.read.parquet(s"$dir/events.parquet")
          .filter(col("ts").isNotNull)
          .withColumn("user_id", col("user_id") +
            floor(col("event_id") / 1000000000L).cast("long") * 10000000L)
        val e = unix_timestamp(col("ts"))
        graft.operators.TimeSeries.availability(
          ev.select(col("user_id"), e.as("lo"), (e + 600L).as("hi")),
          Seq("user_id"), "lo", "hi", 1704412800L, 1705708799L)
      }),
      "reliability_scale" -> ((s: SparkSession, dir: String) =>
        graft.operators.Behavior.reliability(
          s.read.parquet(s"$dir/events.parquet")
            .withColumn("user_id", col("user_id") +
              floor(col("event_id") / 1000000000L).cast("long")
                * 10000000L),
          "user_id", "event_type", "ts", "event_id",
          downState = "error")),
      // the sequential-fold pair on the users axis: per-entity
      // collect/fold arrays stay retention-bounded while entities
      // scale with the corpus (the ewma/sessionize argument)
      "cusum_users_scale" -> ((s: SparkSession, dir: String) =>
        graft.operators.TimeSeries.cusum(
          s.read.parquet(s"$dir/events.parquet")
            .withColumn("user_id", col("user_id") +
              floor(col("event_id") / 1000000000L).cast("long")
                * 10000000L),
          Seq("user_id"), Seq("ts", "event_id"), "value",
          target = 50.0, slack = 5.0, threshold = 200.0)),
      "holt_users_scale" -> ((s: SparkSession, dir: String) =>
        graft.operators.TimeSeries.holt(
          s.read.parquet(s"$dir/events.parquet")
            .withColumn("user_id", col("user_id") +
              floor(col("event_id") / 1000000000L).cast("long")
                * 10000000L),
          Seq("user_id"), Seq("ts", "event_id"), "value",
          alpha = 0.25, beta = 0.5)),
      // interval ops on the honest TEMPORAL axis: each replica's
      // users AND time range shift (the corpus grows over time), so
      // per-bucket session density — and with it the overlap join's
      // candidate volume and the sweep's per-time deltas — stays
      // constant while intervals grow 10x. Densifying a FIXED time
      // range instead would grow overlap OUTPUT quadratically by
      // construction (the metrics_etl fixed-host rationale).
      "interval_overlap_scale" -> ((s: SparkSession, dir: String) => {
        val sess = shiftedSessions(s, dir)
        val a = sess.select(col("user_id").as("ua"),
          col("session_no").as("sa"), col("s").as("s_a"),
          col("t").as("t_a"))
        val b = sess.select(col("user_id").as("ub"),
          col("session_no").as("sb"), col("s").as("s_b"),
          col("t").as("t_b"))
        graft.operators.Relational.intervalOverlapJoin(a, b,
            "s_a", "t_a", "s_b", "t_b", binWidth = 3600L)
          .filter(col("ua") < col("ub"))
      }),
      "concurrency_sweep_scale" -> ((s: SparkSession, dir: String) =>
        graft.operators.TimeSeries.concurrencySweep(
          shiftedSessions(s, dir), "s", "t")),
      // LTTB on the users axis: entities scale with the data, each
      // series stays retention-bounded — the per-entity fold must
      // track the corpus linearly (no global state, no giant groups)
      "lttb_users_scale" -> ((s: SparkSession, dir: String) =>
        graft.operators.TimeSeries.lttb(
          s.read.parquet(s"$dir/events.parquet")
            .withColumn("user_id", col("user_id") +
              floor(col("event_id") / 1000000000L).cast("long")
                * 10000000L),
          Seq("user_id"), "ts", "value", "event_id", buckets = 8)),
      // the ADVERSARIAL axis: every event lands in ONE entity, so the
      // whole corpus is a single series 10x longer at 10x. LTTB is
      // sequential per entity, so the compute is one task and the
      // ratio reads the HONEST linear cost of that task (annotated
      // by-construction, the surprisal_bigram_zipf class) — what the
      // row certifies is bounded MEMORY: the streaming pass holds two
      // buckets (~n/(B-2) points), where the former collect_list form
      // held the entire series as one array row and fell over here
      "lttb_hot_entity_scale" -> ((s: SparkSession, dir: String) =>
        graft.operators.TimeSeries.lttb(
          s.read.parquet(s"$dir/events.parquet")
            .withColumn("user_id", lit(0L)),
          Seq("user_id"), "ts", "value", "event_id", buckets = 64)),
      // same axis for the monitoring pair: per-entity windows (rate)
      // and the bounds-join + bucket aggregate (M4) must both stay
      // linear as the fleet grows with the data
      "counter_rate_users_scale" -> ((s: SparkSession, dir: String) =>
        graft.operators.TimeSeries.counterRate(
          s.read.parquet(s"$dir/events.parquet")
            .withColumn("user_id", col("user_id") +
              floor(col("event_id") / 1000000000L).cast("long")
                * 10000000L),
          Seq("user_id", "event_type"), "ts", "value", "event_id")),
      "m4_users_scale" -> ((s: SparkSession, dir: String) =>
        graft.operators.TimeSeries.m4(
          s.read.parquet(s"$dir/events.parquet")
            .withColumn("user_id", col("user_id") +
              floor(col("event_id") / 1000000000L).cast("long")
                * 10000000L),
          Seq("user_id"), "ts", "value", "event_id", buckets = 16)),
      // exact global quantiles: one range-partitioned single-column
      // sort + O(partitions) driver fold — the ratio certifies the
      // sort stays balanced and nothing funnels one reducer
      "rank_select" -> ((s: SparkSession, dir: String) =>
        graft.operators.Profiling.rankSelect(
          s.read.parquet(s"$dir/lineitem.parquet"), "l_extendedprice",
          Seq(0.25, 0.5, 0.9, 0.99))),
      // quantile SKETCH twin: O(k) state + broadcast semi-join back —
      // rank_select's sort is the cost it avoids; the ratio certifies
      // the two-scan shape stays IO-bound
      "sample_quantiles_scale" -> ((s: SparkSession, dir: String) =>
        graft.operators.Profiling.sampleQuantiles(
          s.read.parquet(s"$dir/lineitem.parquet").withColumn("_rid",
            concat_ws(":", col("l_orderkey"), col("l_linenumber"))),
          "_rid", "l_extendedprice", 1024, Seq(0.25, 0.5, 0.9, 0.99))),
      // BM25 under Zipf pressure, on retrieval's honest axes: the
      // CORPUS grows 10x, the query workload stays fixed (copy-0 ids
      // only — the metrics_etl_hosts axis-splitting rationale), and
      // the df ceiling prunes near-zero-idf head terms from candidate
      // generation. Unpruned + both-axes-scaled this measured 3.8-8.9x
      // (queries x head-postings is quadratic BY CONSTRUCTION — every
      // retrieval engine ships the stopword prune for exactly this)
      "bm25_zipf" -> ((s: SparkSession, dir: String) => {
        val docs = zipfTable(s, dir, scaleDir)
        val queries = docs
          .filter(col("doc_id") < 5000 && col("doc_id") % 500 === 0)
          .select(col("doc_id").as("qid"),
            array_join(slice(
              graft.operators.TextOps.tokens(col("text")), 1, 4), " ")
              .as("qtext"))
        graft.operators.TextOps.bm25TopK(docs, "doc_id", "text",
          queries, "qid", "qtext", maxDfFraction = 0.05)
      }),
      // Gram matrix: Θ(dim²) CPU per row into one partial-combined
      // aggregate of dim(dim+1)/2 cells — the ratio certifies the
      // exchange stays cell-bounded and the cost row-linear
      "gram_embed_scale" -> ((s: SparkSession, dir: String) =>
        graft.operators.Similarity.gramMatrix(
          s.read.parquet(s"$dir/embeddings.parquet"), "embedding", 64)),
      // MG heavy hitters under Zipf token pressure: 64 fixed groups,
      // per-group stream grows with the corpus, state stays ≤k per
      // group per task — the head token never funnels one reducer
      // beyond its k-bounded partials
      "freq_items_zipf" -> ((s: SparkSession, dir: String) =>
        graft.operators.Profiling.freqItemsByKey(
          zipfTable(s, dir, scaleDir)
            .select(pmod(col("doc_id"), lit(64)).as("g"),
              explode(graft.operators.TextOps.tokens(col("text")))
                .as("tok")),
          "g", "tok", 32)),
      // Theil–Sen on the users axis: entities scale with the corpus,
      // each series stays retention-bounded (~200 points → ~20k pairs
      // per key) — the per-key quadratic pair fan-out must track the
      // FLEET linearly; the events axis (fixed users, 10x-long
      // series) would be quadratic by construction and is exactly
      // what the maxPointsPerSeries raise now refuses
      "theil_sen_users_scale" -> ((s: SparkSession, dir: String) => {
        val ev = s.read.parquet(s"$dir/events.parquet")
          .withColumn("user_id", col("user_id") +
            floor(col("event_id") / 1000000000L).cast("long")
              * 10000000L)
          .select(col("user_id"),
            unix_timestamp(col("ts")).as("x"), col("value"))
        graft.operators.TimeSeries.theilSen(ev, Seq("user_id"), "x",
          "value")
      }),
      // triangle counting on a Zipf-DEGREE graph (VERDICT r8 task 7):
      // both endpoints drawn by the corpus axis's inverse-CDF Zipf,
      // nodes AND edges scale with the factor (constant mean degree,
      // hub degree grows ~10x, hub-pair dedup rate constant — no
      // saturation distortion). A wedge-enumerating plan would go
      // quadratic at the hub; Schank–Wagner's degree orientation
      // points hub edges at the hub, keeping oriented out-degrees
      // bounded. Generated, not materialized: the O(E) hash-draw cost
      // is noise against the triangle join, so the missing scan floor
      // only makes the ratio conservative (zipfCorpus note).
      // localMaxEdges=0 on both graph rows: the axes certify the
      // DISTRIBUTED wedge join / peel (the 1x graphs fit the r13
      // driver arms, the 10x ones do not — the pagerank_edges rule)
      "triangles_zipf" -> ((s: SparkSession, dir: String) =>
        graft.operators.Behavior.triangleCounts(
          zipfEdges(s, dir, scaleDir, factor), "src", "dst",
          localMaxEdges = 0L)),
      // k-core peel on the same Zipf-degree graph: per-round degree
      // aggregates map-side-combine the hub, the keep list semi-joins
      // back — rounds are data-bounded shells, never a hub window
      "kcore_zipf" -> ((s: SparkSession, dir: String) =>
        graft.operators.Behavior.kCore(
          zipfEdges(s, dir, scaleDir, factor), "src", "dst", k = 3,
          localMaxEdges = 0L)))

  /** Zipf-DEGREE random graph shared by the graph-family probes:
    * both endpoints drawn by the corpus axis's inverse-CDF Zipf,
    * nodes AND edges scale with the factor (constant mean degree, hub
    * degree grows ~10x, hub-pair dedup rate constant — no saturation
    * distortion). Generated, not materialized: the O(E) hash-draw
    * cost is noise against the graph joins, so the missing scan floor
    * only makes ratios conservative (zipfCorpus note).
    */
  private def zipfEdges(s: SparkSession, dir: String, scaleDir: String,
      factor: Int): DataFrame = {
    val f = if (dir == scaleDir) factor else 1
    val nEdges = 200000L * f
    val nodes = 20000L * f
    def zipfNode(seed: Int) =
      floor(pow(lit(nodes.toDouble),
        pmod(hash(col("id"), lit(seed)), lit(1 << 20)).cast("double")
          / (1 << 20))).cast("long")
    s.range(nEdges)
      .select(zipfNode(1).as("src"), zipfNode(2).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct() // simple graph: the build any real pipeline does
  }

  /** Both Zipf corpora live in the scale dir (the 1x twin under a
    * `_1x` name — srcDir is the harness's read-only testdata).
    */
  private def zipfTable(s: SparkSession, dir: String,
      scaleDir: String): DataFrame =
    if (dir == scaleDir) s.read.parquet(s"$scaleDir/zipf_documents.parquet")
    else s.read.parquet(s"$scaleDir/zipf_documents_1x.parquet")

  def main(args: Array[String]): Unit =
    run(sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt)

  /** Also the implementation of Bench's official scale mode
    * (`SPARK_GRAFT_SCALE=10x`): replicate the SF dir `factor`× with
    * id-shifted/token-mangled copies (so dedup/join cardinalities
    * scale honestly, not as `factor` exact clones), then time the
    * headline operators at 1× and `factor`× and emit the per-query
    * ratio — the machine-readable backing for SCALE.md's sublinearity
    * claims.
    */
  def run(factor: Int): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      s"/root/repo/tmp/scale${factor}x")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    val t0 = System.nanoTime()
    replicate(spark, srcDir, outDir, factor)
    System.err.println(f"[scale] replicate: ${(System.nanoTime()-t0)/1e9}%.1f s")

    def time(dir: String,
        fn: (SparkSession, String) => DataFrame): Double = {
      val t = System.nanoTime()
      fn(spark, dir).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t) / 1e9
    }
    // a sub-millisecond 1x timing would emit Infinity/NaN ratios —
    // not valid JSON — so clamp the denominator to the timer's
    // meaningful resolution
    def ratio(b: Double, s: Double): Double = b / math.max(s, 1e-3)
    // optional comma-separated query filter for INCREMENTAL probe
    // runs (new rows merge into the artifact under the documented
    // best-of-3 protocol; re-running all ~30 rows to add 2 would
    // triple the measurement cost for no information)
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").toSet)
    // pass 1 warms codegen at the small scale; report min of 2 timed
    val rows = headline(factor, outDir)
      .filter { case (q, _) => only.forall(_.contains(q)) }
      .map { case (q, fn) =>
      time(srcDir, fn)
      val small = math.min(time(srcDir, fn), time(srcDir, fn))
      val big = math.min(time(outDir, fn), time(outDir, fn))
      System.err.println(
        f"[scale] $q%-22s 1x=$small%6.2f s  ${factor}x=$big%6.2f s  " +
          f"ratio=${ratio(big, small)}%5.2f")
      (q, small, big)
    }
    val js = rows.map { case (q, s, b) =>
      f"""\"$q\":{\"x1\":$s%.3f,\"x$factor\":$b%.3f,\"ratio\":${ratio(b, s)}%.2f}"""
    }.mkString("{", ",", "}")
    val worst = rows.map { case (_, s, b) => ratio(b, s) }.max
    val summary =
      s"""{"metric":"scaleprobe","factor":$factor,"n":${rows.size},""" +
        s""""sf":"$srcDir",""" + f""""worst_ratio":$worst%.2f,"queries":$js}"""
    println(summary)
    // same stdout-tail hazard as the flat bench (sbt's [success] line
    // follows the JSON): the machine-readable copy goes to a fixed
    // side file (BASELINE.md protocol v4)
    val side = java.nio.file.Paths.get("target/scale_summary.json")
    java.nio.file.Files.createDirectories(side.getParent)
    java.nio.file.Files.write(side,
      (summary + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
