package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan shape assertions (SURVEY §4): the optimizations the
  * engine relies on at 100 TB must actually appear in the plans —
  * pushdown to the scan, broadcast joins for dims, partial
  * aggregation, TakeOrderedAndProject for top-k, no shuffle on
  * scan-level pipelines.
  */
class PlanSpec extends SparkSpec {

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private val dir = sf("sf0.001")

  test("filter + projection push down to parquet scan") {
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_quantity") > 30)
      .select("l_orderkey", "l_quantity")
    val plan = physical(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"),
      s"missing pushed filter:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"scan not pruned to 2 columns:\n$plan")
  }

  test("status-enrich pipeline: dims broadcast, fact side not shuffled") {
    val df = SparkEntry.queries("q_status_enrich")(spark, dir)
    val plan = physical(df)
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the only exchanges are broadcast exchanges: the event stream
    // itself never hash-repartitions
    val shuffles = "ShuffleExchange|Exchange hashpartitioning".r
      .findAllIn(plan).size
    assert(shuffles == 0, s"fact side shuffled:\n$plan")
  }

  test("multi-join keeps small dims broadcast, big join shuffled once each") {
    val df = SparkEntry.queries("q_multi_join")(spark, dir)
    val plan = physical(df)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("bucketed multi-join: the big join itself plans zero exchange") {
    // at sf0.001 orders would broadcast, hiding the layout win; at
    // 100 TB neither side broadcasts — that regime is what's asserted
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q_multi_join_bucketed")(spark, dir)
      val plan = physical(df)
      // the only exchange is the final (tiny) aggregation on
      // o_orderpriority; the lineitem⋈orders join reads co-bucketed
      // tables and never shuffles
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).toSeq
      assert(exchanges.size == 1,
        s"expected 1 agg exchange, got ${exchanges.size}:\n$plan")
      assert(plan.contains("SortMergeJoin"), plan)
      assert(plan.contains("Bucketed: true"), plan)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("q1 aggregation is partial+final hash aggregate") {
    val df = SparkEntry.queries("q1_agg")(spark, dir)
    val plan = physical(df)
    // map-side combine: two HashAggregate levels around one exchange
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("global sort plans a range exchange; window funcs one hash exchange") {
    val sorted = SparkEntry.queries("q_global_sort")(spark, dir)
    val sortedPlan = physical(sorted)
    assert(sortedPlan.contains("rangepartitioning"), sortedPlan)
    val wf = SparkEntry.queries("q_window_funcs")(spark, dir)
    val wfPlan = physical(wf)
    // all four window functions share one exchange + one sort
    assert("Exchange hashpartitioning".r.findAllIn(wfPlan).size == 1, wfPlan)
    assert(wfPlan.contains("Window"), wfPlan)
  }

  test("topK plans TakeOrderedAndProject (no full sort-shuffle)") {
    val df = SparkEntry.queries("q_topk_orders")(spark, dir)
    val plan = physical(df)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("GlobalSort"), plan)
  }

  test("semi join stays broadcast (membership filter never shuffles fact)") {
    val df = SparkEntry.queries("q_semi_join")(spark, dir)
    val plan = physical(df)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      plan)
  }

  test("curation pipeline: two exchanges (dedup hash + final agg), codegen scoring") {
    val df = SparkEntry.queries("q_curation")(spark, dir)
    val plan = physical(df)
    // exactByContent groupBy(sha2) is one hash exchange; the winners
    // semi-join broadcasts; per-language aggregation is the second —
    // the scoring (langId + TextStats) never shuffles
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 2, s"expected 2 exchanges, got $shuffles:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"dedup semi-join should broadcast:\n$plan")
  }

  test("consolidate: multi-resolution rollup is one exchange, partial+final agg") {
    val df = SparkEntry.queries("q_consolidate")(spark, dir)
    val plan = physical(df)
    // the resolution fan-out (explode of a literal map) happens
    // map-side; the only shuffle carries (key, resolution, bucket)
    // partials — R separate groupBys would scan and shuffle R times
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1, s"expected 1 exchange, got $shuffles:\n$plan")
    assert(plan.contains("partial_"),
      s"no map-side partial aggregation:\n$plan")
  }

  test("round-9 monitoring/stats tier: exchange budgets hold " +
      "(the Scaladoc shape claims, pinned)") {
    def hashEx(q: String): Int = {
      val plan = physical(SparkEntry.queries(q)(spark, dir))
      "Exchange hashpartitioning".r.findAllIn(plan).size
    }
    // flap + hard/soft: ONE key exchange each — every window reads
    // the same per-key total order
    assert(hashEx("q_flap_detect") == 1)
    assert(hashEx("q_hard_state") == 1)
    // notifications: the ENTIRE chain (confirmation fill + episode
    // islands + slot picks + ordinal) still ONE exchange — every
    // window's partition keys are supersets of the base key, so
    // HashPartitioning(key) satisfies them all
    assert(hashEx("q_notifications") == 1)
    // A/B: one partial-combined aggregate, nothing else
    assert(hashEx("q_ab_test") == 1)
    // KS: the (key, value) tie-collapse + the key window — the
    // value-collapse exchange cannot serve the key window (same-key
    // rows span partitions under (key, value) hashing)
    assert(hashEx("q_ks_drift") == 2)
    // Kaplan–Meier: subject build + (cohort, duration) collapse +
    // curve stages — the LATER exchanges carry only distinct-duration
    // curve rows; collapsing to hash(cohort) up front would strangle
    // the subject-stage parallelism to |cohorts| partitions
    assert(hashEx("q_kaplan_meier") == 3)
  }

  test("curation_v5 composition: no exchange ever carries the text " +
      "column; survivors broadcast back for the final text pass (r12)") {
    // the r11 shape shuffled raw document text on SIX doc_id
    // SortMergeJoins — at 100 TB that ships the whole corpus body
    // through every inter-stage exchange. The rewrite groups
    // representatives on the 32-byte content digest, threads only
    // (doc_id, lang, weight) between stages, and broadcasts the k=100
    // survivor set for the final merge pass, so text stays inside its
    // scan stages end to end.
    for (q <- Seq("q_curation_v4", "q_curation_v5")) {
      val df = SparkEntry.queries(q)(spark, dir)
      val exec = df.queryExecution.executedPlan
      val offenders = exec.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.output.exists(_.name == "text") => e
      }
      assert(offenders.isEmpty,
        s"$q: text column crossed ${offenders.size} exchange(s):\n$exec")
    }
    // and the final text pass joins the survivor set as a broadcast —
    // never a corpus-wide SortMergeJoin on the text side
    val plan = physical(SparkEntry.queries("q_curation_v5")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"),
      s"survivor set did not broadcast:\n$plan")
  }

  test("bloom decontamination probes map-side, before any exchange") {
    val df = SparkEntry.queries("q_decontaminate_bloom")(spark, dir)
    // AdaptiveSparkPlanExec is a LEAF node — collect() stops at it;
    // unwrap to the current inner plan
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    // the sketch probe must sit in the corpus scan's own stage: no
    // shuffle below the probing Filter, so the 100 TB side ships only
    // sketch survivors
    val probes = exec.collect {
      case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.toString.contains("bloom_might_contain") => f
    }
    assert(probes.nonEmpty, s"no bloom probe in plan:\n$exec")
    probes.foreach { f =>
      val below = f.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(below.isEmpty,
        s"bloom probe has a shuffle below it (probes post-exchange):\n$exec")
    }
  }

  test("surprisal: no exchange ever carries text; N joins as broadcast") {
    val df = graft.operators.TextOps.surprisal(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val shuffles = exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.nonEmpty) // (doc, token) count + head-vocab agg + doc agg
    // the scale contract: only ids, tokens and counts shuffle — the
    // document text stays inside the scan's own stage
    shuffles.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"text column crossed an exchange:\n$exec")
    }
    // the corpus total N is a 1-row broadcast, never a shuffled join
    assert(exec.toString.contains("BroadcastNestedLoopJoin") ||
      exec.toString.contains("BroadcastExchange"), exec.toString)
  }

  test("surprisal family: no window keyed on a token column (Zipf-skew contract)") {
    // the round-6 shape put corpus counts in sum() OVER
    // (PARTITION BY token): a window partition cannot be split, so
    // the head token of a web corpus — present in essentially every
    // document — would land on ONE task. The rewrite aggregates to a
    // bounded table and broadcasts a top-k head vocabulary back; the
    // physical plan must carry NO WindowExec at all, and the head
    // tables must arrive as broadcast joins.
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    for ((df, wantsBroadcast) <- Seq(
        graft.operators.TextOps.surprisal(docs, "doc_id", "text") -> true,
        graft.operators.TextOps.surprisalBigram(docs, "doc_id", "text") -> true,
        // tfidf reports exact df so its count table joins (AQE-skew-
        // splittable) rather than broadcasting a floored head — the
        // no-window contract is the same
        graft.operators.TextOps.tfidf(docs, "doc_id", "text") -> false)) {
      val exec = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val windows = exec.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.isEmpty,
        s"window exchange in the plan (unsplittable on a skewed token key):\n$exec")
      if (wantsBroadcast)
        assert(exec.toString.contains("BroadcastHashJoin"),
          s"head-vocab table did not broadcast:\n$exec")
    }
  }

  test("pq search: vectors never cross an exchange; codebook and LUT broadcast") {
    // the whole point of PQ at scale: after the in-stage encode, the
    // corpus moves only as (id, subspace, code) — any exchange
    // shipping an array column would mean vectors leaked into the
    // shuffle
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding"))
    val df = graft.operators.Similarity.pqSearchTopK(emb, queries,
      "vec_id", "embedding", "qid", dim = 64, subspaces = 8,
      codebookSize = 16, k = 10)
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.foreach { e =>
      val arrays = e.output.filter(_.dataType
        .isInstanceOf[org.apache.spark.sql.types.ArrayType])
      assert(arrays.isEmpty,
        s"vector/array column crossed an exchange (${arrays.map(_.name)}):\n$exec")
    }
    assert(exec.toString.contains("BroadcastHashJoin"), exec.toString)
  }

  test("ivfPq search: vectors never cross an exchange; probes and LUT " +
      "broadcast") {
    // the composed IVF-PQ inherits both contracts: PQ's (corpus moves
    // only as ids/buckets/codes after the in-stage encodes) and IVF's
    // (the probe filter is a broadcast join, never a shuffle of the
    // corpus against query state)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding"))
    val df = graft.operators.Similarity.ivfPqSearchTopK(emb, queries,
      "vec_id", "embedding", "qid", dim = 64, subspaces = 8,
      codebookSize = 16, nlist = 8, nprobe = 2, k = 10)
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.foreach { e =>
      val arrays = e.output.filter(_.dataType
        .isInstanceOf[org.apache.spark.sql.types.ArrayType])
      assert(arrays.isEmpty,
        s"vector/array column crossed an exchange (${arrays.map(_.name)}):\n$exec")
    }
    assert(exec.toString.contains("BroadcastHashJoin"), exec.toString)
  }

  test("weightedSample plans a TakeOrdered partial top-k, not a global sort") {
    // orderBy+limit at sane k must become TakeOrderedAndProject
    // (per-partition heaps, k rows to the driver) — a global
    // range-sort of the whole corpus for a 50-row sample would be the
    // anti-pattern
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        graft.operators.TextOps.tokenCount(col("text")).cast("long")
          .as("weight"))
    val df = graft.operators.Sampling.weightedSample(
      docs, "doc_id", "weight", k = 50)
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    assert(exec.toString.contains("TakeOrderedAndProject"),
      s"no TakeOrderedAndProject in:\n$exec")
    val sorts = exec.collect {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s
    }
    assert(sorts.isEmpty, s"global sort for a top-k sample:\n$exec")
  }

  test("temperatureRebalance: stratum stats broadcast; text never shuffles") {
    val df = graft.operators.Sampling.temperatureRebalance(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "lang")
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"text column crossed an exchange:\n$exec")
    }
    // counts + min arrive at the stream as broadcasts, so the main
    // document stream itself is never re-partitioned
    assert(exec.toString.contains("BroadcastHashJoin"), exec.toString)
  }

  test("dsir: log-ratio table broadcasts; no exchange carries text") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.operators.TextOps.dsirLogWeights(docs,
      docs.filter(col("lang") === "en"), "doc_id", "text")
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"text column crossed an exchange:\n$exec")
    }
    // the ≤buckets-row ratio table must reach the tf stream as a
    // broadcast hash join, not a shuffled join
    assert(exec.toString.contains("BroadcastHashJoin"), exec.toString)
  }

  test("shardByBudget plans no single-partition window (distributed prefix sum)") {
    // the round-2 form ran the whole corpus through one global
    // Window.orderBy task; the two-pass path must plan only
    // partitioned windows (materialize=false keeps the plan
    // inspectable — the default checkpoints it away)
    import graft.operators.{Sampling, TextOps}
    val weighted = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
    val df = Sampling.shardByBudget(weighted, "doc_id", "n_tokens",
      budget = 5000L, materialize = false)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "expected a per-partition running-sum window")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      s"unpartitioned window survives:\n${df.queryExecution.optimizedPlan}")
  }

  test("zscore join is not hint-pinned: SMJ when stats exceed broadcast threshold") {
    // stats cardinality grows with the key domain — the join must be
    // free to leave broadcast at scale (AQE picks BHJ while it fits)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q_zscore_outliers")(spark, dir)
      val plan = physical(df)
      assert(plan.contains("SortMergeJoin"),
        s"stats join should degrade to SMJ without broadcast room:\n$plan")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("NOT IN plans the null-aware anti join, not plain LeftAnti") {
    val df = SparkEntry.queries("q_not_in")(spark, dir)
    val plan = physical(df)
    // Catalyst's dedicated mode for three-valued NOT IN: a
    // BroadcastHashJoin in LeftAnti with the isNullAwareAntiJoin flag
    // (rendered as the trailing `true`)
    assert("BroadcastHashJoin .*LeftAnti, BuildRight, true".r
        .findFirstIn(plan).isDefined,
      s"NOT IN should plan a null-aware anti join:\n$plan")
  }

  test("applyChangelog plans aggregates, never a per-key window sort") {
    // the changelog reduction must be the two-phase salted max_by
    // (partial-aggregated exchanges), not row_number over a window —
    // a hot key would serialize through one reducer otherwise
    val df = SparkEntry.queries("q_merge_upsert")(spark, dir)
    val optimized = df.queryExecution.optimizedPlan
    val windows = optimized.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty,
      s"CDC merge should not plan a window:\n$optimized")
    // max_by over a struct buffers a struct → SortAggregate (still
    // partial+final, still map-side combined); the point is aggregate
    // vs window, not the aggregate flavor
    assert("(HashAggregate|ObjectHashAggregate|SortAggregate)".r
        .findFirstIn(physical(df)).isDefined, physical(df))
  }

  test("editDistanceJoin: candidates via hash equi-join, no nested loop") {
    val df = SparkEntry.queries("q_fuzzy_join")(spark, dir)
    val plan = physical(df)
    assert(!plan.contains("NestedLoop"),
      s"fuzzy join degenerated to a nested loop:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"fuzzy join degenerated to a cross product:\n$plan")
  }

  test("jaccardJoin: candidates via hash equi-join, no nested loop") {
    val df = SparkEntry.queries("q_jaccard_join")(spark, dir)
    val plan = physical(df)
    assert(!plan.contains("NestedLoop"),
      s"set-similarity join degenerated to a nested loop:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"set-similarity join degenerated to a cross product:\n$plan")
  }

  test("kmeansLloyd: final assignment is a pure map job — no exchange, " +
    "no centroid join") {
    // the centroids ride inside the array_min argmin expression; only
    // the per-ROUND mean aggregates (threaded actions) shuffle, and
    // those are k-row model-sized
    val df = SparkEntry.queries("q_kmeans")(spark, dir)
    val plan = physical(df)
    assert(!plan.contains("Exchange"),
      s"kmeans final assignment should not shuffle:\n$plan")
    assert(!plan.contains("Join"),
      s"kmeans final assignment should not join centroids:\n$plan")
  }

  test("repeatedSpans: occurrence join is hash-keyed, no nested loop") {
    // direct call — the SparkEntry query serves the memoized checkpoint,
    // whose plan is just a scan and would assert nothing
    val docs = spark.read.parquet(dir + "/documents.parquet")
      .select(col("doc_id"), col("text"))
    val plan = physical(
      graft.operators.Dedup.repeatedSpans(docs, "doc_id", "text", k = 8))
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"substring-dedup occurrence join degenerated:\n$plan")
  }

  test("semanticNearDupPairs: map-side assignment, cluster-keyed join only") {
    val vecs = spark.read.parquet(dir + "/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val plan = physical(graft.operators.Dedup.semanticNearDupPairs(
      vecs, "vec_id", "embedding", threshold = 0.2, nlist = 8))
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"semantic dedup degenerated to all-pairs:\n$plan")
    // the centroid matrix rides inside the fused expression, not as a
    // joined relation: exactly one join (the __c-keyed self-join)
    assert(plan.split("Join").length - 1 <= 2,
      s"unexpected extra joins in semantic dedup:\n$plan")
  }

  test("correlated EXISTS decorrelates to a semi join (no per-row subquery)") {
    val df = SparkEntry.queries("q_correlated_exists")(spark, dir)
    val plan = physical(df)
    assert(plan.contains("LeftSemi"),
      s"EXISTS should decorrelate to a semi join:\n$plan")
    assert(!plan.toLowerCase.contains("subquery"),
      s"correlated subquery survived into the physical plan:\n$plan")
  }

  test("range join plans a hash equi-join on the bin, never a nested loop") {
    val df = SparkEntry.queries("q_range_join")(spark, dir)
    val plan = physical(df)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"interval join degenerated to a nested loop:\n$plan")
    assert(plan.contains("HashJoin"), s"expected a hash equi-join:\n$plan")
  }

  test("RangeJoinRewrite: plain BETWEEN join rewrites to bin equi-join") {
    import graft.plans.RangeJoinRewrite
    import spark.implicits._
    RangeJoinRewrite.install(spark)
    val pts = Seq((1L, 5L), (2L, 17L), (3L, 120L)).toDF("id", "pt")
    val ivs = Seq((10L, 0L, 10L), (20L, 15L, 40L), (30L, 16L, 18L))
      .toDF("iv_id", "lo", "hi")
    def q() = pts.join(ivs, pts("pt") >= ivs("lo") && pts("pt") <= ivs("hi"))
      .select($"id", $"iv_id")
    try {
      // rule inert without the conf: nested loop as Spark planned it
      spark.conf.unset(RangeJoinRewrite.WidthConf)
      val naive = q()
      assert(physical(naive).contains("NestedLoopJoin"), physical(naive))
      val expected = naive.collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      assert(expected == Set((1L, 10L), (2L, 20L), (2L, 30L)))

      spark.conf.set(RangeJoinRewrite.WidthConf, "8")
      val rewritten = q()
      val plan = physical(rewritten)
      // narrow branch: hash equi-join on the bin; the unioned wide
      // fallback keeps a (runtime-empty here) nested loop for
      // over-wide intervals, so only the bin join's presence is asserted
      assert(plan.contains("__graft_pt_bin") &&
        (plan.contains("HashJoin") || plan.contains("SortMergeJoin")),
        s"expected an equi-join on the bin:\n$plan")
      assert(plan.contains("explode"), s"interval side not binned:\n$plan")
      // with the extensions installed the rule runs inside the main
      // optimizer batches, so ConvertToLocalRelation evaluates the
      // wide-branch filter over these literal rows (none wide) and
      // PropagateEmptyRelation statically prunes the Union — strictly
      // better than the AQE-time pruning asserted below; the sentinel
      // case further down proves the fallback branch still exists
      // whenever a wide interval is present
      assert(!plan.contains("NestedLoopJoin"),
        s"narrow case kept a nested loop:\n$plan")
      val got = rewritten.collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      assert(got == expected, s"rewrite changed results: $got")
      // with no wide intervals, AQE's empty-relation propagation must
      // eliminate the fallback branch at runtime — the points side is
      // NOT scanned twice in the common case
      val finalPlan = rewritten.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head   // adaptive render echoes both
      assert(!finalPlan.contains("NestedLoopJoin"),
        s"empty wide branch not pruned by AQE:\n$finalPlan")

      // equality conjunct present -> left alone (already equi-joinable)
      val eq = pts.withColumn("k", $"id" % 2)
        .join(ivs.withColumn("k", $"iv_id" % 2), "k")
      assert(!physical(eq).contains("__graft"), physical(eq))

      // wide-interval guard: an open-ended sentinel interval must not
      // explode (Long.MaxValue span would be a runtime error); it runs
      // through the unioned fallback join and still pairs correctly.
      // A REVERSED sentinel (lo > hi, negative span) and a fully open
      // one (MinValue..MaxValue, span would overflow a long) must not
      // crash either: reversed drops (empty under the original join),
      // fully-open falls back and pairs with everything
      val withSentinel = ivs.unionByName(
        Seq((99L, 0L, Long.MaxValue - 1),
          (98L, Long.MaxValue - 1, 0L),
          (97L, Long.MinValue + 1, Long.MaxValue - 1))
          .toDF("iv_id", "lo", "hi"))
      val mixed = pts.join(withSentinel,
          pts("pt") >= withSentinel("lo") && pts("pt") <= withSentinel("hi"))
        .select($"id", $"iv_id")
      val mixedPlan = physical(mixed)
      assert(mixedPlan.contains("Union"), s"no fallback branch:\n$mixedPlan")
      val got2 = mixed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val wide = for (id <- Seq(1L, 2L, 3L); iv <- Seq(99L, 97L))
        yield (id, iv) // 98 (reversed) matches nothing
      assert(got2 == expected ++ wide,
        s"wide fallback changed results: $got2")
    } finally spark.conf.unset(RangeJoinRewrite.WidthConf)
  }

  test("IntervalOverlapRewrite: plain SQL overlap join rewrites to the " +
      "canonical-bin equi-join; degenerate intervals keep exact " +
      "semantics through the fallback") {
    import graft.plans.IntervalOverlapRewrite
    import spark.implicits._
    IntervalOverlapRewrite.install(spark)
    val a = Seq((1L, 0L, 10L), (2L, 20L, 30L), (3L, 55L, 60L))
      .toDF("a_id", "a_s", "a_e")
    val b = Seq((10L, 5L, 8L), (20L, 9L, 22L), (30L, 100L, 110L))
      .toDF("b_id", "b_s", "b_e")
    def q() = a.join(b, a("a_s") <= b("b_e") && b("b_s") <= a("a_e"))
      .select($"a_id", $"b_id")
    try {
      spark.conf.unset(IntervalOverlapRewrite.WidthConf)
      val naive = q()
      assert(physical(naive).contains("NestedLoopJoin"), physical(naive))
      val expected = naive.collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      assert(expected == Set((1L, 10L), (1L, 20L), (2L, 20L)))

      spark.conf.set(IntervalOverlapRewrite.WidthConf, "16")
      val rewritten = q()
      val plan = physical(rewritten)
      assert(plan.contains("__graft_ov_bin") &&
        (plan.contains("HashJoin") || plan.contains("SortMergeJoin")),
        s"expected the canonical-bin equi-join:\n$plan")
      assert(!plan.contains("NestedLoopJoin"),
        s"narrow case kept a nested loop:\n$plan")
      val got = rewritten.collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      assert(got == expected, s"rewrite changed results: $got")

      // a strict id-dedup conjunct must not be mistaken for a bound:
      // the self-overlap query still bins on the interval columns and
      // returns the exact naive pairs
      val s1 = Seq((1L, 0L, 10L), (2L, 5L, 15L), (3L, 40L, 50L))
        .toDF("id", "s", "e")
      val s2 = s1.select($"id".as("id2"), $"s".as("s2"), $"e".as("e2"))
      def dedup() = s1.join(s2,
        s1("id") < s2("id2") && s1("s") <= s2("e2") && s2("s2") <= s1("e"))
        .select($"id", $"id2")
      val dd = dedup()
      val ddPlan = physical(dd)
      assert(ddPlan.contains("__graft_ov_bin"), ddPlan)
      assert(!ddPlan.contains("NestedLoopJoin"), ddPlan)
      assert(dd.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((1L, 2L)))

      // degenerate rows: a reversed interval that still satisfies the
      // predicate within one bin, a wide sentinel, and a fully open
      // interval — the fallback union must reproduce the naive join
      // bit for bit (reversed-but-overlapping rows INCLUDED: rewrite
      // of user SQL preserves semantics, unlike the operator's
      // documented malformed-drop policy)
      val aBad = a.unionByName(Seq(
        (8L, 9L, 3L),                              // reversed, crosses bins
        (9L, Long.MinValue + 1, Long.MaxValue - 1)) // fully open
        .toDF("a_id", "a_s", "a_e"))
      def mixed() = aBad.join(b,
          aBad("a_s") <= b("b_e") && b("b_s") <= aBad("a_e"))
        .select($"a_id", $"b_id")
      spark.conf.unset(IntervalOverlapRewrite.WidthConf)
      val naiveMixed = mixed().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      spark.conf.set(IntervalOverlapRewrite.WidthConf, "16")
      val m = mixed()
      assert(physical(m).contains("Union"), physical(m))
      val gotMixed = m.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotMixed == naiveMixed,
        s"fallback changed results: $gotMixed vs $naiveMixed")
    } finally spark.conf.unset(IntervalOverlapRewrite.WidthConf)
  }

  test("intervalOverlapJoin: bin equi-join, no nested loop, no " +
      "post-join dedup aggregate") {
    val df = SparkEntry.queries("q_interval_overlap")(spark, dir)
    val plan = physical(df)
    assert(!plan.contains("NestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"overlap join fell back to a cross product:\n$plan")
    assert(plan.contains("__graft_iv_bin"),
      s"bin key missing from the join:\n$plan")
    // the canonical-bin conjunct replaces a distinct: nothing between
    // the join and the final projection may aggregate the pairs
    val afterJoin = plan.split("Join").head
    assert(!afterJoin.contains("HashAggregate"),
      s"pair dedup aggregate above the join:\n$plan")
  }

  test("family-partitioned layout: a family filter prunes at the scan") {
    import spark.implicits._
    // the K6 layout: one directory per metric_family (HostMetrics
    // .writePartitioned); at 100 TB a single-family query must read
    // one directory, not filter the whole lake
    val out = tempDir("graft_part").toString
    (0 until 400).map(i => (i.toLong, s"h$i", Seq("cpu", "swap", "mem",
        "disk")(i % 4)))
      .toDF("v", "host_name", "metric_family")
      .write.mode("overwrite").partitionBy("metric_family").parquet(out)
    val rd = spark.read.parquet(out)
      .filter($"metric_family" === "cpu").select($"v")
    val plan = physical(rd)
    assert(plan.contains("PartitionFilters: [isnotnull(metric_family"),
      s"family filter not applied as a partition filter:\n$plan")
    assert(!plan.contains("PushedFilters: [IsNotNull(metric_family"),
      s"family filter degraded to a data filter:\n$plan")
    assert(rd.count() == 100)
  }

  test("decontamination: eval shingles broadcast into a semi-join") {
    val df = SparkEntry.queries("q_decontaminate")(spark, dir)
    val plan = physical(df)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"eval overlap should be a broadcast semi-join:\n$plan")
  }

  test("longPayload parses each value position once, below the " +
      "Generate; the Generate holds no Cast") {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    import org.apache.spark.sql.types.DoubleType
    import graft.model.NagiosModel
    val s = spark
    import s.implicits._
    val points = Seq(("h1", "CPU Usage", 1700000000L, Seq("1.00")))
      .toDF("host_name", "service_name", "epoch", "values").repartition(2)
    val plan = graft.pipelines.HostMetrics.longPayload(points)
      .queryExecution.optimizedPlan
    val gens = plan.collect { case g: Generate => g }
    assert(gens.size == 1, plan)
    assert(gens.head.generator.collect { case c: Cast => c }.isEmpty, plan)
    val parses = gens.head.child.collect { case n => n.expressions }
      .flatten.flatMap(_.collect {
        case c: Cast if c.dataType == DoubleType => c.canonicalized })
      .distinct
    assert(parses.size == NagiosModel.serviceKeys.values.map(_.size).max,
      plan)
  }

  test("whole-stage codegen covers the scalar pipeline") {
    val df = SparkEntry.queries("q_doc_stats")(spark, dir)
    val plan = physical(df)
    // "*(n)" marks operators inside a WholeStageCodegen stage
    assert(plan.contains("*(1) Project") || plan.contains("*(1) "), plan)
  }

  test("custom cosine expression participates in codegen (no fallback)") {
    import graft.functions.VectorExpressions
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = emb.select(VectorExpressions.cosine(col("embedding"),
      col("embedding")).as("c"))
    val plan = physical(df)
    assert(plan.contains("*(1) Project"), plan)
    // and it evaluates correctly inside codegen
    val v = df.limit(3).collect().map(_.getDouble(0))
    assert(v.forall(x => math.abs(x - 1.0) < 1e-9))
  }

  test("sessionize: one entity-keyed exchange, one sort, shared by both " +
      "window passes and the final aggregate") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val df = graft.operators.Behavior.sessionize(ev, "user_id", "ts", 1800L)
    val plan = physical(df)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1, s"expected exactly 1 exchange:\n$plan")
    val sorts = "\\bSort \\[".r.findAllIn(plan).size
    assert(sorts <= 1, s"window passes must share one sort:\n$plan")
  }

  test("availability: the SLA rollup rides mergeIntervals' single " +
      "key exchange — no second shuffle for the coverage aggregate") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    import org.apache.spark.sql.functions._
    val e = unix_timestamp(col("ts"))
    val df = graft.operators.TimeSeries.availability(
      ev.filter(col("ts").isNotNull)
        .select(col("user_id"), e.as("lo"), (e + 600L).as("hi")),
      Seq("user_id"), "lo", "hi", 1704412800L, 1705708799L)
    val plan = physical(df)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1, s"expected exactly 1 exchange:\n$plan")
  }

  test("availabilityMulti: the two-window burn-rate rollup stays on " +
      "ONE exchange — no per-window re-sort, no recombining join " +
      "(VERDICT r10 task 4: the burnRateStream shape, batch form)") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    import org.apache.spark.sql.functions._
    val e = unix_timestamp(col("ts"))
    val df = graft.operators.TimeSeries.availabilityMulti(
      ev.filter(col("ts").isNotNull)
        .select(col("user_id"), e.as("lo"), (e + 600L).as("hi")),
      Seq("user_id"), "lo", "hi",
      Seq(("long", 1704412800L, 1705708799L),
        ("short", 1705017600L, 1705103999L)))
    val plan = physical(df)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1, s"expected exactly 1 exchange:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("BroadcastHashJoin"),
      s"one-pass form must not join per-window chains:\n$plan")
  }

  test("incremental minhash probe: history prunes to batch-touched " +
      "buckets via broadcast BEFORE any aggregation; fallback path " +
      "result-identical") {
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val batch = base.filter(col("doc_id") < 5)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" near dup suffix")).as("text"))
    val staged = graft.operators.Dedup.bandKeyRows(base, "doc_id",
      "text", 5, 64, 32)
    val newBands = graft.operators.Dedup.bandKeyRows(batch, "doc_id",
      "text", 5, 64, 32)
    val bc = graft.operators.Dedup.incrementalCandidates(newBands,
      staged, 1000, useBroadcast = true)
    val plan = physical(bc)
    // the history union is consumed through a BroadcastHashJoin on the
    // batch's own bucket set — the map-side filter that keeps untouched
    // history rows out of every exchange. The dense-bucket HashAggregate
    // must sit ABOVE that join, never directly on the raw union.
    assert(plan.contains("BroadcastHashJoin"), plan)
    val aggIdx = plan.indexOf("HashAggregate")
    val bcjIdx = plan.lastIndexOf("BroadcastHashJoin")
    assert(aggIdx >= 0 && bcjIdx > aggIdx,
      s"dense aggregate does not consume the broadcast-filtered union:\n$plan")
    // both paths produce the same candidate set (the fallback is the
    // too-big-to-broadcast arm)
    val fb = graft.operators.Dedup.incrementalCandidates(newBands,
      staged, 1000, useBroadcast = false)
    def set(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = set(bc)
    assert(got.nonEmpty && got == set(fb))
  }

  test("reliability: every stage shares the scd2 key partitioning — " +
      "one entity exchange end to end") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val df = graft.operators.Behavior.reliability(ev, "user_id",
      "event_type", "ts", "event_id", downState = "error")
    val plan = physical(df)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1, s"expected exactly 1 exchange:\n$plan")
  }

  test("invertedIndex: no exchange carries text; block key salts the " +
      "posting aggregate") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.operators.TextOps.invertedIndex(docs, "doc_id", "text",
      nBlocks = 8, minDf = 2L)
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"text column crossed an exchange:\n$exec")
    }
    // the posting aggregate groups on (token, block) — the hot token
    // spreads over nBlocks reducers instead of one
    assert(exec.toString.contains("keys=[token"), exec.toString)
    assert(exec.toString.contains("block"), exec.toString)
  }

  test("equiDepthBins: no window anywhere; boundaries broadcast") {
    // the whole point vs global ntile: no ordered window over the
    // corpus — the only wide ops are rankSelect's range exchange
    // (checkpointed away inside runningSum) and the bin aggregate
    import spark.implicits._
    val df = (1 to 500).map(_.toDouble).toDF("x")
    val exec = graft.operators.Profiling.equiDepthBins(df, "x", 4)
      .queryExecution.executedPlan
    assert(!exec.toString.contains("Window"),
      s"window in equiDepthBins plan:\n$exec")
    assert(exec.toString.contains("BroadcastExchange") ||
      exec.toString.contains("BroadcastHashJoin") ||
      exec.toString.contains("BroadcastNestedLoopJoin"),
      s"boundary array not broadcast:\n$exec")
  }

  test("linearFitGD step: one partial-combined aggregate, corpus " +
      "never re-partitioned") {
    // hand-assemble one gradient aggregate exactly like the loop body
    import spark.implicits._
    val data = (1 to 100).map(i => (i / 100.0, 2.0 * i / 100.0))
      .toDF("_c1", "_c2").withColumn("_c0", lit(1.0))
    val pred = round(col("_c0") * lit(0.1) + col("_c1") * lit(0.2), 12)
    val err = pred - col("_c2")
    val grads = data.select(
      sum(round(err * col("_c0"), 12).cast("decimal(38,12)")).as("g0"),
      sum(round(err * col("_c1"), 12).cast("decimal(38,12)")).as("g1"))
    val plan = grads.queryExecution.executedPlan.toString
    assert(plan.contains("partial_sum"),
      s"no map-side combine in gradient aggregate:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"corpus re-partitioned for a global aggregate:\n$plan")
  }

  test("sampleQuantiles: no window, no global sort; ONE corpus scan " +
      "(value rides the bounded top-k aggregate)") {
    val df = SparkEntry.queries("q_sample_quantiles")(spark, dir)
    val plan = physical(df)
    // data-sized stages: exactly one bounded topKByScoreVal aggregate
    // over (hash, value) — the corpus is never sorted, window-ranked,
    // or re-scanned for the sample values (the former semi-join form)
    assert(!plan.contains("Window"), s"window in plan:\n$plan")
    assert(plan.toLowerCase.contains("topkbyscoreval"),
      s"bounded aggregate missing:\n$plan")
    assert(!plan.contains("LeftSemi"),
      s"two-scan semi-join shape resurfaced:\n$plan")
    // the ONLY sort is over the ≤k-row packed sample (inside
    // sort_array, which is an expression, not a Sort operator)
    assert(!plan.contains("Exchange rangepartitioning"),
      s"range sort of the corpus:\n$plan")
  }

  test("freqItemsByKey: MG aggregate is partial+final (bounded " +
      "map-side state), vocabulary never pre-counted") {
    val df = SparkEntry.queries("q_freq_items")(spark, dir)
    val plan = physical(df)
    // TypedImperativeAggregate plans as ObjectHashAggregate with a
    // partial mode: each task ships ≤k counters per group, not its
    // distinct values
    assert(plan.contains("ObjectHashAggregate"),
      s"MG aggregate not object-hash:\n$plan")
    assert(plan.contains("partial_misragriesfreqitems") ||
      "partial.*misragries".r.findFirstIn(plan.toLowerCase).isDefined,
      s"no partial MG aggregation:\n$plan")
    assert(!plan.contains("Window"), s"window in plan:\n$plan")
  }

  test("gramMatrix: partial-combined hash aggregate; vectors never " +
      "shuffle (exchange carries only dim(dim+1)/2 cells)") {
    val df = graft.operators.Similarity.gramMatrix(
      spark.read.parquet(s"$dir/embeddings.parquet"), "embedding", 64)
    val plan = physical(df)
    assert(plan.contains("partial_sum"),
      s"no map-side combine in gram aggregate:\n$plan")
    // the only exchange is the (i, j) cell aggregate — the embedding
    // column itself must not cross it (generators run scan-side)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).toSeq
    assert(exchanges.size == 1, s"expected 1 exchange:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(embedding"),
      s"vector column shuffled:\n$plan")
  }

  test("pageRank iteration: incoming mass is an AGGREGATE on dst " +
      "(map-side combined), never a window") {
    // one un-checkpointed iteration, hand-assembled exactly like the
    // operator's loop body, so the plan stays inspectable
    import spark.implicits._
    val e = Seq(("a", "b"), ("b", "a"), ("a", "c")).toDF("src", "dst")
    val pr = Seq(("a", 1.0), ("b", 1.0), ("c", 1.0)).toDF("node", "pr")
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("_deg"))
    val contrib = e.join(pr, e("src") === pr("node")).join(deg, "src")
      .select(col("dst").as("node"),
        round(col("pr") / col("_deg"), 12).cast("decimal(38,12)").as("_c"))
      .groupBy(col("node")).agg(sum(col("_c")).as("_in"))
    val plan = physical(contrib)
    assert(!plan.contains("Window"), s"window in pageRank iteration:\n$plan")
    assert(plan.contains("partial_sum") || plan.contains("HashAggregate"),
      s"expected partial aggregation:\n$plan")
  }

  test("semantic decontamination: benchmark broadcasts, no vector " +
      "array crosses an exchange, cosines collapse map-side") {
    // the 100 TB contract: cosine scoring happens inside the corpus
    // scan's stage against the broadcast benchmark; the only shuffled
    // payload is the contaminated-id set (the distinct + anti join)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = graft.operators.Similarity.semanticDecontaminate(
      emb.filter(col("vec_id") >= 50), emb.filter(col("vec_id") < 50),
      "vec_id", "embedding", threshold = 0.3)
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.foreach { e =>
      val arrays = e.output.filter(_.dataType
        .isInstanceOf[org.apache.spark.sql.types.ArrayType])
      assert(arrays.isEmpty,
        s"vector column crossed an exchange (${arrays.map(_.name)}):\n$exec")
    }
    assert(exec.toString.contains("BroadcastNestedLoopJoin") ||
      exec.toString.contains("BroadcastHashJoin"), exec.toString)
  }

  test("downtime-adjusted availability: ONE key-partitioned exchange " +
      "serves the sweep, plus the final partial+final aggregate") {
    import spark.implicits._
    val up = Seq(("h1", 0L, 10L), ("h2", 5L, 9L)).toDF("host", "lo", "hi")
    val down = Seq(("h1", 3L, 4L)).toDF("host", "lo", "hi")
    val df = graft.operators.TimeSeries.availabilityDowntimeAdjusted(
      up, down, Seq("host"), "lo", "hi", 0L, 100L)
    val plan = physical(df)
    // both running sums and the lead ride one window spec; the
    // aggregate reuses the host partitioning (no second hash exchange
    // on the same key in the single-partition local fixture either)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).toSeq
    assert(exchanges.size <= 2,
      s"expected <= 2 exchanges (window + agg):\n$plan")
    val windows = "\\bWindow\\b".r.findAllIn(plan).toSeq
    assert(windows.size == 1, s"expected ONE window stage:\n$plan")
    assert(plan.contains("partial"), s"expected partial aggregation:\n$plan")
  }

  test("domain boilerplate: domain totals broadcast onto the line " +
      "counts; the kill-list anti join is a broadcast") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    val df = graft.operators.Dedup.stripDomainBoilerplate(docs,
      "doc_id", "source", "text", minDomainDocs = 2L, minFraction = 0.5)
    val plan = physical(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast joins for domain totals/kill list:\n$plan")
    // the anti join of lines against the kill list must not shuffle
    // the full line set on (domain, hash): AQE may leave it as BHJ
    assert(!plan.contains("SortMergeJoin LeftAnti") ||
      plan.contains("BroadcastHashJoin LeftAnti"),
      s"kill-list anti join shuffled the corpus lines:\n$plan")
  }
}
