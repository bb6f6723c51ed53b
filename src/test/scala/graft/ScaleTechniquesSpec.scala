package graft

import org.apache.spark.sql.functions._
import graft.operators.Relational

/** The scale techniques the engine leans on at 100 TB, demonstrated
  * and plan-asserted at test scale: salting for skewed joins,
  * bucketing for exchange-free co-located joins.
  */
class ScaleTechniquesSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin equals plain join on a skewed key distribution") {
    // 90% of fact rows share one hot key
    val fact = spark.range(2000).select(
      when($"id" % 10 === 0, $"id" % 7).otherwise(1L).as("k"),
      $"id".as("payload"))
    val dim = spark.range(7).select($"id".as("k"),
      concat(lit("dim"), $"id").as("attr"))

    val plain = fact.join(dim, Seq("k")).select("k", "payload", "attr")
    val salted = Relational.saltedJoin(fact, dim, Seq("k"), 8)
      .select("k", "payload", "attr")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("saltedJoin left-outer preserves unmatched fact rows") {
    val fact = Seq((1L, "a"), (99L, "b")).toDF("k", "v")
    val dim = Seq((1L, "d1")).toDF("k", "attr")
    val got = Relational.saltedJoin(fact, dim, Seq("k"), 4, "left")
      .select($"k", $"attr").as[(Long, Option[String])].collect().toMap
    assert(got == Map(1L -> Some("d1"), 99L -> None))
  }

  test("salted latest-per-key equals window form on 90%-hot-key data") {
    // one user owns 90% of events — the window form's worst case
    val events = spark.range(5000).select(
      when($"id" % 10 === 0, $"id" % 13).otherwise(7L).as("user_id"),
      ($"id" * 37 % 100000).as("ts_ord"),
      $"id".as("event_id"),
      concat(lit("v"), $"id" % 5).as("payload"))
    val window = Relational.latestPerKey(events, Seq("user_id"),
      "ts_ord", "event_id")
    val salted = Relational.latestPerKeySalted(events, Seq("user_id"),
      "ts_ord", "event_id", saltBuckets = 8)
    assert(salted.count() == window.count())
    assert(salted.exceptAll(window).isEmpty &&
      window.exceptAll(salted).isEmpty)
    // both phases are hash aggregates; no window (sort-based) operator
    val plan = salted.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"salted form should not plan a window:\n$plan")
  }

  test("shardByBudget distributed prefix sum equals a sequential scan") {
    import graft.operators.Sampling
    val docs = spark.range(0, 1000).select(
      format_string("doc%04d", $"id").as("doc_id"),
      (($"id" * 131 % 997) + 1).as("w"))
    val got = Sampling.shardByBudget(docs, "doc_id", "w", budget = 5000L)
      .select($"doc_id", $"shard").as[(String, Long)].collect().toMap
    // driver-side sequential reference: running sum BEFORE each row
    val rows = docs.select($"doc_id", $"w").as[(String, Long)]
      .collect().sortBy(_._1)
    var acc = 0L
    val want = rows.map { case (d, w) =>
      val s = acc / 5000L; acc += w; d -> s
    }.toMap
    assert(got == want)
  }

  test("shardByBudget accepts decimal weights (no integral assumption)") {
    import graft.operators.Sampling
    val docs = spark.range(0, 100).select(
      format_string("d%03d", $"id").as("doc_id"),
      (($"id" % 7) + 1).cast("decimal(18,2)").as("w"))
    val got = Sampling.shardByBudget(docs, "doc_id", "w", budget = 20L)
      .select($"doc_id", $"shard").as[(String, Long)].collect().toMap
    val rows = docs.select($"doc_id", $"w".cast("double"))
      .as[(String, Double)].collect().sortBy(_._1)
    var acc = 0.0
    val want = rows.map { case (d, w) =>
      val s = math.floor(acc / 20.0).toLong; acc += w; d -> s
    }.toMap
    assert(got == want)
  }

  test("AQE splits the hot-key partition at join time (OptimizeSkewedJoin)") {
    // 90% of the sf0.1 events collapse onto one hot key — the
    // boilerplate-user shape. With broadcast off (the 100 TB regime for
    // a large dim) the SMJ's hot shuffle partition crosses the skew
    // threshold and AQE must split it into parallel sub-reads, marked
    // skew=true in the final adaptive plan. This is the runtime answer
    // to fact-side JOIN skew; manual salting (saltedJoin /
    // latestPerKeySalted) is still the tool when the skew sits in an
    // AGGREGATION (no join to split) or the join is already
    // broadcast-ineligible many-to-many where split sub-partitions
    // would each still pair with the whole build side.
    val s = spark
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // test-scale thresholds (defaults target real shuffle sizes:
    // 256 MB skew threshold); coalescing off so the small partitions
    // keep the median small instead of merging into bigger reads
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "4096")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4096")
    try {
      val ev = graft.sources.Tables.events(s, sf("sf0.1"))
      // repartition(8) models the many-mapper shape of a real cluster:
      // AQE's skew split subdivides a reducer partition by MAP ranges,
      // so a shuffle fed by a single mapper (this local single-row-group
      // parquet file) has nothing to subdivide — skew mitigation needs
      // map-side parallelism, which any 100 TB scan has by construction
      val fact = ev.select(
        when($"event_id" % 10 =!= 0, 7L)
          .otherwise($"user_id" % 1000).as("k"),
        $"event_id".as("payload"))
        .repartition(8)
      val dim = s.range(1000).select($"id".as("k"), ($"id" * 3).as("attr"))
      val joined = fact.join(dim, Seq("k"))
      val n = joined.collect().length
      assert(n == fact.count())
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"no skewed-join split in the adaptive plan:\n$plan")
    } finally {
      s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      s.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
      s.conf.unset(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
      s.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      s.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    }
  }

  test("connectedComponents: adversarial graph shapes at 1e5 edges") {
    import graft.operators.Dedup
    // star: 1e5 spokes on one hub — the boilerplate-matched-by-
    // millions shape. One aggregate round must resolve it (diameter
    // 2), and the hub's degree must cost an aggregate, not a giant
    // neighbor array.
    val star = spark.range(1, 100001).select(
      lit(0L).as("id_a"), $"id".as("id_b"))
    val starLabels = Dedup.connectedComponents(star, localMaxEdges = 0L)
    assert(starLabels.count() == 100001)
    assert(starLabels.filter($"component" =!= 0L).count() == 0)

    // long chain: 0-1-2-...-24 — diameter stress. Min-label moves one
    // hop per round, so this needs ~24 aggregate rounds: it exercises
    // the iterated loop + per-round localCheckpoint lineage truncation
    // well past the 2-3 rounds quasi-clique dedup graphs need, while
    // staying far from the documented large-star/small-star escalation
    // territory (a 1e5-diameter chain would need 1e5 rounds here — the
    // shape that formulation exists for)
    val chain = spark.range(24).select(
      $"id".as("id_a"), ($"id" + 1).as("id_b"))
    val chainLabels = Dedup.connectedComponents(chain, localMaxEdges = 0L)
    assert(chainLabels.count() == 25)
    assert(chainLabels.filter($"component" =!= 0L).count() == 0)

    // the maxIters bound REFUSES instead of silently returning a
    // half-converged labeling (a wrong dedup would drop real docs)
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, maxIters = 3, localMaxEdges = 0L)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    // at 100 TB a selective dim predicate should cut the FACT side
    // before its shuffle, not after the join: Spark's runtime bloom
    // filter (InjectRuntimeFilter) builds a filter from the dim's join
    // keys and applies might_contain on the fact scan. Demonstrated
    // with test-scale thresholds; note the rule wants a plain
    // filtered creation side — a distinct() there suppresses it.
    val s = spark
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "1024")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val ev = graft.sources.Tables.events(s, sf("sf0.001"))
        .select($"event_id", $"user_id")
      val dim = spark.read.parquet(s"${sf("sf0.001")}/lineitem.parquet")
        .filter($"l_returnflag" === "A")
        .select($"l_orderkey", $"l_quantity")
      val joined = ev.join(dim, $"event_id" === $"l_orderkey")
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter injected:\n$plan")
      // and the filter is transparent: same result as with it disabled
      val n = joined.count()
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      assert(n == ev.join(dim, $"event_id" === $"l_orderkey").count())
    } finally {
      s.conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
      s.conf.unset(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("bucketed tables join without any exchange") {
    val wh = tempDir("graftwh").toString
    val s = spark
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val orders = s.range(1000).select($"id".as("k"),
        ($"id" * 2).as("total"))
      val items = s.range(3000).select(($"id" % 1000).as("k"),
        $"id".as("item"))
      Relational.writeBucketed(orders, "graft_orders_b", Seq("k"), 8,
        s"$wh/orders")
      Relational.writeBucketed(items, "graft_items_b", Seq("k"), 8,
        s"$wh/items")
      val joined = s.table("graft_orders_b")
        .join(s.table("graft_items_b"), Seq("k"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == 3000)
    } finally {
      s.sql("DROP TABLE IF EXISTS graft_orders_b")
      s.sql("DROP TABLE IF EXISTS graft_items_b")
      s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
