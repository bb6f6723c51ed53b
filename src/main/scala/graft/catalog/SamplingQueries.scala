package graft
package catalog

import org.apache.spark.sql.functions._

import graft.operators.TextOps
import graft.sources.Tables

import Fragments.{nearDupCorpus, nearDupCorpusSql, shingleCteSql,
  nearDupPairsShared}

/** Sampling queries ([[operators.Sampling]]): splits, stratified,
  * weighted and systematic samples, mixture rebalancing, sharding
  * and sequence packing.
  */
object SamplingQueries {

  lazy val all: Seq[Query] = Seq(
    // deterministic train/val/test assignment: a pure function of row
    // identity (md5 bucket), reproducible across runs/engines — the
    // correctness-critical property rand()-based splits lack
    Query("q_split_assign", (s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
        operators.Sampling.splitBucket(col("doc_id"), 100).as("bucket"),
        operators.Sampling.splitLabel(col("doc_id"),
          Seq("train" -> 90, "val" -> 5, "test" -> 5)).as("split"))
    }, oracle = {
      val bucket =
        """CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
          |  AS BIGINT) % 100""".stripMargin
      s"""SELECT doc_id, ($bucket) AS bucket,
         | CASE WHEN ($bucket) < 90 THEN 'train'
         |   WHEN ($bucket) < 95 THEN 'val'
         |   ELSE 'test' END AS split
         |FROM documents""".stripMargin
    }),

    // per-key cap: at most 5 events per user, selected by stable
    // event-id hash order — the per-domain cap of a data-mix pipeline
    Query("q_cap_per_key", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"))
      operators.Sampling.capPerKey(ev, "user_id", "event_id", 5)
    }, oracle =
      """SELECT event_id, user_id FROM (
        | SELECT event_id, user_id, row_number() OVER (
        |   PARTITION BY user_id
        |   ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
        | FROM events) t
        |WHERE rn <= 5""".stripMargin),

    // sequence packing: per-source documents in doc_id order packed
    // into 512-token context windows by the codegen next-fit fold
    Query("q_pack_sequences", (s, dir) => {
      val d = Tables.documents(s, dir).select(col("source"), col("doc_id"),
        operators.TextOps.tokenCount(col("text")).cast("long")
          .as("n_tokens"))
      operators.Sampling.packByCapacity(d, Seq("source"), "doc_id",
        "n_tokens", 512L)
    }, oracle =
      // next-fit is a sequential fold — the oracle replays it exactly
      // with a recursive CTE stepping one row per key per iteration
      """WITH RECURSIVE t AS (
        | SELECT source, doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'),
        |    x -> len(x) > 0)) AS BIGINT) AS n_tokens,
        |  row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        | FROM documents),
        |r AS (
        | SELECT source, doc_id, n_tokens, rn, CAST(0 AS BIGINT) AS bin,
        |  greatest(n_tokens, 1) AS fill
        | FROM t WHERE rn = 1
        | UNION ALL
        | SELECT t.source, t.doc_id, t.n_tokens, t.rn,
        |  CASE WHEN r.fill + greatest(t.n_tokens, 1) > 512
        |   THEN r.bin + 1 ELSE r.bin END,
        |  CASE WHEN r.fill + greatest(t.n_tokens, 1) > 512
        |   THEN greatest(t.n_tokens, 1)
        |   ELSE r.fill + greatest(t.n_tokens, 1) END
        | FROM t JOIN r ON t.source = r.source AND t.rn = r.rn + 1)
        |SELECT source, doc_id, n_tokens, bin FROM r""".stripMargin),

    // deterministic stratified sampling: per-stratum keep rates (the
    // data-mix knob) over the same stable id-hash bucketing as
    // q_split_assign — membership reproducible across runs and engines
    Query("q_stratified_sample", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(concat(col("l_orderkey"), lit("-"), col("l_linenumber"))
            .as("li_id"),
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
      operators.Sampling.stratifiedSample(li, "li_id", "l_returnflag",
          Seq("A" -> 50, "N" -> 10, "R" -> 2))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
    }, oracle = {
      // one physical line: a continuation line starting with '||' would
      // lose a pipe to the enclosing stripMargin
      val bucket = "CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)" +
        " || '-' || CAST(l_linenumber AS VARCHAR)), 1, 8)) AS BIGINT) % 100"
      s"""SELECT l_orderkey, l_linenumber, l_returnflag
         |FROM lineitem
         |WHERE ($bucket) < CASE l_returnflag
         |  WHEN 'A' THEN 50 WHEN 'N' THEN 10 WHEN 'R' THEN 2
         |  ELSE 0 END""".stripMargin
    }),

    // token-budget sharding: pack docs into ~5000-token shards in id
    // order — training-shard sizing by content, not row count
    Query("q_shard_by_budget", (s, dir) => {
      val weighted = Tables.documents(s, dir)
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      operators.Sampling.shardByBudget(weighted, "doc_id", "n_tokens",
          budget = 5000L)
        .select(col("doc_id"), col("n_tokens"), col("shard"))
    }, oracle = {
      val toks = """list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)"""
      s"""SELECT doc_id, n_tokens,
         | CAST(floor(COALESCE(sum(n_tokens) OVER (
         |   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
         |   AND 1 PRECEDING), 0) / 5000) AS BIGINT) AS shard
         |FROM (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens
         |  FROM documents) t""".stripMargin
    }),

    // leakage-safe split: near-dup components never straddle
    // train/val/test — the split label hashes each doc's component
    // REPRESENTATIVE (min id; singleton docs represent themselves),
    // preventing eval contamination by a training doc's near-twin at
    // split time instead of post-hoc
    // the exact closure + representative-hash split labels: bucket
    // CASE mirrors splitLabel's md5-prefix arithmetic on the rep id
    Query("q_split_leakage_safe", (s, dir) =>
      operators.Sampling.leakageSafeSplit(
        nearDupCorpus(s, dir).select(col("doc_id")),
        "doc_id", nearDupPairsShared(s, dir),
        Seq("train" -> 90, "val" -> 5, "test" -> 5)), oracle = {
      val bucket =
        """CAST(('0x' || substr(md5(CAST(rep_id AS VARCHAR)), 1, 8))
          |  AS BIGINT) % 100""".stripMargin
      s"""WITH RECURSIVE $nearDupCorpusSql,
         |${shingleCteSql(5, "docs")},
         |pairs AS (
         | SELECT a.doc_id AS u, b.doc_id AS v
         | FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         | WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |   (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
         |   >= 0.5),
         |edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
         |reach(id, r) AS (
         | SELECT DISTINCT u, u FROM edges
         | UNION
         | SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         |labeled AS (
         | SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS rep_id
         | FROM docs d LEFT JOIN comp c ON c.id = d.doc_id)
         |SELECT doc_id, rep_id,
         | CASE WHEN ($bucket) < 90 THEN 'train'
         |   WHEN ($bucket) < 95 THEN 'val'
         |   ELSE 'test' END AS split
         |FROM labeled""".stripMargin
    }),

    // temperature-2 domain mixture table: sqrt-flattened weights,
    // decimal-exact total, ratios summing to 1
    Query("q_mixture_weights", (s, dir) => {
      operators.Sampling.mixtureWeights(Tables.documents(s, dir),
          "source")
        .select(col("domain"), col("n_docs"),
          col("weight").cast("double").as("weight"), col("mix_ratio"))
    }, oracle =
      // sqrt is correctly-rounded IEEE (pow is not); the 9dp-rounded
      // weight rides DECIMAL so the total is order-independent; the
      // ratio is one double division of exactly-agreed inputs
      """WITH c AS (
        | SELECT source AS domain, CAST(count(*) AS BIGINT) AS n_docs
        | FROM documents WHERE source IS NOT NULL GROUP BY 1),
        |w AS (
        | SELECT domain, n_docs,
        |  CAST(round(sqrt(CAST(n_docs AS DOUBLE)), 9) AS DECIMAL(28,9))
        |    AS wt
        | FROM c)
        |SELECT domain, n_docs, CAST(wt AS DOUBLE) AS weight,
        | round(CAST(wt AS DOUBLE) / CAST(sum(wt) OVER () AS DOUBLE), 9)
        |   AS mix_ratio
        |FROM w""".stripMargin),

    // sqrt-temperature language rebalancing (the multilingual α=0.5
    // downsampling point): head languages flattened to shares ∝
    // sqrt(count), smallest language kept whole, membership the
    // engine-portable id-hash bucket
    Query("q_rebalance_lang", (s, dir) =>
      operators.Sampling.temperatureRebalance(Tables.documents(s, dir),
        "doc_id", "lang"), oracle =
      // sqrt-temperature rebalance: p = round(sqrt(c_min/c), 6) — one
      // IEEE-correctly-rounded sqrt of an exact count ratio, so the
      // probabilities are bit-identical; membership is the established
      // portable md5 bucket at 10^6 granularity (p*10^6 integer-valued
      // after the round, no float boundary)
      """WITH c AS (SELECT lang, count(*) AS c FROM documents
        |  WHERE lang IS NOT NULL GROUP BY lang),
        |m AS (SELECT min(c) AS mc FROM c),
        |p AS (SELECT lang,
        |  round(sqrt(CAST(mc AS DOUBLE) / CAST(c AS DOUBLE)), 6)
        |    AS keep_prob
        |  FROM c CROSS JOIN m)
        |SELECT d.doc_id, d.lang, p.keep_prob,
        | (CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
        |    AS BIGINT) % 1000000) < p.keep_prob * 1000000 AS kept
        |FROM documents d JOIN p USING (lang)""".stripMargin),

    // Efraimidis-Spirakis weighted sample: 50 docs drawn without
    // replacement, token count as the weight — longer documents
    // proportionally likelier, selection deterministic per id
    // A-ES weighted sampling replayed: same id-hash uniform, same
    // ln(u)/w key at 9dp, same (key desc, id) order
    Query("q_weighted_sample", (s, dir) =>
      operators.Sampling.weightedSample(
        Tables.documents(s, dir).select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("weight")),
        "doc_id", "weight", k = 50), oracle = {
      val toks =
        """list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)"""
      s"""WITH w AS (SELECT doc_id,
         |  CAST(len($toks) AS BIGINT) AS weight FROM documents),
         |keyed AS (SELECT doc_id, weight,
         |  round(ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
         |      1, 8)) AS BIGINT) % 1000000 + 0.5) / 1000000.0)
         |    / CAST(weight AS DOUBLE), 9) AS samp_key
         |  FROM w WHERE weight > 0)
         |SELECT doc_id, weight, samp_key FROM keyed
         |ORDER BY samp_key DESC, doc_id LIMIT 50""".stripMargin
    }),

    // weight-proportional systematic sample over the distributed
    // prefix sum: keep the docs straddling each 5000-char boundary of
    // the running-weight axis — deterministic PPS sampling
    Query("q_systematic_sample", (s, dir) => {
      operators.Sampling.systematicSample(
        Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", 5000L)
    }, oracle =
      // running-weight axis in doc_id order; a row is kept iff it
      // straddles a 5000-char boundary — weight-proportional systematic
      // (PPS) sampling, fully deterministic
      """WITH r AS (
        | SELECT doc_id, n_chars,
        |  COALESCE(sum(n_chars) OVER (ORDER BY doc_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS run
        | FROM documents)
        |SELECT doc_id, n_chars FROM r
        |WHERE floor(run / 5000.0) < floor((run + n_chars) / 5000.0)""".stripMargin),

    // reproducible corpus shuffle: the md5-keyed training order —
    // uniform-random in distribution, bit-identical across runs and
    // engines; one range-sort rank pass, no rand(), no driver
    // permutation
    Query("q_shuffle_order", (s, dir) =>
      operators.Sampling.shuffleOrder(
        Tables.documents(s, dir).select("doc_id"), "doc_id",
        salt = "epoch1"), oracle =
      """SELECT doc_id, row_number() OVER (
        | ORDER BY md5('shuf:epoch1:' || CAST(doc_id AS VARCHAR))) AS pos
        |FROM documents WHERE doc_id IS NOT NULL""".stripMargin),

    // the scale-safe NTILE twin: q_ntile's exact decile assignment
    // computed from groupRank instead of the partitioned window,
    // oracled against the WINDOW form itself — the differential proof
    // the safe path is a drop-in replacement. SQL ntile front-loads
    // the remainder: the first m mod n buckets hold ⌈m/n⌉ rows, the
    // rest ⌊m/n⌋ (NOT the equal-interval (r−1)·n div m rule, which
    // drifts whenever m mod n > 1)
    Query("q_ntile_safe", (s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull && col("event_type").isNotNull)
        .select(col("event_id"), col("event_type"), col("value"))
      val counts = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("_m"))
      operators.Sampling.groupRank(ev, "event_type", "value", "event_id")
        .join(counts, "event_type")
        .withColumn("_k", expr("_m % 10"))
        .withColumn("_big", expr("(_m div 10) + 1"))
        .withColumn("_small", expr("_m div 10"))
        .select(col("event_id"), col("event_type"),
          when(col("rank") <= col("_k") * col("_big"),
            expr("(rank - 1) div _big") + 1L)
            .otherwise(col("_k") +
              expr("(rank - _k * _big - 1) div _small") + 1L)
            .cast("long").as("decile"))
    }, oracle =
      // deliberately the WINDOW form: the safe path must reproduce
      // ntile itself
      """SELECT event_id, event_type,
        | CAST(ntile(10) OVER (PARTITION BY event_type
        |   ORDER BY value ASC, event_id ASC) AS BIGINT) AS decile
        |FROM events
        |WHERE value IS NOT NULL AND event_type IS NOT NULL""".stripMargin),

    // scale-safe per-group rank: token-count rank + percentile within
    // each LANGUAGE — few huge groups, exactly where a partitioned
    // window would serialize the biggest group on one task; one
    // composite-key range sort + a broadcast |langs|-row offset table
    Query("q_group_rank", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        col("lang"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      operators.Sampling.groupRank(docs, "lang", "n_tokens", "doc_id")
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("rank"), col("pct"))
    }, oracle =
      """WITH t AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'),
        |    x -> len(x) > 0)) AS BIGINT) AS n_tokens
        | FROM documents
        | WHERE lang IS NOT NULL AND doc_id IS NOT NULL)
        |SELECT doc_id, lang, n_tokens,
        | row_number() OVER (PARTITION BY lang
        |  ORDER BY n_tokens, doc_id) AS "rank",
        | round(CAST(row_number() OVER (PARTITION BY lang
        |   ORDER BY n_tokens, doc_id) AS DOUBLE)
        |  / count(*) OVER (PARTITION BY lang), 6) AS pct
        |FROM t""".stripMargin),

    // the capstone composition — what actually feeds a trainer:
    // reproducible shuffle (salted md5 rank) → token-budget packing
    // along that order (distributed prefix sum → 4096-token
    // sequences). Every stage reuses oracled machinery; one range
    // exchange on the hash key, then shardByBudget's two-pass rank
    Query("q_epoch_pack", (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      val ordered = operators.Sampling.shuffleOrder(
          toks.select("doc_id"), "doc_id", salt = "epoch1")
        .join(toks, "doc_id")
      operators.Sampling.shardByBudget(ordered, "pos", "n_tokens",
          budget = 4096L)
        .select(col("doc_id"), col("pos"), col("n_tokens"),
          col("shard").as("seq_id"))
    }, oracle =
      // shuffle rank + exclusive prefix sum of token counts in that
      // order, floor-divided into 4096-token sequences
      """WITH t AS (SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'),
        |    x -> len(x) > 0)) AS BIGINT) AS n_tokens
        | FROM documents WHERE doc_id IS NOT NULL),
        |o AS (SELECT doc_id, n_tokens, row_number() OVER (
        |  ORDER BY md5('shuf:epoch1:' || CAST(doc_id AS VARCHAR)))
        |   AS pos FROM t)
        |SELECT doc_id, pos, n_tokens,
        | CAST(floor(COALESCE(sum(n_tokens) OVER (ORDER BY pos
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |  / 4096.0) AS BIGINT) AS seq_id
        |FROM o""".stripMargin)
  )
}
