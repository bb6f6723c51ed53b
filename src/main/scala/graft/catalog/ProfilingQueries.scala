package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextOps
import graft.sources.Tables

/** Profiling queries ([[operators.Profiling]]): data profiles and
  * constraints, distinct-count and frequency sketches, quantiles,
  * drift tests and the trained quality gate.
  */
object ProfilingQueries {

  /** The GD gate's feature frame — ONE definition shared by
    * `q_linear_fit` and `q_trained_gate` (the Spark twin of
    * [[linearFitCtes]]'s single-definition rule): pre-rounded
    * portable doubles (capped token/char ratios) + the en label.
    */
  private def gateFeatures(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"),
      round(least(TextOps.tokenCount(col("text")).cast("double"),
        lit(200.0)) / lit(200.0), 6).as("x_tokens"),
      round(least(col("n_chars").cast("double"), lit(2000.0))
        / lit(2000.0), 6).as("x_chars"),
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))

  /** Shared CTE body for the GD-fit oracles: features (pre-rounded
    * portable doubles + en label), n, and the 3 unrolled
    * gradient/update steps w0 → w3 — kept in ONE place so the fit
    * query and the trained-gate query replay the SAME weights.
    */
  private lazy val linearFitCtes: String = {
    val steps = (1 to 3).map { i =>
      val p = s"round(w.wb * 1.0 + w.w1 * f.x1 + w.w2 * f.x2, 12)"
      s"""g$i AS (SELECT
         |  sum(CAST(round(($p - f.y) * 1.0, 12)
         |    AS DECIMAL(38,12))) AS sb,
         |  sum(CAST(round(($p - f.y) * f.x1, 12)
         |    AS DECIMAL(38,12))) AS s1,
         |  sum(CAST(round(($p - f.y) * f.x2, 12)
         |    AS DECIMAL(38,12))) AS s2
         | FROM f2 f CROSS JOIN w${i - 1} w),
         |w$i AS (SELECT
         |  round(w.wb - CAST(0.1 AS DOUBLE)
         |    * round(CAST(g.sb AS DOUBLE) / n.n, 12), 12) AS wb,
         |  round(w.w1 - CAST(0.1 AS DOUBLE)
         |    * round(CAST(g.s1 AS DOUBLE) / n.n, 12), 12) AS w1,
         |  round(w.w2 - CAST(0.1 AS DOUBLE)
         |    * round(CAST(g.s2 AS DOUBLE) / n.n, 12), 12) AS w2
         | FROM w${i - 1} w CROSS JOIN g$i g CROSS JOIN n)""".stripMargin
    }.mkString(",\n")
    s"""feat AS (SELECT doc_id,
       |  round(LEAST(CAST(len(list_filter(string_split_regex(text,
       |      '\\s+'), t -> len(t) > 0)) AS DOUBLE),
       |    CAST(200 AS DOUBLE)) / CAST(200 AS DOUBLE), 6) AS x_tokens,
       |  round(LEAST(CAST(n_chars AS DOUBLE), CAST(2000 AS DOUBLE))
       |    / CAST(2000 AS DOUBLE), 6) AS x_chars,
       |  CASE WHEN lang = 'en' THEN CAST(1 AS DOUBLE)
       |    ELSE CAST(0 AS DOUBLE) END AS y FROM documents),
       |f2 AS (SELECT doc_id, x_tokens AS x1, x_chars AS x2, y FROM feat),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM feat),
       |w0 AS (SELECT CAST(0 AS DOUBLE) AS wb, CAST(0 AS DOUBLE) AS w1,
       |  CAST(0 AS DOUBLE) AS w2),
       |$steps""".stripMargin
  }

  lazy val all: Seq[Query] = Seq(
    // per-column profile in one scan: null counts, cardinalities,
    // portable-rendered min/max — the declarative form of the
    // reference's inline completeness/row-width checks
    Query("q_profile", (s, dir) => {
      operators.Profiling.profile(Tables.lineitem(s, dir),
        Seq("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
          "l_shipdate"))
    }, oracle = {
      def intCol(c: String) =
        s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
           | CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
           | CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           | CAST(min($c) AS VARCHAR) AS min_val,
           | CAST(max($c) AS VARCHAR) AS max_val FROM lineitem""".stripMargin
      def dblCol(c: String) =
        s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
           | CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
           | CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           | CAST(CAST(round(min($c), 6) AS DECIMAL(28,6)) AS VARCHAR)
           |   AS min_val,
           | CAST(CAST(round(max($c), 6) AS DECIMAL(28,6)) AS VARCHAR)
           |   AS max_val FROM lineitem""".stripMargin
      def tsCol(c: String) =
        s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
           | CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
           | CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           | strftime(min($c), '%Y-%m-%d %H:%M:%S') AS min_val,
           | strftime(max($c), '%Y-%m-%d %H:%M:%S') AS max_val
           |FROM lineitem""".stripMargin
      Seq(intCol("l_orderkey"), intCol("l_linenumber"),
        dblCol("l_quantity"), intCol("l_returnflag"),
        tsCol("l_shipdate")).mkString("\nUNION ALL\n")
    }),

    // declarative data-quality suite over lineitem: completeness,
    // ranges (l_tax's tight bound may FAIL — failing rows are the
    // report's point), composite-key uniqueness, FK integrity
    // one UNION ALL branch per profiled column; min/max rendered
    // through the same portable forms as the Spark side (ints/strings
    // as-is, doubles via DECIMAL(28,6), timestamps via an explicit
    // second-precision format)
    // constraint-suite oracle: one SELECT per constraint, unioned;
    // "constraint" is quoted (SQL keyword); labels replicate the
    // Scala-side Double rendering (1.0, 50.0)
    Query("q_constraints", (s, dir) => {
      import operators.Profiling.Constraint._
      operators.Profiling.checkConstraints(Tables.lineitem(s, dir), Seq(
        NotNull("l_orderkey"),
        NotNull("l_returnflag"),
        InRange("l_quantity", 1.0, 50.0),
        InRange("l_discount", 0.0, 0.1),
        InRange("l_tax", 0.0, 0.05),
        Unique(Seq("l_orderkey", "l_linenumber")),
        ForeignKey("l_orderkey", Tables.orders(s, dir), "o_orderkey")))
    }, oracle = {
      def notNull(c: String) =
        s"""SELECT 'not_null($c)' AS "constraint",
           | CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
           |   / count(*) AS observed,
           | (CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
           |   / count(*)) <= 0.0 AS passed FROM lineitem""".stripMargin
      def inRange(c: String, lo: String, hi: String) =
        s"""SELECT 'in_range($c,$lo,$hi)' AS "constraint",
           | CAST(sum(CASE WHEN $c IS NOT NULL AND ($c < $lo OR $c > $hi)
           |   THEN 1 ELSE 0 END) AS DOUBLE) AS observed,
           | CAST(sum(CASE WHEN $c IS NOT NULL AND ($c < $lo OR $c > $hi)
           |   THEN 1 ELSE 0 END) AS DOUBLE) <= 0.0 AS passed
           |FROM lineitem""".stripMargin
      s"""${notNull("l_orderkey")}
         |UNION ALL ${notNull("l_returnflag")}
         |UNION ALL ${inRange("l_quantity", "1.0", "50.0")}
         |UNION ALL ${inRange("l_discount", "0.0", "0.1")}
         |UNION ALL ${inRange("l_tax", "0.0", "0.05")}
         |UNION ALL SELECT 'unique(l_orderkey,l_linenumber)'
         |  AS "constraint",
         | CAST(coalesce(sum(n - 1), 0) AS DOUBLE) AS observed,
         | CAST(coalesce(sum(n - 1), 0) AS DOUBLE) <= 0.0 AS passed
         | FROM (SELECT count(*) AS n FROM lineitem
         |   GROUP BY l_orderkey, l_linenumber) t
         |UNION ALL SELECT 'foreign_key(l_orderkey)' AS "constraint",
         | CAST(coalesce(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0
         |   END), 0) AS DOUBLE) AS observed,
         | CAST(coalesce(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0
         |   END), 0) AS DOUBLE) <= 0.0 AS passed
         | FROM (SELECT l.l_orderkey, o.o_orderkey FROM lineitem l
         |   LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
         |   WHERE l.l_orderkey IS NOT NULL) j""".stripMargin
    }),

    // KMV distinct sketch: bounded O(k) aggregation state per group,
    // yet every step (md5, bottom-k, one division) replays exactly in
    // an independent engine — an ORACLED approximate-distinct
    Query("q_kmv_distinct", (s, dir) => {
      operators.Profiling.kmvDistinct(Tables.events(s, dir),
        "event_type", "user_id", 64)
    }, oracle =
      // the sketch replayed exactly: 60-bit md5 hashes, bottom-64 per
      // group, estimate = (k-1)/R with R = kth-min normalized by 2^60
      // (63 * 2^60 is exactly representable in a double; the final
      // division is the single rounded step on both engines)
      """WITH d AS (
        | SELECT DISTINCT event_type, user_id FROM events
        | WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
        |h AS (
        | SELECT event_type,
        |  CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |    AS BIGINT) AS h
        | FROM d),
        |r AS (
        | SELECT event_type, h, row_number() OVER (
        |   PARTITION BY event_type ORDER BY h ASC) AS rn
        | FROM h)
        |SELECT event_type,
        | CAST(count(*) AS BIGINT) AS n_kept,
        | max(h) AS kth_hash,
        | round(CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
        |   ELSE 63.0 * 1152921504606846976.0 / CAST(max(h) AS DOUBLE)
        |  END, 4) AS est_distinct
        |FROM r WHERE rn <= 64 GROUP BY event_type""".stripMargin),

    // HLL distinct sketch (p=9, 512 registers): max-mergeable register
    // state — the shardable/daily-rollup sibling of q_kmv_distinct —
    // with the register sum folded as an exact BIGINT so even the
    // estimate replays bit-for-bit in the oracle
    Query("q_hll_distinct", (s, dir) => {
      operators.Profiling.hllDistinct(Tables.events(s, dir),
        "event_type", "user_id", 9)
    }, oracle =
      // the HLL registers replayed exactly: same 60-bit md5 hash,
      // bucket = h mod 512, rho via integer bitlength (no float log),
      // register sum rescaled by 2^52 so it folds as an exact BIGINT;
      // the single long->double conversion and alpha*m^2*2^52/S division
      // round identically in both engines, as does the linear-counting
      // branch (one ln)
      """WITH h AS (
        | SELECT event_type,
        |  CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |    AS BIGINT) AS h
        | FROM events
        | WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
        |r AS (
        | SELECT event_type, h % 512 AS bucket,
        |  CASE WHEN h // 512 = 0 THEN 52
        |   ELSE 52 - length(format('{:b}', h // 512)) END AS rho
        | FROM h),
        |regs AS (
        | SELECT event_type, bucket, max(rho) AS m_j
        | FROM r GROUP BY 1, 2),
        |s AS (
        | SELECT event_type,
        |  sum(CAST(1 AS BIGINT) << (52 - m_j)) AS sp,
        |  CAST(count(*) AS BIGINT) AS n_registers
        | FROM regs GROUP BY 1),
        |e AS (
        | SELECT event_type, n_registers,
        |  0.7213 / (1.0 + 1.079 / 512.0) * 512.0 * 512.0
        |    * 4503599627370496.0
        |    / CAST(sp + (512 - n_registers)
        |        * (CAST(1 AS BIGINT) << 52) AS DOUBLE) AS raw
        | FROM s)
        |SELECT event_type, n_registers,
        | round(CASE WHEN raw <= 1280.0 AND n_registers < 512
        |   THEN 512.0 * ln(512.0 / CAST(512 - n_registers AS DOUBLE))
        |   ELSE raw END, 4) AS est_distinct
        |FROM e""".stripMargin),

    // rare-token novelty ratio against a CMS frozen from the ENGLISH
    // half of the corpus: per document, the share of token
    // occurrences whose reference-frequency estimate is < 50 — the
    // bounded-memory "is this text ordinary for the reference
    // corpus" gate (the frozen sketch is the artifact a streaming
    // crawl would score against)
    Query("q_rare_tokens", (s, dir) => {
      val docs = Tables.documents(s, dir)
      // sketch from the (token, count) aggregate, not the raw stream
      // (r16, the q_cms_tokens form): cell-identical (counts are
      // linear, ProfilingSpec pin), md5 per distinct token instead of
      // ×depth per occurrence
      val refCounts = docs.filter(col("lang") === "en")
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
      val sketch = operators.Profiling.countMinSketchOfCounts(refCounts,
        "token", "n", depth = 4, width = 512)
      TextOps.rareTokenRatio(docs, "doc_id", "text", sketch,
        depth = 4, width = 512, rareBelow = 50L)
    }, oracle =
      // the frozen-CMS novelty gate replayed: en-only sketch cells,
      // per-distinct-token min-over-rows estimates, then each doc's
      // occurrence-weighted share of sub-50-estimate tokens
      """WITH rtoks AS (SELECT unnest(list_filter(
        |  string_split_regex(text, '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents WHERE lang = 'en'),
        |cells AS (SELECT d.d AS d,
        |    CAST('0x' || substring(md5(CAST(d.d AS VARCHAR) || ':'
        |      || token), 1, 8) AS BIGINT) % 512 AS w,
        |    count(*) AS cnt
        |  FROM rtoks, generate_series(0, 3) d(d) GROUP BY 1, 2),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(text, '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents) t GROUP BY doc_id, token),
        |vocab AS (SELECT DISTINCT token FROM tf),
        |est AS (SELECT v.token, min(COALESCE(c.cnt, 0)) AS cms_est
        |  FROM vocab v CROSS JOIN generate_series(0, 3) d(d)
        |  LEFT JOIN cells c ON c.d = d.d
        |    AND c.w = CAST('0x' || substring(md5(CAST(d.d AS VARCHAR)
        |      || ':' || v.token), 1, 8) AS BIGINT) % 512
        |  GROUP BY v.token)
        |SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
        | round(CAST(sum(CASE WHEN est.cms_est < 50 THEN tf.tf ELSE 0 END)
        |     AS DOUBLE) / CAST(sum(tf.tf) AS DOUBLE), 6) AS rare_ratio
        |FROM tf JOIN est ON tf.token = est.token
        |GROUP BY tf.doc_id""".stripMargin),

    // count-min sketch over the corpus token stream (depth 4 × width
    // 512), point-estimated for the exact top-50 tokens: est ≥ exact
    // always (collisions only add), and both the sketch cells and the
    // min-over-rows estimate replay exactly from the md5 hash family
    Query("q_cms_tokens", (s, dir) => {
      // ONE tokenize pass + ONE token-count exchange serve both
      // artifacts (r16, guide §2.3/§2.4): the sketch derives from the
      // exact counts (counts are linear — cell-identical to the
      // per-occurrence build, spec-pinned in ProfilingSpec) and the
      // top-50 ranks the same aggregate, so ReuseExchange dedupes the
      // corpus scan under every consumer; the r6-r15 form tokenized
      // the corpus once per artifact and md5-hashed every OCCURRENCE
      // (×depth) instead of every distinct token.
      val counts = Tables.documents(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("exact_cnt"))
      val sketch = operators.Profiling.countMinSketchOfCounts(counts,
        "token", "exact_cnt", depth = 4, width = 512)
      val top = counts
        .orderBy(col("exact_cnt").desc, col("token").asc)
        .limit(50)
      top.join(operators.Profiling.cmsEstimate(sketch, top, "token",
          depth = 4, width = 512), Seq("token"))
        .select(col("token"), col("exact_cnt"), col("cms_est"))
    }, oracle =
      // CMS cells rebuilt from the same salted md5 family (leading 32
      // bits of md5(d || ':' || token) mod 512 per depth row d), top-50
      // tokens by exact count (ties token asc), estimate = min over the
      // token's 4 cells with absent cells as 0
      """WITH toks AS (SELECT unnest(list_filter(
        |  string_split_regex(text, '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |cells AS (SELECT d.d AS d,
        |    CAST('0x' || substring(md5(CAST(d.d AS VARCHAR) || ':'
        |      || token), 1, 8) AS BIGINT) % 512 AS w,
        |    count(*) AS cnt
        |  FROM toks, generate_series(0, 3) d(d) GROUP BY 1, 2),
        |top AS (SELECT token, count(*) AS exact_cnt FROM toks
        |  GROUP BY token ORDER BY exact_cnt DESC, token ASC LIMIT 50),
        |est AS (SELECT t.token, min(COALESCE(c.cnt, 0)) AS cms_est
        |  FROM top t CROSS JOIN generate_series(0, 3) d(d)
        |  LEFT JOIN cells c ON c.d = d.d
        |    AND c.w = CAST('0x' || substring(md5(CAST(d.d AS VARCHAR)
        |      || ':' || t.token), 1, 8) AS BIGINT) % 512
        |  GROUP BY t.token)
        |SELECT top.token, top.exact_cnt, est.cms_est
        |FROM top JOIN est ON top.token = est.token""".stripMargin),

    // distribution drift between cohorts (view = baseline, click =
    // current): per-bin shares + the ln-free triangular term — the
    // data-health check run before a new crawl joins the corpus
    Query("q_dist_drift", (s, dir) => {
      val ev = Tables.events(s, dir)
      operators.Profiling.distributionDrift(
        ev.filter(col("event_type") === "view").select(col("value")),
        ev.filter(col("event_type") === "click").select(col("value")),
        "value", 10.0)
    }, oracle =
      // conditional counts per bin, window totals, one IEEE-op chain
      // per output — ln-free drift term
      """WITH tagged AS (
        | SELECT CAST(floor(value / 10.0) AS BIGINT) AS bin, 0 AS side
        | FROM events WHERE event_type = 'view' AND value IS NOT NULL
        | UNION ALL
        | SELECT CAST(floor(value / 10.0) AS BIGINT) AS bin, 1 AS side
        | FROM events WHERE event_type = 'click' AND value IS NOT NULL),
        |counts AS (
        | SELECT bin,
        |  CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_base,
        |  CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_cur
        | FROM tagged GROUP BY 1)
        |SELECT bin, n_base, n_cur,
        | round(pb, 9) AS p_base, round(pc, 9) AS p_cur,
        | round((pb - pc) * (pb - pc) / (pb + pc), 9) AS drift
        |FROM (
        | SELECT bin, n_base, n_cur,
        |  CAST(n_base AS DOUBLE) / CAST(sum(n_base) OVER () AS DOUBLE)
        |    AS pb,
        |  CAST(n_cur AS DOUBLE) / CAST(sum(n_cur) OVER () AS DOUBLE)
        |    AS pc
        | FROM counts) t""".stripMargin),

    // 2x2 chi-square A/B test per event_type: arms by user-id parity,
    // conversion = value >= 50 — four exact cell counts from one
    // aggregate, one fixed IEEE formula, α=0.05 critical value
    Query("q_ab_test", (s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .withColumn("arm_a", col("user_id") % 2 === 0)
        .withColumn("hit", col("value") >= 50)
      operators.Profiling.abTest(ev, Seq("event_type"), "arm_a", "hit")
    }, oracle =
      // four conditional-count cells, the same fixed double formula
      """WITH cells AS (
        | SELECT event_type,
        |  sum(CASE WHEN user_id % 2 = 0 AND value >= 50
        |    THEN 1 ELSE 0 END) AS a,
        |  sum(CASE WHEN user_id % 2 <> 0 AND value >= 50
        |    THEN 1 ELSE 0 END) AS b,
        |  sum(CASE WHEN user_id % 2 = 0 AND value < 50
        |    THEN 1 ELSE 0 END) AS c,
        |  sum(CASE WHEN user_id % 2 <> 0 AND value < 50
        |    THEN 1 ELSE 0 END) AS d
        | FROM events
        | WHERE value IS NOT NULL AND event_type IS NOT NULL
        | GROUP BY 1),
        |f AS (
        | SELECT event_type,
        |  CAST(a AS DOUBLE) AS fa, CAST(b AS DOUBLE) AS fb,
        |  CAST(c AS DOUBLE) AS fc, CAST(d AS DOUBLE) AS fd,
        |  CAST(a + c AS BIGINT) AS n_a, CAST(a AS BIGINT) AS conv_a,
        |  CAST(b + d AS BIGINT) AS n_b, CAST(b AS BIGINT) AS conv_b
        | FROM cells)
        |SELECT event_type, n_a, conv_a, n_b, conv_b,
        | CASE WHEN (fa + fc) * (fb + fd) * (fa + fb) * (fc + fd) > 0.0
        |  THEN round(((fa + fb + fc + fd) *
        |    ((fa * fd - fb * fc) * (fa * fd - fb * fc)))
        |   / ((fa + fc) * (fb + fd) * (fa + fb) * (fc + fd)), 6)
        | END AS chi2,
        | CASE WHEN (fa + fc) * (fb + fd) * (fa + fb) * (fc + fd) > 0.0
        |  THEN (((fa + fb + fc + fd) *
        |    ((fa * fd - fb * fc) * (fa * fd - fb * fc)))
        |   / ((fa + fc) * (fb + fd) * (fa + fb) * (fc + fd)))
        |   > 3.841459
        | END AS significant
        |FROM f""".stripMargin),

    // per-entity exact two-sample KS: does this user's click-value
    // distribution match their view-value distribution? ECDF gaps as
    // exact integers over the common n_a·n_b denominator, one double
    // division at the end; squared asymptotic significance test
    Query("q_ks_drift", (s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "view"))
        .withColumn("is_click", col("event_type") === "click")
      operators.Profiling.ksTest(ev, Seq("user_id"), "value",
        "is_click")
    }, oracle =
      // tie-collapsed (key, value) counts, running ECDF sums, the
      // integer gap maximum, one double division + the squared
      // significance comparison — every step the Spark chain verbatim
      """WITH f AS (
        | SELECT user_id, value AS v, (event_type = 'click') AS tag
        | FROM events
        | WHERE event_type IN ('click', 'view')
        |   AND user_id IS NOT NULL AND value IS NOT NULL),
        |c AS (
        | SELECT user_id, v,
        |  sum(CASE WHEN tag THEN 1 ELSE 0 END) AS ca,
        |  sum(CASE WHEN NOT tag THEN 1 ELSE 0 END) AS cb
        | FROM f GROUP BY 1, 2),
        |r AS (
        | SELECT user_id, v,
        |  sum(ca) OVER w AS ra, sum(cb) OVER w AS rb,
        |  sum(ca) OVER a AS na, sum(cb) OVER a AS nb
        | FROM c
        | WINDOW w AS (PARTITION BY user_id ORDER BY v ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  a AS (PARTITION BY user_id)),
        |g AS (
        | SELECT user_id, max(na) AS n_a, max(nb) AS n_b,
        |  max(abs(ra * nb - rb * na)) AS num
        | FROM r WHERE na > 0 AND nb > 0 GROUP BY 1)
        |SELECT user_id, CAST(n_a AS BIGINT) AS n_a,
        | CAST(n_b AS BIGINT) AS n_b,
        | round(CAST(num AS DOUBLE) / CAST(n_a * n_b AS DOUBLE), 6)
        |   AS ks_d,
        | (CAST(num AS DOUBLE) * CAST(num AS DOUBLE) >
        |  1.358 * 1.358 * CAST((n_a + n_b) * n_a * n_b AS DOUBLE))
        |   AS significant
        |FROM g""".stripMargin),

    // exact global quantiles by distributed rank selection: range-
    // partitioned single-column sort + O(partitions) driver offset
    // fold — never a one-reducer percentile aggregate
    Query("q_rank_select", (s, dir) =>
      operators.Profiling.rankSelect(Tables.lineitem(s, dir),
        "l_extendedprice", Seq(0.25, 0.5, 0.9, 0.99)), oracle =
      // rank semantics: value at 1-based rank ceil(q*n) of the ascending
      // sort; row_number ties are harmless (equal values at equal ranks)
      """WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS value
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |n AS (SELECT count(*) AS n FROM v),
        |r AS (SELECT value,
        |  row_number() OVER (ORDER BY value) AS "rank" FROM v),
        |q AS (SELECT CAST(q AS DOUBLE) AS q
        |  FROM (VALUES (0.25), (0.5), (0.9), (0.99)) t(q))
        |SELECT q.q, r."rank", r.value
        |FROM q CROSS JOIN n JOIN r
        | ON r."rank" = GREATEST(1, CAST(ceil(q.q * n.n) AS BIGINT))"""
        .stripMargin),

    // exact WEIGHTED quantiles: the price below which q of the total
    // QUANTITY sits — same range-sort + distributed-prefix machinery
    // as q_rank_select, targets broadcast as an interval probe;
    // integral weights keep the cumulative engine-exact
    Query("q_rank_select_weighted", (s, dir) =>
      operators.Profiling.rankSelectWeighted(Tables.lineitem(s, dir),
        "l_extendedprice", "l_quantity", Seq(0.25, 0.5, 0.9, 0.99)), oracle =
      // interval semantics: the row whose (cum−w, cum] catches q·W;
      // tie rows share the value so the window's tie order is harmless
      """WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS value,
        |  CAST(l_quantity AS DOUBLE) AS w
        | FROM lineitem
        | WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        |   AND l_quantity > 0),
        |tw AS (SELECT CAST(sum(w) AS DOUBLE) AS tw FROM v),
        |r AS (SELECT value, w, sum(w) OVER (ORDER BY value
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumi
        | FROM v),
        |q AS (SELECT CAST(q AS DOUBLE) AS q
        |  FROM (VALUES (0.25), (0.5), (0.9), (0.99)) t(q))
        |SELECT q.q, r.value
        |FROM q CROSS JOIN tw JOIN r
        | ON r.cumi - r.w < q.q * tw.tw AND q.q * tw.tw <= r.cumi"""
        .stripMargin),

    // one-pass quantile SKETCH: deterministic md5 bottom-k row sample
    // (O(k) state per task, values never shuffle — the kept hashes
    // broadcast back as a semi-join filter), exact discrete quantiles
    // of the ≤k-row sample. Deterministic sample ⇒ the estimate
    // itself is oracle-replayable even in the approximate regime
    Query("q_sample_quantiles", (s, dir) => {
      val li = Tables.lineitem(s, dir).withColumn("_rid",
        concat_ws(":", col("l_orderkey"), col("l_linenumber")))
      operators.Profiling.sampleQuantiles(li, "_rid", "l_extendedprice",
        256, Seq(0.25, 0.5, 0.9, 0.99))
    }, oracle =
      // the deterministic md5 bottom-k sample is replayed literally
      // (ORDER BY hash LIMIT k), then the same rank arithmetic as
      // q_rank_select over the ≤k sampled rows
      """WITH r AS (
        | SELECT CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)
        |     || ':' || CAST(l_linenumber AS VARCHAR)), 1, 15))
        |   AS BIGINT) AS h,
        |  CAST(l_extendedprice AS DOUBLE) AS value
        | FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |s AS (SELECT h, value FROM r ORDER BY h ASC LIMIT 256),
        |n AS (SELECT count(*) AS n FROM s),
        |o AS (SELECT value,
        |  row_number() OVER (ORDER BY value, h) AS "rank" FROM s),
        |q AS (SELECT CAST(q AS DOUBLE) AS q
        |  FROM (VALUES (0.25), (0.5), (0.9), (0.99)) t(q))
        |SELECT q.q, o."rank", o.value
        |FROM q CROSS JOIN n JOIN o
        | ON o."rank" = GREATEST(1, CAST(ceil(q.q * n.n) AS BIGINT))"""
        .stripMargin),

    // per-GROUP quantile sketch: per-language token-count percentiles
    // from each language's deterministic bottom-64 row sample — O(k)
    // state per group per task, values join back by (group, hash)
    Query("q_sample_quantiles_by_lang", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("lang"),
        col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens"))
      operators.Profiling.sampleQuantilesByKey(docs, "lang", "doc_id",
        "n_tokens", 64, Seq(0.5, 0.9))
    }, oracle =
      // per-language replay of the deterministic bottom-64 sample; the
      // sample is data-determined, so even the approximate regime (en
      // has > 64 docs) hash-matches
      """WITH t AS (SELECT lang, doc_id,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |    AS BIGINT) AS h,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'),
        |    x -> len(x) > 0)) AS DOUBLE) AS value
        | FROM documents WHERE lang IS NOT NULL AND doc_id IS NOT NULL),
        |s AS (SELECT lang, h, value, row_number() OVER (
        |  PARTITION BY lang ORDER BY h) AS rh FROM t),
        |ss AS (SELECT lang, h, value FROM s WHERE rh <= 64),
        |o AS (SELECT lang, value, row_number() OVER (
        |   PARTITION BY lang ORDER BY value, h) AS "rank",
        |  count(*) OVER (PARTITION BY lang) AS n FROM ss),
        |q AS (SELECT CAST(q AS DOUBLE) AS q
        |  FROM (VALUES (0.5), (0.9)) t(q))
        |SELECT o.lang, q.q, o."rank", o.value
        |FROM q CROSS JOIN o
        |WHERE o."rank" = GREATEST(1, CAST(ceil(q.q * o.n) AS BIGINT))"""
        .stripMargin),

    // per-group heavy hitters with bounded Misra–Gries state (≤k
    // counters per group per task); k=16 ≥ the 5 distinct priorities
    // ⇒ the exact regime the oracle pins — at scale the same plan
    // enumerates top tokens per domain with the n/(k+1) MG bound
    Query("q_freq_items", (s, dir) =>
      operators.Profiling.freqItemsByKey(Tables.orders(s, dir),
        "o_orderstatus", "o_orderpriority", 16), oracle =
      // exact regime (16 counters ≥ 5 distinct priorities): the MG
      // summary equals the plain per-group counts
      """SELECT o_orderstatus, CAST(o_orderpriority AS VARCHAR) AS item,
        | count(*) AS cnt
        |FROM orders
        |WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
        |GROUP BY 1, 2""".stripMargin),

    // equi-depth binning: the global ntile WITHOUT a global ordered
    // window — rank-selected boundaries broadcast as one array row,
    // assignment row-local, ties stable (8 = power of two keeps the
    // boundary ranks engine-exact)
    Query("q_equidepth", (s, dir) =>
      operators.Profiling.equiDepthBins(Tables.lineitem(s, dir),
        "l_extendedprice", nBins = 8), oracle =
      // boundary i = value at rank ceil((i/8)*n); bin = 1 + #boundaries
      // strictly below the value (ties stable by construction)
      """WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS value
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |n AS (SELECT count(*) AS n FROM v),
        |r AS (SELECT value, row_number() OVER (ORDER BY value) AS rk
        |  FROM v),
        |b AS (SELECT r.value AS bv
        |  FROM r CROSS JOIN n JOIN generate_series(1, 7) s(i)
        |   ON r.rk = GREATEST(1,
        |     CAST(ceil(CAST(s.i AS DOUBLE) / 8 * n.n) AS BIGINT))),
        |bs AS (SELECT list(bv ORDER BY bv) AS bl FROM b),
        |a AS (SELECT value,
        |  1 + len(list_filter(bs.bl, x -> value > x)) AS bin
        | FROM v CROSS JOIN bs)
        |SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n,
        | min(value) AS vmin, max(value) AS vmax
        |FROM a GROUP BY 1""".stripMargin),

    // distributed GD training of a linear lang-prior gate: 3 full-
    // batch steps, each ONE decimal gradient aggregate + an
    // O(features) driver update re-broadcast as literals — the
    // parameter-server shape; weights replayed step-for-step by the
    // oracle's unrolled CTEs
    Query("q_linear_fit", (s, dir) =>
      operators.Profiling.linearFitGD(gateFeatures(s, dir),
        Seq("x_tokens", "x_chars"), "y", steps = 3, lr = 0.1), oracle =
      // the GD fit unrolled: per step, one decimal gradient sum per
      // weight, then the same round(w - lr*round(sum/n,12), 12) driver
      // arithmetic — weights bit-identical at every step
      s"""WITH $linearFitCtes
         |SELECT * FROM (
         | SELECT 'bias' AS feature, wb AS weight FROM w3
         | UNION ALL SELECT 'x_tokens', w1 FROM w3
         | UNION ALL SELECT 'x_chars', w2 FROM w3) t""".stripMargin),

    // train-then-serve: fit the gate's weights (same 3-step GD), then
    // score every document with them as literals and keep the docs
    // scoring STRICTLY ABOVE THE CORPUS MEAN — a scale-free cut (an
    // absolute threshold is meaningless when the learned weight scale
    // moves with the corpus); mean over exact 6dp-decimal scores, so
    // the cut itself is engine-portable
    Query("q_trained_gate", (s, dir) => {
      val feats = gateFeatures(s, dir)
      val w = operators.Profiling.linearFitGD(feats,
          Seq("x_tokens", "x_chars"), "y", steps = 3, lr = 0.1)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val score = round(lit(w("bias")) +
        lit(w("x_tokens")) * col("x_tokens") +
        lit(w("x_chars")) * col("x_chars"), 6)
      val scored = feats.select(col("doc_id"), score.as("score"))
      val m = scored.agg(
        round(sum(col("score").cast("decimal(38,6)")).cast("double")
          / count(lit(1)), 6).as("__m"))
      scored.crossJoin(broadcast(m))
        .filter(col("score") > col("__m"))
        .select(col("doc_id"), col("score"))
    }, oracle =
      // score with the TRAINED weights (bit-identical to the fit
      // oracle's w3 row) and keep the docs above the corpus-mean score
      // — train-then-serve in one statement
      s"""WITH $linearFitCtes,
         |sc AS (SELECT f.doc_id,
         |  round(w.wb + w.w1 * f.x1 + w.w2 * f.x2, 6) AS score
         | FROM f2 f CROSS JOIN w3 w),
         |m AS (SELECT round(CAST(sum(CAST(score AS DECIMAL(38,6)))
         |    AS DOUBLE) / count(*), 6) AS m FROM sc)
         |SELECT sc.doc_id, sc.score FROM sc CROSS JOIN m
         |WHERE sc.score > m.m""".stripMargin)
  )
}
