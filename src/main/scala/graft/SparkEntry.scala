package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{ScalarOps, TextExpressions, VectorExpressions}
import graft.operators.{Dedup, Multimodal, Relational, Similarity, TextOps}
import graft.sources.Tables

/** Driver contract — one named query per implemented operator from
  * SURVEY.md §2 (+ §2.10 extensions), each with a DuckDB oracle in
  * [[oracleSql]] where ANSI-SQL-expressible; hash-based operators
  * (minhash/simhash/knn) are rows-only checks.
  *
  * Role mapping (FIXTURES.md §A): `events` plays the status/metric
  * stream, `customer`/`nation` the membership + enrichment dimensions,
  * `lineitem` the wide metric fact table, `part` the type-routing
  * table, `documents`/`embeddings` the §2.10 extension operators.
  *
  * Oracle-parity conventions: aggregate money/double sums go through
  * DECIMAL(18,x) (exact, order-independent) then cast to double;
  * counts are cast to long (DuckDB len()/count() are BIGINT); ratios
  * are rounded to fixed decimals computed identically on both sides.
  */
object SparkEntry {

  /** Flagship: the §3.2 status-enrichment pipeline shape on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    statusEnrich(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- //

  private def statusEnrich(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val cust = Tables.customer(s, dir)
    val members = cust.filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("user_id"))
    val details = cust.join(Tables.nation(s, dir),
        cust("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as("user_id"), col("c_name"),
        col("n_name").as("nation_name"), col("c_acctbal"))
    val enriched = Relational.enrich(
      Relational.semiJoinMembers(ev, members, Seq("user_id")),
      details, Seq("user_id"),
      Map("c_name" -> "unknown", "nation_name" -> "unknown"))
    enriched
      .filter(col("value").isNotNull && col("ts").isNotNull)
      .select(
        col("event_id"), col("user_id"),
        ScalarOps.datetime2ToEpoch(
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")).as("ts_epoch"),
        col("c_name"), col("nation_name"), col("event_type"),
        when(col("event_type") === "click", 0)
          .when(col("event_type") === "view", 1)
          .when(col("event_type") === "purchase", 2)
          .when(col("event_type") === "signup", 3)
          .otherwise(-1).as("status_code"),
        round(col("value"), 2).as("value2"))
  }

  /** Exact, order-independent sum of a double measure: through decimal,
    * out as double.
    */
  private def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  /** The injected-near-dup corpus shared by the minhash pair/dedup
    * queries: documents plus a shifted-id, suffix-edited copy of the
    * first 20 docs. ONE definition on each side (Scala here, SQL in
    * [[nearDupCorpusSql]]) — the oracle ground truth depends on the
    * two staying identical.
    */
  private def nearDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    docs.unionByName(docs.filter(col("doc_id") < 20)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" near dup suffix")).as("text")))
  }

  private val nearDupCorpusSql: String =
    """docs AS (
      | SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 1000000 AS doc_id,
      |   text || ' near dup suffix' AS text
      | FROM documents WHERE doc_id < 20)""".stripMargin

  /** The support-2 part co-purchase graph shared by the graph-family
    * queries (`q_triangles`, `q_kcore`): distinct part pairs within
    * an order, kept when ≥ 2 orders agree. Pair generation is a
    * per-order fold, not a self-join: orders are tiny (≤ 13 lines),
    * so collect the distinct sorted part list per order (ONE
    * exchange) and emit u<v combos map-side — the join+distinct form
    * pays a 600k × 600k sort-merge plus a 3-column distinct exchange
    * for the same 1.2M pairs (measured ~2× the wall-clock at sf0.1).
    * ONE definition on each side (SQL twin in [[coPurchaseEdgesSql]]).
    */
  // Staged and checkpointed (VERDICT r13 task 3): the edge derivation
  // is the dominant cost of BOTH q_triangles and q_kcore, and the SAME
  // canonical edge set.
  private def coPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    Staged(s, "co_purchase_edges", dir) {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"))
      val pairs = li.groupBy(col("l_orderkey"))
        .agg(array_sort(array_distinct(collect_list(col("l_partkey"))))
          .as("ps"))
        .select(explode(expr(
          "flatten(transform(ps, (x, i) -> " +
            "transform(slice(ps, i + 2, size(ps)), " +
            "y -> struct(x AS u, y AS v))))")).as("p"))
        .select(col("p.u").as("u"), col("p.v").as("v"))
      pairs.groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("s"))
        .filter(col("s") >= 2).select(col("u"), col("v"))
        .localCheckpoint(true)
    }

  /** The order/supplier bipartite graph on LONG node ids
    * (orderkey*2 / suppkey*2+1) shared by the PageRank queries and
    * their forced-distributed verify twins: rank values are
    * independent of node naming, and long join keys roughly halve the
    * per-iteration join/agg cost vs label strings (measured
    * 6.4s -> 5.0s solo-bench). The 'O…'/'S…' labels attach only on
    * the final |nodes|-row result ([[labelRankNodes]]).
    *
    * Staged + checkpointed (VERDICT r14 task 1 — the
    * [[coPurchaseEdges]] convention): `q_pagerank`,
    * `q_personalized_pagerank`, and both `_dist` verify twins each
    * consumed the SAME 1.2M-edge distinct+union derivation from
    * lineitem — the two heaviest graph rows on the r14 floor
    * (2.15 + 2.28 s) re-paid it per query. One derivation per
    * (session, dir); every consumer reads the checkpointed |E|-row
    * long-id table.
    */
  private def orderSupplierEdges(s: SparkSession, dir: String)
      : DataFrame =
    Staged(s, "order_supplier_edges", dir) {
      val pairs = Tables.lineitem(s, dir)
        .select((col("l_orderkey").cast("long") * 2).as("o"),
          (col("l_suppkey").cast("long") * 2 + 1).as("p"))
        .distinct()
      pairs.select(col("o").as("src"), col("p").as("dst"))
        .union(pairs.select(col("p").as("src"), col("o").as("dst")))
        .localCheckpoint(true)
    }

  private def labelRankNodes(ranked: DataFrame): DataFrame =
    ranked.select(when(col("node") % 2 === 0,
        concat(lit("O"), (col("node") / 2).cast("long")))
      .otherwise(concat(lit("S"), ((col("node") - 1) / 2)
        .cast("long"))).as("node"),
      col("pagerank"))

  /** ONE body for `q_pagerank` and its `_dist` verify twin — only the
    * small-graph gate differs (ADVICE r13: the gated queries oracle
    * the driver arm at verify SF, so the distributed decimal dataflow
    * keeps its own driver-oracle row via `localMaxEdges = 0`).
    */
  private def pageRankQuery(s: SparkSession, dir: String,
      localMaxEdges: Long = 2000000L): DataFrame =
    labelRankNodes(operators.Behavior.pageRank(
      orderSupplierEdges(s, dir), "src", "dst",
      iters = 3, damping = 0.85, localMaxEdges = localMaxEdges))

  /** ONE body for `q_personalized_pagerank` and its `_dist` twin. */
  private def pprQuery(s: SparkSession, dir: String,
      localMaxEdges: Long = 2000000L): DataFrame = {
    val seeds = Tables.lineitem(s, dir)
      .filter(col("l_suppkey") % 10 === 0)
      .select((col("l_suppkey").cast("long") * 2 + 1).as("node"))
    labelRankNodes(operators.Behavior.personalizedPageRank(
      orderSupplierEdges(s, dir), "src", "dst", seeds, "node",
      iters = 3, damping = 0.85, localMaxEdges = localMaxEdges))
  }

  /** CTEs `p`, `e0` — the SQL twin of [[coPurchaseEdges]]. */
  private val coPurchaseEdgesSql: String =
    """p AS (
      | SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
      |  greatest(a.l_partkey, b.l_partkey) AS v, a.l_orderkey AS ok
      | FROM lineitem a JOIN lineitem b
      |  ON a.l_orderkey = b.l_orderkey
      |   AND a.l_partkey < b.l_partkey),
      |e0 AS (
      | SELECT u, v FROM (
      |  SELECT u, v, count(*) AS s FROM p GROUP BY 1, 2) t
      | WHERE s >= 2)""".stripMargin

  /** Shared boilerplate tail appended to every 5th doc by the
    * substring-dedup queries: 13 tokens, so its 8-token windows repeat
    * corpus-wide. ONE definition on each side (Scala here, SQL in
    * [[substrCorpusSql]]).
    */
  private val substrTail = " all rights reserved contact the legal" +
    " department for licensing terms and conditions apply"

  private def substrCorpus(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"),
      when(col("doc_id") % 5 === 0, concat(col("text"), lit(substrTail)))
        .otherwise(col("text")).as("text"))

  private val substrCorpusSql: String =
    s"""corpus AS (
       | SELECT doc_id, CASE WHEN doc_id % 5 = 0
       |   THEN text || '$substrTail' ELSE text END AS text
       | FROM documents)""".stripMargin

  /** Curation v2 (shared by `q_curation_v2` and as the structural
    * stage of `q_curation_v3`): corpus-level line dedup → domain
    * blocklist → Gopher repetition gate → PII redaction, output
    * fingerprinting the surviving redacted text. Staged once per
    * (session, dir) like the span/pair stagings — production
    * materializes each curation stage per corpus version, and v3
    * refining v2's survivors must not re-run the whole v2 plan.
    */
  private def curationV2Shared(s: SparkSession, dir: String): DataFrame =
    Staged(s, "curation_v2", dir)(curationV2(s, dir).localCheckpoint(true))

  /** The embedding gram matrix and its derived PCA direction, staged
    * once per (session, dir): four queries (gram, power, project,
    * whiten) share one Θ(dim²)-per-row pass — the "build the second-
    * moment artifact once per corpus version" production shape.
    */
  private def gramShared(s: SparkSession, dir: String): DataFrame =
    Staged(s, "gram", dir)(
      Similarity.gramMatrix(Tables.embeddings(s, dir), "embedding", 64)
        .localCheckpoint(true))
  /** The BM25 index staged once per (session, dir): the exact and
    * df-pruned retrieval queries share one postings/df/length build —
    * index once, serve many (the production split; see
    * [[operators.TextOps.Bm25Index]]).
    */
  private def bm25IndexShared(s: SparkSession,
      dir: String): TextOps.Bm25Index =
    Staged(s, "bm25_index", dir) {
      val raw = TextOps.bm25Index(Tables.documents(s, dir), "doc_id", "text")
      TextOps.Bm25Index(raw.postings.localCheckpoint(true),
        raw.docLen.localCheckpoint(true),
        raw.docFreq.localCheckpoint(true),
        raw.stats.localCheckpoint(true))
    }

  private def pcaWeightsShared(s: SparkSession, dir: String): Array[Double] =
    Staged(s, "pca_weights", dir)(
      Similarity.pcaTopComponentFromGram(gramShared(s, dir), 64, steps = 3))

  private def curationV2(s: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.documents(s, dir).select(col("doc_id"),
      concat(
        lit("subscribe to our newsletter\n"), col("text"),
        when(col("doc_id") % 13 === 0, repeat(lit(" buy now"), 40))
          .otherwise(lit("")),
        lit(" contact u"), col("doc_id"), lit("@example.com via "),
        when(col("doc_id") % 11 === 0,
          lit("https://site3.example.com/track"))
          .otherwise(concat(lit("https://ok"), col("doc_id") % 7,
            lit(".example.org/p"))),
        when(col("doc_id") % 3 === 0, lit("\nthis site uses cookies"))
          .otherwise(lit(""))).as("text"))
    val cleaned = Dedup.dedupCorpusLines(corpus, "doc_id", "text",
      maxOccurrences = 10L)
    // Gopher-style: the repetition gate applies only above a minimum
    // length — min(1, n*topCnt/ntok) saturates on short docs and
    // would reject pristine sub-20-token documents
    val rep = TextOps.repetitionStats(col("text"), 2)
    cleaned
      .filter(!TextOps.hasBlockedHost(col("text"),
        Seq("site3.example.com")))
      .filter(rep.getField("n_tokens") < 20 ||
        rep.getField("top_ngram_frac") <= 0.2)
      .select(col("doc_id"),
        md5(TextOps.redactPii(col("text"))).as("fp"),
        length(TextOps.redactPii(col("text"))).cast("long")
          .as("n_chars"))
  }

  /** Unigram-LM surprisal oracle (the TextOps.surprisal contract in
    * DuckDB): same tokenizer as q_tfidf, counts exact, ln/round on
    * both sides. Also the quality CTE of `q_curation_v3`.
    */
  private val surprisalSql: String =
    """WITH toks AS (SELECT doc_id, unnest(list_filter(
      |  string_split_regex(text, '\s+'), x -> len(x) > 0)) AS token
      |  FROM documents),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
      |  GROUP BY doc_id, token),
      |ct AS (SELECT token, sum(tf) AS c FROM tf GROUP BY token),
      |n AS (SELECT CAST(sum(tf) AS DOUBLE) AS n FROM tf)
      |SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
      | round(ln(n.n) - sum(tf.tf * ln(CAST(ct.c AS DOUBLE)))
      |   / CAST(sum(tf.tf) AS DOUBLE), 6) AS surprisal
      |FROM tf JOIN ct USING (token) CROSS JOIN n
      |GROUP BY tf.doc_id, n.n""".stripMargin

  /** DSIR oracle: the hashed-unigram importance weights replayed —
    * same md5 leading-32-bit bucket hash as the minhash family, add-1
    * smoothing, ln/round parity.
    */
  private val dsirWeightsSql: String =
    """WITH toks AS (SELECT doc_id, unnest(list_filter(
      |  string_split_regex(text, '\s+'), x -> len(x) > 0)) AS token
      |  FROM documents),
      |tf AS (SELECT doc_id,
      |  CAST('0x' || substring(md5(token), 1, 8) AS BIGINT) % 1024 AS b,
      |  count(*) AS tf FROM toks GROUP BY doc_id, b),
      |rawc AS (SELECT b, sum(tf) AS c FROM tf GROUP BY b),
      |nr AS (SELECT CAST(sum(tf) AS DOUBLE) AS n FROM tf),
      |ttoks AS (SELECT unnest(list_filter(
      |  string_split_regex(text, '\s+'), x -> len(x) > 0)) AS token
      |  FROM documents WHERE lang = 'en'),
      |tgtc AS (SELECT
      |  CAST('0x' || substring(md5(token), 1, 8) AS BIGINT) % 1024 AS b,
      |  count(*) AS c FROM ttoks GROUP BY 1),
      |nt AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM tgtc),
      |ratio AS (SELECT rawc.b,
      |  ln((COALESCE(tgtc.c, 0) + 1.0) / (nt.n + 1024)) -
      |    ln((rawc.c + 1.0) / (nr.n + 1024)) AS lr
      |  FROM rawc LEFT JOIN tgtc ON rawc.b = tgtc.b
      |  CROSS JOIN nr CROSS JOIN nt)
      |SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
      | round(sum(tf.tf * ratio.lr), 6) AS dsir_logw
      |FROM tf JOIN ratio ON tf.b = ratio.b
      |GROUP BY tf.doc_id""".stripMargin

  /** Curation v2 oracle (also the structural CTE of `q_curation_v3`):
    * the proven per-op CTEs chained — line-dedup rebuild, host
    * blocklist, repetition gate (rounded like the Spark struct field),
    * then the piiPatterns redaction chain.
    */
  private lazy val curationV2Sql: String = {
    val Seq((emailRe, emailTag), (ipRe, ipTag), (ssnRe, ssnTag),
      (phoneRe, phoneTag)) = TextOps.piiPatterns
    val corpus = "SELECT doc_id, 'subscribe to our newsletter' || " +
      "chr(10) || text || CASE WHEN doc_id % 13 = 0 THEN " +
      "repeat(' buy now', 40) ELSE '' END || ' contact u' || " +
      "CAST(doc_id AS VARCHAR) || '@example.com via ' || " +
      "CASE WHEN doc_id % 11 = 0 THEN 'https://site3.example.com/track' " +
      "ELSE 'https://ok' || CAST(doc_id % 7 AS VARCHAR) || " +
      "'.example.org/p' END || CASE WHEN doc_id % 3 = 0 THEN chr(10) " +
      "|| 'this site uses cookies' ELSE '' END AS text FROM documents"
    s"""WITH corpus AS ($corpus),
       |l AS (SELECT doc_id,
       |  unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos,
       |  unnest(string_split(text, chr(10))) AS line FROM corpus),
       |kill AS (SELECT md5(line) AS k FROM l WHERE len(line) >= 1
       |  GROUP BY md5(line) HAVING count(DISTINCT doc_id) > 10),
       |rebuilt AS (SELECT doc_id,
       |  string_agg(line, chr(10) ORDER BY pos) AS text FROM l
       |  WHERE md5(line) NOT IN (SELECT k FROM kill) GROUP BY doc_id),
       |cleaned AS (SELECT c.doc_id, coalesce(r.text, '') AS text
       |  FROM corpus c LEFT JOIN rebuilt r ON c.doc_id = r.doc_id),
       |unblocked AS (SELECT doc_id, text FROM cleaned
       |  WHERE len(list_filter(list_transform(
       |    regexp_extract_all(text, 'https?://[^\\s]+'),
       |    u -> lower(regexp_extract(u, '^https?://([^/:?#\\s]+)', 1))),
       |    h -> h = 'site3.example.com')) = 0),
       |tt AS (SELECT doc_id,
       |  list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0)
       |  AS toks FROM unblocked),
       |ng AS (SELECT doc_id, toks, ${shingleSql(2)} AS ng FROM tt),
       |topc AS (SELECT doc_id, max(c) AS topc FROM (
       |  SELECT doc_id, g, count(*) AS c
       |  FROM (SELECT doc_id, unnest(ng) AS g FROM ng) e
       |  GROUP BY doc_id, g) gc GROUP BY doc_id),
       |rep AS (SELECT ng.doc_id, len(toks) AS ntok, topc
       |  FROM ng JOIN topc ON ng.doc_id = topc.doc_id),
       |kept AS (SELECT u.doc_id, u.text FROM unblocked u
       |  JOIN rep ON u.doc_id = rep.doc_id
       |  WHERE ntok < 20 OR round(CASE WHEN ntok = 0 THEN 0.0
       |    ELSE least(1.0, CAST(topc * 2 AS DOUBLE) / ntok) END, 4)
       |    <= 0.2),
       |r1 AS (SELECT doc_id,
       |  regexp_replace(text, '$emailRe', '$emailTag', 'g') AS t1
       |  FROM kept),
       |r2 AS (SELECT doc_id,
       |  regexp_replace(t1, '$ipRe', '$ipTag', 'g') AS t2 FROM r1),
       |r3 AS (SELECT doc_id,
       |  regexp_replace(t2, '$ssnRe', '$ssnTag', 'g') AS t3 FROM r2)
       |SELECT doc_id,
       | md5(regexp_replace(t3, '$phoneRe', '$phoneTag', 'g')) AS fp,
       | CAST(len(regexp_replace(t3, '$phoneRe', '$phoneTag', 'g'))
       |   AS BIGINT) AS n_chars
       |FROM r3""".stripMargin
  }

  /** Repeated-span table of [[substrCorpus]], computed ONCE per
    * (session, dir) and shared by `q_repeated_spans` /
    * `q_substring_dedup` — the corpus-wide window pass is the
    * expensive step, and production stages its output per corpus
    * version exactly like the minhash pair table
    * ([[nearDupPairsShared]]). Eager localCheckpoint = the staging
    * holds materialized data, not a plan to re-execute per consumer.
    */
  private def repeatedSpansShared(s: SparkSession, dir: String): DataFrame =
    Staged(s, "repeated_spans", dir)(
      Dedup.repeatedSpans(substrCorpus(s, dir), "doc_id", "text", k = 8)
        .localCheckpoint(true))

  /** Deterministic rrdexport response documents over the events
    * table, each event's host `host<user_id % hosts>`: per (host, 25h
    * fetch window) one CPU doc (scalar v, NaN every 97th point) and one
    * Swap doc (3-element list v, garbage every 89th) — the metricsEtl
    * corpus shape, shared by the flagship query and the end-to-end job
    * tick.
    */
  private def syntheticResponses(s: SparkSession, dir: String,
      hosts: Int): DataFrame = {
    val ev = Tables.events(s, dir).select(
      col("event_id"),
      concat(lit("host"), (col("user_id") % hosts).cast("string"))
        .as("host_name"),
      unix_timestamp(col("ts")).as("epoch"))
    def dd(m: Column): Column = format_string("%d.%02d",
      floor(m / 100).cast("long"), (m % 100).cast("long"))
    val cpuV = when(col("event_id") % 97 === 0, lit("NaN"))
      .otherwise(dd((col("event_id") * 7) % 10000))
    val swapV = array(
      dd((col("event_id") * 3) % 5000),
      when(col("event_id") % 89 === 0, lit("garbage"))
        .otherwise(dd((col("event_id") * 11) % 9000)),
      dd((col("event_id") * 13) % 7000))
    val fetchWindow = 25L * 3600L // extract.py:29-31 lookback span
    // ONE (host, window) aggregate collecting both services' point
    // structs, then two doc rows exploded per group — the old
    // per-service union ran the events scan + groupBy exchange once
    // PER SERVICE for identical grouping keys. Doc multiset is
    // unchanged (same groups, same per-service point sets; within-doc
    // point order is collect_list arrival order in both forms, and
    // every consumer explodes the points back out).
    ev.select(col("host_name"),
        floor(col("epoch") / fetchWindow).as("__w"),
        struct(col("epoch").cast("string").as("t"), cpuV.as("v")).as("cp"),
        struct(col("epoch").cast("string").as("t"), swapV.as("v")).as("sp"))
      .groupBy(col("host_name"), col("__w"))
      .agg(collect_list(col("cp")).as("cpu_row"),
        collect_list(col("sp")).as("swap_row"))
      .select(col("host_name"), posexplode_outer(array(
        struct(lit("CPU Usage").as("service_name"),
          to_json(struct(struct(col("cpu_row").as("row")).as("data")))
            .as("body")),
        struct(lit("Swap Usage").as("service_name"),
          to_json(struct(struct(col("swap_row").as("row")).as("data")))
            .as("body")))).as(Seq("__pos", "r")))
      .filter(col("__pos").isNotNull)
      .select(col("host_name"), col("r.service_name"), col("r.body"))
  }

  /** The cron-tick job's input: the synthetic response documents,
    * staged as JSON (corpus prep, not job time). */
  private[graft] def etlJobInput(s: SparkSession, dir: String,
      hosts: Int): String =
    Staged.onDisk(s, s"etljob_in_$hosts", dir)(inDir =>
      syntheticResponses(s, dir, hosts).write.mode("overwrite").json(inDir))

  /** The committed §3.1 cron-tick job end to end (VERDICT r9 task 7):
    * ONE AvailableNow tick over [[etlJobInput]] — stream read →
    * flatten → melt → bounded-window dedup → (family,
    * load_date)-partitioned append — into out/checkpoint dirs under the
    * session's staging root, emptied first, so every call measures a
    * full first tick and the previous call's output (already consumed,
    * the bench contract) does not pile up. Returns the landed sink.
    */
  def etlJobTick(s: SparkSession, dir: String, hosts: Int): DataFrame = {
    val inDir = etlJobInput(s, dir, hosts)
    val base = new java.io.File(Staged.root(s), "etljob_tick")
    org.apache.commons.io.FileUtils.deleteQuietly(base)
    jobs.NagiosEtlJob.runOnce(s, inDir, s"$base/out", s"$base/ckpt",
      Seq("CPU Usage", "Swap Usage"))
    s.read.parquet(s"$base/out/data")
  }

  /** The full §3.1 metrics ETL in one plan (the flagship pipeline
    * query, `q_metrics_etl` at the reference's 25-host fan-out):
    * events are reshaped into the REST response-document form the
    * connector would deliver (one JSON body per (host, service) via a
    * groupBy collect_list), then melt → parse-guard → anti-join dedup
    * → family routing. Every melt/dedup branch re-derives points from
    * the grouped responses, but the groupBy EXCHANGE is reused across
    * branches, so each branch re-parses only the post-shuffle body
    * rows (measured cheaper than caching the exploded point relation
    * and re-scanning it per branch).
    *
    * `hosts` is the scale axis: a real deployment grows by monitoring
    * MORE HOSTS (more, similarly-sized response documents), not by
    * packing 10× the points into each document. Documents are built
    * per (host, service, FETCH WINDOW) — rrdexport responses cover a
    * bounded 25 h span (`extract.py:29-31`, `url...py:49`), so a
    * document's size is capped by the window's sample budget no
    * matter how long the corpus runs, and the parse stage
    * parallelizes over document count instead of funneling a giant
    * collect_list row per host. (Output-invariant: document
    * boundaries are internal — the melt explodes the same points.)
    * ScaleProbe exercises the hosts axis and the replication axis;
    * the latter packs 10× the samples into a fixed time range, which
    * grows each window's document 10× BY CONSTRUCTION (a 10×-rate
    * poller, not a monitoring deployment) — attribution in
    * BASELINE.md.
    */
  def metricsEtl(s: SparkSession, dir: String, hosts: Int): DataFrame = {
    import graft.pipelines.HostMetrics
    val points = HostMetrics.flattenResponses(
      syntheticResponses(s, dir, hosts))
    val payload = HostMetrics.longPayload(points,
      Seq("CPU Usage", "Swap Usage"))
    // previous run's payload = the three already-loaded hosts; the
    // anti-join dedup must remove exactly their rows
    val previous = payload.filter(
      col("host_name").isin("host0", "host1", "host2"))
    HostMetrics.routed(HostMetrics.dedupAgainst(payload, previous))
  }

  /** SemDeDup verified pairs per (session, dir), shared by
    * `q_semdedup_pairs` / `q_semdedup` — the same staged-pair pattern
    * as [[nearDupPairsShared]] / [[repeatedSpansShared]]: the
    * centroid collect + assignment scan + cluster pair join is paid
    * once and both the audit and the survivor queries read it.
    */
  private def semdedupPairsShared(s: SparkSession, dir: String): DataFrame =
    Staged(s, "semdedup_pairs", dir)(
      Dedup.semanticNearDupPairs(Tables.embeddings(s, dir), "vec_id",
        "embedding", threshold = 0.2, nlist = 8).localCheckpoint(true))

  /** Shared CTE chain for the SemDeDup oracles: embeddings as
    * DOUBLE[], the 8 lowest-id vectors as the centroid seed (cid =
    * matrix row index), cosine of every (vector, centroid), the
    * argmax assignment with [[graft.functions.CentroidTopIds]]'s
    * tie-break (score desc, centroid index asc), and the
    * within-cluster pair cosines.
    */
  private val semdedupAsgSql: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
      |    v AS cv
      |  FROM e ORDER BY vec_id LIMIT 8),
      |s AS (SELECT e.vec_id, c.cid,
      |  CASE WHEN list_sum(list_transform(e.v, x -> x * x)) = 0
      |      OR list_sum(list_transform(c.cv, x -> x * x)) = 0 THEN 0.0
      |    ELSE list_sum(list_transform(range(1, len(e.v) + 1),
      |        i -> e.v[i] * c.cv[i]))
      |      / (sqrt(list_sum(list_transform(e.v, x -> x * x)))
      |         * sqrt(list_sum(list_transform(c.cv, x -> x * x)))) END
      |    AS cos
      |  FROM e CROSS JOIN c),
      |asg AS (SELECT vec_id, cid FROM (
      |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
      |    ORDER BY cos DESC, cid) AS rn FROM s) t WHERE rn = 1),
      |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  list_sum(list_transform(range(1, len(ea.v) + 1),
      |    i -> ea.v[i] * eb.v[i]))
      |   / (sqrt(list_sum(list_transform(ea.v, x -> x * x)))
      |      * sqrt(list_sum(list_transform(eb.v, x -> x * x)))) AS cosine
      |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
      |  JOIN e ea ON ea.vec_id = a.vec_id
      |  JOIN e eb ON eb.vec_id = b.vec_id)""".stripMargin

  /** Shared CTE chain for the substring-dedup oracles: tokenize,
    * hash every 8-token window, keep occurrences of corpus-repeated
    * windows minus each window's globally-first (min packed
    * doc*2^21+pos) occurrence, and assign gaps-and-islands ids for
    * the merge — mirrors [[Dedup.repeatedSpans]] step for step.
    */
  private val substrSpanSql: String =
    """toks AS (SELECT doc_id,
      |  list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)
      |    AS l FROM corpus),
      |wins AS (SELECT doc_id, pos,
      |  md5(array_to_string(l[pos + 1 : pos + 8], ' ')) AS h
      |  FROM (SELECT doc_id, l, unnest(range(0, len(l) - 7)) AS pos
      |        FROM toks WHERE len(l) >= 8) t),
      |rep AS (SELECT h, min(doc_id * 2097152 + pos) AS fk
      |  FROM wins GROUP BY h HAVING count(*) > 1),
      |occ AS (SELECT w.doc_id, w.pos FROM wins w JOIN rep r ON w.h = r.h
      |  WHERE w.doc_id * 2097152 + w.pos <> r.fk),
      |isl AS (SELECT doc_id, pos,
      |  CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
      |      IS NULL
      |    OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
      |    THEN 1 ELSE 0 END AS nw FROM occ),
      |grp AS (SELECT doc_id, pos, sum(nw) OVER (PARTITION BY doc_id
      |  ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island FROM isl)"""
      .stripMargin

  /** DuckDB k-shingle expression over a `toks` list column; mirrors
    * `graft.functions.Shingles` exactly (whitespace tokens, k-grams
    * joined by ' ', <k tokens ⇒ one all-token shingle, empty ⇒ ['']).
    * One definition for every shingle-based oracle.
    */
  private def shingleSql(k: Int): String =
    s"""CASE WHEN len(toks) = 0 THEN ['']
       |   WHEN len(toks) < $k THEN [array_to_string(toks, ' ')]
       |   ELSE list_transform(range(1, len(toks) - ${k - 2}),
       |     i -> array_to_string(list_slice(toks, i, i + ${k - 1}), ' ')) END""".stripMargin

  /** `sh` CTE: doc_id → distinct k-shingle set from table/CTE `src`. */
  private def shingleCteSql(k: Int, src: String): String =
    s"""sh AS (
       | SELECT doc_id, list_distinct(${shingleSql(k)}) AS sh
       | FROM (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
       |   x -> len(x) > 0) AS toks FROM $src) t)""".stripMargin

  private val enStop = TextOps.langProfiles("en")

  /** Exact cosine top-k ground truth (vec_id < 50 queries, k = 10,
    * self excluded, score-desc id-asc tie-break) — shared by every ANN
    * query whose configuration makes it exact.
    */
  /** Shared PQ replay CTEs (q_pq_encode / q_pq_search): seed ranks,
    * per-position subvector elements, decimal-exact squared-L2, and
    * the per-(vector, subspace) argmin as `codes`.
    */
  private val pqCtesSql: String =
    """seeds AS (SELECT vec_id, embedding,
      |    row_number() OVER (ORDER BY vec_id) - 1 AS code
      |  FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL
      |    ORDER BY vec_id LIMIT 16)),
      |cb AS (SELECT code, j.j AS j, i.i AS i,
      |    CAST(embedding[j.j * 8 + i.i] AS DOUBLE) AS cv
      |  FROM seeds, generate_series(0, 7) j(j),
      |    generate_series(1, 8) i(i)),
      |sub AS (SELECT vec_id, j.j AS j, i.i AS i,
      |    CAST(embedding[j.j * 8 + i.i] AS DOUBLE) AS v
      |  FROM embeddings, generate_series(0, 7) j(j),
      |    generate_series(1, 8) i(i)),
      |d AS (SELECT sub.vec_id, sub.j, cb.code,
      |    sum(CAST(round((sub.v - cb.cv) * (sub.v - cb.cv), 12)
      |      AS DECIMAL(28,12))) AS dist
      |  FROM sub JOIN cb ON sub.j = cb.j AND sub.i = cb.i
      |  GROUP BY sub.vec_id, sub.j, cb.code),
      |mn AS (SELECT vec_id, j, min(dist) AS md FROM d
      |  GROUP BY vec_id, j),
      |codes AS (SELECT d.vec_id, d.j, CAST(min(d.code) AS INT) AS code
      |  FROM d JOIN mn ON d.vec_id = mn.vec_id AND d.j = mn.j
      |    AND d.dist = mn.md
      |  GROUP BY d.vec_id, d.j)""".stripMargin

  private val knnExactTopKSql: String =
    """SELECT query_id, rank, neighbor_id FROM (
      | SELECT q.vec_id AS query_id,
      |  CAST(row_number() OVER (PARTITION BY q.vec_id
      |   ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
      |     CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id ASC)
      |   AS BIGINT) AS rank,
      |  c.vec_id AS neighbor_id
      | FROM embeddings c
      | CROSS JOIN (SELECT vec_id, embedding FROM embeddings
      |   WHERE vec_id < 50) q
      | WHERE c.vec_id <> q.vec_id) t
      |WHERE rank <= 10""".stripMargin

  /** Verified near-dup pairs of [[nearDupCorpus]] under the family's
    * shared scheme (k=5 shingles, 64 hashes, 32 bands, τ=0.5), computed
    * ONCE per (session, dir) and reused by `q_minhash_pairs` /
    * `q_minhash_dedup` / `q_minhash_dedup_cc`. [[Dedup.minhashNearDupPairs]]
    * materializes its result eagerly (localCheckpoint), so this staging is
    * pure reuse, not deferred recompute — the in-session analogue of the
    * production pattern where the verified pair table is staged to
    * parquet once per corpus version and every survivor policy reads it
    * (see [[Dedup.dedupGreedyByPairs]]); re-deriving identical pairs per
    * policy would triple the dominant sig→band→verify cost for zero
    * information.
    */
  private def nearDupPairsShared(s: SparkSession, dir: String): DataFrame =
    Staged(s, "near_dup_pairs", dir)(
      Dedup.minhashNearDupPairs(nearDupCorpus(s, dir), "doc_id", "text",
        numHashes = 64, bands = 32, threshold = 0.5))

  /** Shared Theil–Sen staging (VERDICT r13 task 8): `q_theil_sen`
    * (exact, cap 4096) and `q_theil_sen_sampled` (cap 64, mod-7 pair
    * sample) fit DIFFERENT policies over the SAME per-user series —
    * the dominant cost of both is the in-series pair self-join, and
    * the sampled arm's pair set is a pure filter of the exact arm's.
    * Stage the points + pair pool once per (session, dir)
    * (checkpointed), let each query run only its
    * [[operators.TimeSeries.theilSenFit]] policy tail. Fits are
    * bit-identical to the one-shot operator (TimeSeriesSpec pins the
    * pooled-vs-direct differential), so both oracles stand unchanged.
    */
  private def theilSenStaged(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    Staged(s, "theil_sen_pool", dir) {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), unix_timestamp(col("ts")).as("x"),
          col("value"))
      val (pts, pool) = operators.TimeSeries.theilSenPairPool(
        ev, Seq("user_id"), "x", "value")
      (pts.localCheckpoint(true), pool.localCheckpoint(true))
    }

  /** Staged minhash band keys for the history corpus, written to
    * parquet once per (session, corpus version) — the 100 TB operating
    * mode, where re-ingest probes staged buckets instead of re-hashing
    * the corpus, so min-of-N measures the steady-state probe. memoRead
    * serves the staged path's relation, so no call after the first
    * pays the footer/partition-discovery metadata jobs. The parquet
    * stagings below follow the same rule.
    */
  private[graft] def stagedHistoryBands(s: SparkSession,
      dir: String): DataFrame =
    Tables.memoRead(s, Staged.onDisk(s, "bands", dir)(path =>
      Dedup.stageBandKeys(
        Tables.documents(s, dir).select("doc_id", "text"),
        "doc_id", "text", path, shingleK = 5, numHashes = 64, bands = 32)))

  /** Staged resolved entity registry for the incremental-assignment
    * probe: the corpus-wide resolution (`Dedup.resolveEntities` over
    * parts + typo twins) is staged once and every serve tick reads it
    * back (a registry rebuild is a scheduled job, not a per-tick cost).
    */
  private def stagedErRegistry(s: SparkSession, dir: String): DataFrame =
    Tables.memoRead(s, Staged.onDisk(s, "er", dir) { path =>
      val base = Tables.part(s, dir)
        .select(col("p_partkey").as("rec_id"), col("p_name").as("name"))
      val twins = Tables.part(s, dir)
        .filter(col("p_partkey") % 10 === 0)
        .select((col("p_partkey") + 10000000L).as("rec_id"),
          concat(substring(col("p_name"), 1, 2), lit("q"),
            substring(col("p_name"), 4, 10000)).as("name"))
      Dedup.resolveEntities(base.unionByName(twins), "rec_id", "name",
          maxDist = 1, q = 3)
        .write.mode("overwrite").parquet(path)
    })

  /** Staged span hashes for the incremental substring-dedup probe:
    * the substring corpus's distinct 8-token window hashes.
    */
  private def stagedSpanHashes(s: SparkSession, dir: String): DataFrame =
    Tables.memoRead(s, Staged.onDisk(s, "spans8", dir)(path =>
      Dedup.stageSpanHashes(substrCorpus(s, dir), "doc_id", "text",
        path, k = 8)))

  /** The q_boilerplate corpus: every doc gets its source's banner
    * (100% of the domain → killed at the 0.5 threshold), every 4th
    * doc a per-source promo (~25% < 50% → kept), body unique per doc
    * (kept). Shared by the full pass and the kill-list staging so the
    * frozen artifact is built from exactly the corpus the serving arm
    * claims as history. */
  private def boilerCorpus(s: SparkSession, dir: String): DataFrame =
    boilerMangle(Tables.documents(s, dir))

  /** The canonical q_boilerplate corpus mangle over a
    * (doc_id, source, text) frame — ONE definition (ADVICE r14: the
    * bench query, the scale probe's regrown axis, and its attribution
    * profiler each carried a verbatim copy; a future change to the
    * mangle would silently desynchronize the scale row and its
    * profiler from the oracled query). The SQL twin lives in the
    * `q_boilerplate*` oracle strings.
    */
  private[graft] def boilerMangle(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      col("source"),
      concat(lit("welcome to "), col("source"), lit("\n"), col("text"),
        when(col("doc_id") % 4 === 0,
          concat(lit("\nfollow "), col("source"), lit(" on social")))
          .otherwise(lit(""))).as("text"))

  /** Staged domain-boilerplate kill list for the CCNet scrubber: the
    * corpus version's (domain, line-hash) kill list, so every scrub
    * tick skips the corpus-wide counting (restaging is a scheduled
    * job, not a per-tick cost). */
  private def stagedBoilerplateKill(s: SparkSession,
      dir: String): DataFrame =
    Tables.memoRead(s, Staged.onDisk(s, "boiler5_500k", dir)(path =>
      Dedup.stageBoilerplateKillList(boilerCorpus(s, dir), "doc_id",
        "source", "text", path, minDomainDocs = 5L, minFraction = 0.5)))

  /** FROZEN BPE merges — the tokenizer artifact (production
    * tokenizers ship exactly this: an ordered merges file, not the
    * trainer). Learned once with [[TextOps.bpeLearn]] on the sf0.01
    * corpus (deterministic: count desc, pair lexicographic ties,
    * self-pairs excluded) and frozen here so the query and its oracle
    * replay the same artifact — the [[TextOps.bpeEncode]] /
    * `q_bpe_encode` input.
    */
  private[graft] val bpeMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("e", "</w>"), ("n", "</w>"), ("er", "</w>"),
    ("o", "w"), ("ow", "</w>"), ("o", "r"), ("s", "t"),
    ("h", "</w>"), ("a", "t"), ("l", "u"), ("i", "n"),
    ("a", "</w>"), ("g", "</w>"), ("y", "</w>"), ("a", "r"),
    ("p", "ar"), ("t", "</w>"), ("i", "n</w>"), ("j", "o"),
    ("jo", "in</w>"), ("a", "s"), ("as", "h</w>"), ("h", "ash</w>"))

  /** Frozen phrase table — the [[bpeMerges]] convention for the
    * word2phrase serving arm: the top PMI collocations of the
    * documents corpus (mined once offline via
    * `TextOps.pmiCollocations`, self-pairs excluded), shipped as the
    * artifact `q_phrase_merge` and its oracle both GENERATE from.
    */
  private[graft] val phraseTable: Seq[(String, String)] = Seq(
    ("table", "hash"), ("slow", "query"), ("merge", "group"),
    ("part", "filter"), ("big", "order"), ("vector", "small"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ================= core relational surface =================
    "q1_agg" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("count_order"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"),
          dsum(col("l_extendedprice")).as("sum_price"))
    }),

    "q_status_enrich" -> ((s, dir) => statusEnrich(s, dir)),

    "q_semi_join" -> ((s, dir) => {
      val members = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "MACHINERY")
        .select(col("c_custkey").as("user_id"))
      Relational.semiJoinMembers(Tables.events(s, dir), members,
          Seq("user_id"))
        .select("event_id", "user_id", "event_type")
    }),

    "q_anti_dedup" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val current = ev.filter(col("ts") >= lit("2024-01-10"))
      val previous = ev.filter(col("ts") < lit("2024-01-15"))
      Relational.antiJoinDedup(current, previous)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    }),

    // snapshot drift report: two synthetic "runs" of the orders
    // extract (cur drops %17 keys, adds the %13 keys prev lacks, and
    // bumps %5 prices) classified added/removed/changed by content
    // hash — full outer join over (key, hash) only
    "q_snapshot_diff" -> ((s, dir) => {
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val prev = base.filter(col("o_orderkey") % 13 =!= 0)
      val cur = base.filter(col("o_orderkey") % 17 =!= 0)
        .withColumn("o_totalprice", col("o_totalprice") +
          when(col("o_orderkey") % 5 === 0, 1.0).otherwise(0.0))
      Relational.snapshotDiff(prev, cur, Seq("o_orderkey"))
    }),

    "q_latest_per_key" -> ((s, dir) => {
      Relational.latestPerKey(Tables.events(s, dir), Seq("user_id"),
          "ts", "event_id")
        .select("user_id", "event_id", "ts", "event_type", "value")
    }),

    // full outer reconciliation: activity per user ⟗ the customer dim —
    // rows for silent customers AND for events whose user is unknown
    "q_full_outer" -> ((s, dir) => {
      val perUser = Tables.events(s, dir).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"))
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      perUser.join(cust, Seq("user_id"), "full_outer")
        .select(col("user_id"), col("n_events"), col("c_mktsegment"))
    }),

    // set intersection on the key domain (intersect already has set
    // semantics — no pre-distinct pass)
    "q_intersect" -> ((s, dir) => {
      Tables.events(s, dir).select(col("user_id"))
        .intersect(Tables.customer(s, dir)
          .filter(col("c_mktsegment") === "HOUSEHOLD")
          .select(col("c_custkey").as("user_id")))
    }),

    // per-key anomaly scoring (the monitoring domain's bread and
    // butter): z-score every event against its user's mean/stddev —
    // one grouped aggregate joined back onto the stream, flag |z|>2.
    // Moments via exact decimal sums (order-independent), then IEEE
    // double arithmetic — bit-identical across engines, so the
    // boundary membership hash-matches. No broadcast hint: stats
    // cardinality = number of active keys, unbounded at scale — AQE
    // picks broadcast while the build side fits and sort-merge after.
    "q_zscore_outliers" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .select(col("event_id"), col("user_id"), col("value"))
      val stats = ev.groupBy(col("user_id"))
        .agg(
          sum(col("value").cast("decimal(28,10)")).cast("double").as("__s1"),
          sum((col("value") * col("value")).cast("decimal(28,10)"))
            .cast("double").as("__s2"),
          count(lit(1)).cast("double").as("__n"))
        .filter(col("__n") >= 5)
      val mu = col("__s1") / col("__n")
      // clamp at 0: constant-valued groups round the moment difference
      // a few ulps NEGATIVE (s2/n exact, mu*mu not) — sqrt of that is
      // NaN here and an error in the oracle; the guard must sit on the
      // VARIANCE (NaN compares greater-than in Spark, so a sigma > 0
      // guard would pass garbage through)
      val variance = greatest(col("__s2") / col("__n") - mu * mu, lit(0.0))
      val z = (col("value") - mu) / sqrt(variance)
      ev.join(stats, Seq("user_id"))
        .filter(variance > 0 && abs(z) > 2)
        .select(col("event_id"), col("user_id"), round(z, 4).as("z"))
    }),

    // seasonal-baseline anomalies — the "this hour is unusual FOR
    // THIS HOUR" monitoring readout: per (series, hour-of-day slot)
    // baseline via the q_zscore_outliers exact-moment recipe, flag
    // events deviating > 2 sigma from their own seasonal slot (a
    // plain global z-score would alert on every daily peak)
    "q_seasonal_anomalies" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull && col("event_type").isNotNull &&
          col("ts").isNotNull)
        .select(col("event_id"), col("event_type"),
          hour(col("ts")).cast("long").as("slot"), col("value"))
      val stats = ev.groupBy(col("event_type"), col("slot"))
        .agg(
          sum(col("value").cast("decimal(28,10)")).cast("double").as("__s1"),
          sum((col("value") * col("value")).cast("decimal(28,10)"))
            .cast("double").as("__s2"),
          count(lit(1)).cast("double").as("__n"))
        .filter(col("__n") >= 5)
      val mu = col("__s1") / col("__n")
      val variance = greatest(col("__s2") / col("__n") - mu * mu, lit(0.0))
      val z = (col("value") - mu) / sqrt(variance)
      ev.join(stats, Seq("event_type", "slot"))
        .filter(variance > 0 && abs(z) > 2)
        .select(col("event_id"), col("event_type"), col("slot"),
          round(z, 4).as("z"))
    }),

    // deterministic train/val/test assignment: a pure function of row
    // identity (md5 bucket), reproducible across runs/engines — the
    // correctness-critical property rand()-based splits lack
    "q_split_assign" -> ((s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
        operators.Sampling.splitBucket(col("doc_id"), 100).as("bucket"),
        operators.Sampling.splitLabel(col("doc_id"),
          Seq("train" -> 90, "val" -> 5, "test" -> 5)).as("split"))
    }),

    // per-key cap: at most 5 events per user, selected by stable
    // event-id hash order — the per-domain cap of a data-mix pipeline
    "q_cap_per_key" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"))
      operators.Sampling.capPerKey(ev, "user_id", "event_id", 5)
    }),

    // sequence packing: per-source documents in doc_id order packed
    // into 512-token context windows by the codegen next-fit fold
    "q_pack_sequences" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("source"), col("doc_id"),
        operators.TextOps.tokenCount(col("text")).cast("long")
          .as("n_tokens"))
      operators.Sampling.packByCapacity(d, Seq("source"), "doc_id",
        "n_tokens", 512L)
    }),

    // deterministic stratified sampling: per-stratum keep rates (the
    // data-mix knob) over the same stable id-hash bucketing as
    // q_split_assign — membership reproducible across runs and engines
    "q_stratified_sample" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(concat(col("l_orderkey"), lit("-"), col("l_linenumber"))
            .as("li_id"),
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
      operators.Sampling.stratifiedSample(li, "li_id", "l_returnflag",
          Seq("A" -> 50, "N" -> 10, "R" -> 2))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
    }),

    // benchmark decontamination: docs sharing any distinct 3-shingle
    // with the eval subset (doc_id % 97 = 0) get flagged; eval shingle
    // set broadcasts, corpus text never shuffles
    "q_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val evalSet = docs.filter(col("doc_id") % 97 === 0)
      Dedup.contaminationReport(docs, evalSet, "doc_id", "text", k = 3)
    }),

    // decontamination scale path: Bloom-sketch prefilter (codegen
    // might_contain at scan speed) + exact semi-join verify of the
    // sketch survivors — output identical to the broadcast-set form,
    // proven by an exact oracle; the corpus side never broadcasts or
    // shuffles more than the sketch hits
    "q_decontaminate_bloom" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val evalSet = docs.filter(col("doc_id") % 89 === 0)
      Dedup.contaminationReportBloom(docs, evalSet, "doc_id", "text", k = 3)
    }),

    // SEMANTIC decontamination: the embedding-space pass n-gram
    // overlap can't see — corpus vectors within cosine 0.3 of any
    // frozen benchmark vector (vec_id < 50, broadcast) are dropped;
    // cosines stay map-side (fused kernel), only contaminated ids
    // shuffle
    "q_decontaminate_semantic" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.semanticDecontaminate(
        emb.filter(col("vec_id") >= 50),
        emb.filter(col("vec_id") < 50),
        "vec_id", "embedding", threshold = 0.3)
        .select(col("vec_id"), col("label").cast("long").as("label"))
    }),

    // corpus-wide heavy hitters: top word-3-grams by document
    // frequency — partial+final agg, TakeOrderedAndProject top-N
    "q_top_ngrams" -> ((s, dir) => {
      operators.TextOps.topNgrams(
        Tables.documents(s, dir), "text", k = 3, topN = 50)
    }),

    // RRD-style multi-resolution consolidation (the reference's own
    // rrdexport payloads are consolidated AVERAGE rows —
    // extract.py:135-146): 1h/6h/1d rollups per user in ONE exchange
    // via map-side resolution fan-out
    "q_consolidate" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("value").isNotNull)
      operators.TimeSeries.consolidate(ev, Seq("user_id"), "ts",
        "value", "event_id",
        Seq("1h" -> 3600L, "6h" -> 21600L, "1d" -> 86400L))
    }),

    // gap-filled daily series: sparse per-user daily averages (errors
    // only) densified to the full day grid with forward fill — the
    // consolidate → fillGaps composition
    "q_fill_gaps" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("value").isNotNull &&
          col("event_type") === "error")
      val daily = operators.TimeSeries.consolidate(ev, Seq("user_id"),
          "ts", "value", "event_id", Seq("1d" -> 86400L))
        .select(col("user_id"), col("bucket_start"), col("v_avg"))
      operators.TimeSeries.fillGaps(daily, Seq("user_id"),
        "bucket_start", 86400L, "v_avg")
    }),

    // gaps-and-islands interval merge: each event opens a 10-minute
    // activity window per user; overlapping/touching windows collapse
    // to maximal islands (= the outage-window merge of a monitoring
    // pipeline)
    "q_merge_intervals" -> ((s, dir) => {
      val sec = col("ts").cast("long")
      val iv = Tables.events(s, dir).filter(col("ts").isNotNull)
        .select(col("user_id"), sec.as("lo"), (sec + 600L).as("hi"))
      operators.TimeSeries.mergeIntervals(iv, Seq("user_id"), "lo", "hi")
    }),

    // C4-style URL/domain filtering: two injected URLs per doc (host
    // varies with doc_id), docs referencing a blocklisted host get
    // flagged; hosts surfaced as a sorted joined string
    "q_url_filter" -> ((s, dir) => {
      val corpus = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" see https://site"), col("doc_id") % 20,
          lit(".example.com/p?x=1 and http://cdn"), col("doc_id") % 5,
          lit(".example.net/a.js")).as("text"))
      val blocklist = Seq("site3.example.com", "site7.example.com",
        "cdn1.example.net")
      corpus.select(col("doc_id"),
        concat_ws(",", TextOps.hostsOf(col("text"))).as("hosts"),
        TextOps.hasBlockedHost(col("text"), blocklist).as("blocked"))
    }),

    // URL-level exact dedup (C4's one-page-one-document rule):
    // scheme/www/tracking-param/fragment variants of the same page —
    // injected deterministically per doc_id — collapse to one
    // canonical form; one survivor (min doc_id) per canonical URL
    "q_url_dedup" -> ((s, dir) => {
      val urls = Tables.documents(s, dir).select(col("doc_id"),
        concat(
          when(col("doc_id") % 3 === 0, lit("https://www."))
            .otherwise(lit("http://")),
          lit("site"), (col("doc_id") % 7).cast("string"),
          lit(".example.com/page/"), (col("doc_id") % 40).cast("string"),
          when(col("doc_id") % 2 === 0,
            concat(lit("?utm_source=feed&utm_id="),
              col("doc_id").cast("string")))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit("#frag"))
            .otherwise(lit(""))).as("url"))
        .withColumn("canon_url", TextOps.canonicalizeUrl(col("url")))
      Dedup.exactByContent(urls, "doc_id", "canon_url")
        .select(col("doc_id"), col("canon_url"))
    }),

    // corpus-level line dedup: injected boilerplate lines (every doc
    // gets a header, every 3rd a footer) occur in >10 docs and are
    // removed; each doc's own body line survives in place
    "q_dedup_lines" -> ((s, dir) => {
      val corpus = Tables.documents(s, dir).select(col("doc_id"),
        concat(lit("subscribe to our newsletter\n"), col("text"),
          when(col("doc_id") % 3 === 0, lit("\nthis site uses cookies"))
            .otherwise(lit(""))).as("text"))
      Dedup.dedupCorpusLines(corpus, "doc_id", "text",
        maxOccurrences = 10L)
    }),

    // DOMAIN-scoped boilerplate removal (the CCNet template scrubber,
    // relative-threshold sibling of q_dedup_lines): every doc gets its
    // source's own banner line (100% of the domain -> killed), every
    // 4th doc a per-source promo line (~25% < 50% threshold -> kept),
    // and the body line is unique per doc (kept)
    "q_boilerplate" -> ((s, dir) =>
      Dedup.stripDomainBoilerplate(boilerCorpus(s, dir), "doc_id",
        "source", "text", minDomainDocs = 5L, minFraction = 0.5)),

    // the SERVING arm (frozen-artifact convention — staged bands /
    // frozen BPE / staged spans / ER registry): a fresh tick of docs
    // scrubs against the corpus version's STAGED kill list without
    // recounting domains. Known-domain banners are killed by the
    // frozen list; sub-threshold promos survive; docs from a domain
    // the staging never saw ('freshsource', every 7th) pass through
    // untouched via the same anti-join
    "q_boilerplate_incremental" -> ((s, dir) => {
      val src = when(col("doc_id") % 7 === 0, lit("freshsource"))
        .otherwise(col("source"))
      val batch = Tables.documents(s, dir).filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          src.as("source"),
          concat(lit("welcome to "), src, lit("\nfresh tick "),
            (col("doc_id") + 1000000L).cast("string"), lit(" "),
            col("text"),
            when(col("doc_id") % 4 === 0,
              concat(lit("\nfollow "), src, lit(" on social")))
              .otherwise(lit(""))).as("text"))
      Dedup.stripDomainBoilerplateAgainst(batch, "doc_id", "source",
        "text", stagedBoilerplateKill(s, dir))
    }),

    // corpus-wide exact substring dedup (Lee et al. 2022 suffix-array
    // pass, relational form): every 5th doc carries a shared 13-token
    // boilerplate tail, so its 8-token windows repeat corpus-wide;
    // every occurrence except the globally first is masked, and
    // overlapping masked windows merge into one maximal span per doc.
    // Both queries read the shared per-(session, dir) span staging —
    // the production mode, where the corpus-wide pass is paid once
    "q_repeated_spans" -> ((s, dir) => repeatedSpansShared(s, dir)),

    // the applied form: the same spans cut out of the text, remaining
    // tokens rejoined — whole-corpus repeated boilerplate survives
    // exactly once, in its min-(doc, pos) occurrence
    "q_substring_dedup" -> ((s, dir) =>
      Dedup.substringDedupBySpans(substrCorpus(s, dir), "doc_id", "text",
        k = 8, repeatedSpansShared(s, dir))),

    // the curation SIGNAL form (RefinedWeb/Gopher duplicate-text
    // fraction): per doc, tokens inside merged repeated spans over
    // total tokens — the number a quality gate thresholds on; same
    // shared span staging, one more narrow join
    "q_dup_text_fraction" -> ((s, dir) => {
      val toks = substrCorpus(s, dir).select(col("doc_id"),
        size(filter(split(col("text"), "\\s+"), t => length(t) > 0))
          .cast("long").as("n_tokens"))
      val dup = repeatedSpansShared(s, dir)
        .groupBy(col("doc_id"))
        .agg(sum(col("span_end") - col("span_start")).as("__dup"))
      toks.join(dup, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("__dup"), lit(0L)).as("dup_tokens"),
          round(coalesce(col("__dup"), lit(0L)) /
            greatest(col("n_tokens"), lit(1L)), 6).as("dup_fraction"))
    }),

    // curation v2: the round-3 text ops composed in ONE plan —
    // corpus-level line dedup (boilerplate header/footer) → domain
    // blocklist drop (%11 docs carry a blocked tracker URL) →
    // repetition gate (%13 docs carry 40x spam; top-2-gram coverage
    // > 0.2 rejected) → PII redaction — output fingerprints the
    // surviving redacted text
    "q_curation_v2" -> ((s, dir) => curationV2Shared(s, dir)),

    // unigram-LM surprisal (CCNet's quality signal): mean −ln p(token)
    // per document under the corpus's own unigram model
    "q_surprisal" -> ((s, dir) =>
      TextOps.surprisal(Tables.documents(s, dir), "doc_id", "text")),

    // bigram conditional surprisal: the word-order-aware sibling
    // (add-1 smoothed p(cur|prev) under the corpus's own bigram model)
    "q_surprisal_bigram" -> ((s, dir) =>
      TextOps.surprisalBigram(Tables.documents(s, dir), "doc_id", "text")),

    // the surprisal head-vocab FLOOR path under test: a deliberately
    // tiny head (64 tokens) so most of the corpus scores through the
    // long-tail floor — the approximation that makes the operator
    // scale-free at 100 TB, oracled exactly (DuckDB replays the same
    // top-64 + floor semantics)
    "q_surprisal_head" -> ((s, dir) =>
      TextOps.surprisal(Tables.documents(s, dir), "doc_id", "text",
        headVocab = 64)),

    // bigram head/floor path: top-64 pair and context tables, tail
    // pairs priced by the add-1 floor alone
    "q_surprisal_bigram_head" -> ((s, dir) =>
      TextOps.surprisalBigram(Tables.documents(s, dir), "doc_id", "text",
        headVocab = 64)),

    // PMI collocation mining: top-50 adjacent pairs by pointwise
    // mutual information (min pair count 5 gates the hapax-PMI
    // artifact) — the multiword-expression detector; margins are
    // joins over the pair table, top-k is TakeOrderedAndProject
    "q_pmi_collocations" -> ((s, dir) =>
      TextOps.pmiCollocations(Tables.documents(s, dir), "text",
        minCount = 5L, k = 50)),

    // RAKE keyphrases: stopword-delimited candidate runs, word score
    // deg/freq rounded to decimal before the phrase sum (order-
    // independent), scoring join explodes only distinct >=5-occurrence
    // phrase texts
    "q_rake_keywords" -> ((s, dir) =>
      TextOps.rakeKeywords(Tables.documents(s, dir), "doc_id", "text",
        TextOps.langProfiles("en"), minOcc = 5L, maxWords = 6)),

    // BM25 ranked retrieval: 4-token query probes (every 101st doc's
    // prefix) against the corpus — token equi-join candidates, exact
    // decimal per-(query,doc) sums, bounded topKByScore per query
    "q_bm25_topk" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val queries = docs.filter(col("doc_id") % 101 === 0)
        .select(col("doc_id").as("query_id"),
          array_join(slice(TextOps.tokens(col("text")), 1, 4), " ")
            .as("qtext"))
      TextOps.bm25SearchTopK(bm25IndexShared(s, dir), queries,
        "query_id", "qtext", k1 = 1.2, b = 0.75, k = 10)
    }),

    // the SCALE path: df-ceiling pruning drops near-zero-idf head
    // terms from candidate generation (df > 79% of the corpus) — the
    // stopword prune every retrieval engine applies, exactly gated on
    // both sides so it stays hash-oracled
    "q_bm25_pruned" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val queries = docs.filter(col("doc_id") % 101 === 0)
        .select(col("doc_id").as("query_id"),
          array_join(slice(TextOps.tokens(col("text")), 1, 4), " ")
            .as("qtext"))
      TextOps.bm25SearchTopK(bm25IndexShared(s, dir), queries,
        "query_id", "qtext", k1 = 1.2, b = 0.75, k = 10,
        maxDfFraction = 0.79)
    }),

    // the serving arm: the frozen phrase table applied greedily to
    // every document — row-local, no shuffle, list order = merge
    // order (chained phrases resolve sequentially, deterministic)
    "q_phrase_merge" -> ((s, dir) =>
      TextOps.mergePhrases(Tables.documents(s, dir), "doc_id", "text",
        phraseTable)),

    // frozen-reference-model surprisal: every doc scored against the
    // English-subcorpus unigram LM (OOV smoothed to the 1/(N+V) floor)
    "q_surprisal_ref" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextOps.surprisalAgainst(docs, "doc_id", "text",
        TextOps.unigramModel(docs.filter(col("lang") === "en"), "text"))
    }),

    // DSIR importance log-weights: every raw doc scored toward the
    // English-target hashed-unigram distribution
    "q_dsir_weights" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextOps.dsirLogWeights(docs, docs.filter(col("lang") === "en"),
        "doc_id", "text")
    }),

    // the resampling step: the 100 most target-like raw documents,
    // deterministic on the rounded weight with doc_id tie-break
    // (plans TakeOrderedAndProject — no full sort-shuffle)
    "q_dsir_select" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextOps.dsirLogWeights(docs, docs.filter(col("lang") === "en"),
          "doc_id", "text")
        .orderBy(desc("dsir_logw"), asc("doc_id")).limit(100)
    }),

    // frozen-model DSIR: the log-ratio table built ONCE from a 10%
    // raw sample + the English target, every doc scored against it —
    // the streaming-ready split (model rebuilt per corpus version,
    // not per scoring run); sample-absent buckets exercise the
    // complete-table floor
    "q_dsir_score_ref" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val model = TextOps.dsirModel(docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("lang") === "en"), "text")
      TextOps.dsirScoreAgainst(docs, "doc_id", "text", model)
    }),

    // curation v3 = v2's structural gates ∩ a CCNet-style surprisal
    // band on the raw text: drops both tails (very low = boilerplate,
    // very high = gibberish/rare-token soup); band constants picked
    // from the corpus distribution (p10 ≈ 3.396, p90 ≈ 3.410)
    "q_curation_v3" -> ((s, dir) => {
      val quality = TextOps
        .surprisal(Tables.documents(s, dir), "doc_id", "text")
        .filter(col("surprisal").between(3.39, 3.41))
        .select(col("doc_id"), col("surprisal"))
      curationV2Shared(s, dir).join(quality, "doc_id")
        .select(col("doc_id"), col("fp"), col("surprisal"))
    }),

    // token-budget sharding: pack docs into ~5000-token shards in id
    // order — training-shard sizing by content, not row count
    "q_shard_by_budget" -> ((s, dir) => {
      val weighted = Tables.documents(s, dir)
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      operators.Sampling.shardByBudget(weighted, "doc_id", "n_tokens",
          budget = 5000L)
        .select(col("doc_id"), col("n_tokens"), col("shard"))
    }),

    // C4-style cleaning: control chars -> space, whitespace collapsed,
    // trimmed; engine-portable semantics proven by the oracle
    "q_clean_text" -> ((s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
        TextOps.cleanText(concat(lit("  x\t\ty "), col("text"),
          lit("\u0001 z  "))).as("cleaned"))
    }),

    // PII redaction: deterministic PII spans injected from doc_id on
    // both sides (the corpus is synthetic word salad with no natural
    // PII), then the regexp chain + per-category counts are proven
    // engine-portable by the oracle
    "q_redact_pii" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          concat(col("text"), lit(" contact u"), col("doc_id"),
            lit("@example.com at 10.0."), col("doc_id") % 200,
            lit(".7 ssn 123-45-6789 tel 555-867-5309 ")).as("text"))
        .select(col("doc_id"),
          TextOps.redactPii(col("text")).as("redacted"),
          TextOps.piiCounts(col("text")).as("pc"))
        .select(col("doc_id"), col("redacted"),
          col("pc.n_email").cast("long").as("n_email"),
          col("pc.n_ip").cast("long").as("n_ip"),
          col("pc.n_ssn").cast("long").as("n_ssn"),
          col("pc.n_phone").cast("long").as("n_phone"))
    }),

    // Gopher-style repetition stats: boost every 7th doc with a
    // repeated phrase, then duplicate-token fraction + top-2-gram
    // coverage — all row-local array expressions
    "q_repetition" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" buy now buy now buy now buy now")))
            .otherwise(col("text")).as("text"))
        .select(col("doc_id"),
          TextOps.repetitionStats(col("text"), 2).as("r"))
        .select(col("doc_id"),
          col("r.n_tokens").as("n_tokens"),
          col("r.dup_token_frac").as("dup_token_frac"),
          col("r.top_ngram_count").as("top_ngram_count"),
          col("r.top_ngram_frac").as("top_ngram_frac"))
    }),

    // statistical aggregates from exact decimal moments: Pearson
    // correlation per group computed from Σx, Σy, Σxy, Σx², Σy², n —
    // the built-in corr() accumulates doubles in partition order
    // (non-deterministic across engines AND across shuffles); the
    // moment form is order-independent and hash-matches
    "q_corr_moments" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      def d(c: Column) = sum(c.cast("decimal(28,6)")).cast("double")
      // r16: four of the five moment sums run on exact scaled LONGS
      // instead of per-row double→decimal casts (the cast goes through
      // Double.toString — measured 1.81 s vs 0.27 s for the aggregate;
      // ProfileCorrMoments). Bit-parity with the r5-r15 decimal form
      // is PROVEN, not assumed: l_quantity is integer-valued (≤ 50)
      // and l_extendedprice carries exactly 2 decimals (≤ ~115k), so
      //  - q, q² are exact integers; Σ ≤ 1.5e9 — exact in long and
      //    double; identical to summing their exact decimal images.
      //  - p·100 rounds to an exact long (double error ~1e-9 vs the
      //    0.5 boundary), so Σp and Σq·p are exact scaled longs; the
      //    decimal path's per-row cast(q·p AS DECIMAL(28,6)) also
      //    recovers exact q·p (a 2dp value: the double product sits
      //    ~2e-9 from it, the nearest 6dp half-boundary 5e-7 away),
      //    so both paths sum identical values; the final /100 on an
      //    exact decimal is exact, and the double cast rounds the
      //    same exact value once.
      //  - p² is the one term where the double product's distance to
      //    a 6dp half-boundary (ulp ~2e-6 at 1.3e10) can exceed the
      //    margin — syy KEEPS the decimal-cast sum verbatim.
      // Scaled sums accumulate as DECIMAL(38,0)/(38,2) of longs (the
      // long→decimal constructor is compact, no string round-trip),
      // so the formulation stays exact past 2^53 rows·units at 100 TB.
      val q = col("l_quantity").cast("long")
      val p100 = round(col("l_extendedprice") * 100, 0).cast("long")
      val g = li.groupBy(col("l_returnflag")).agg(
        sum(q.cast("decimal(38,0)")).cast("double").as("sx"),
        (sum(p100.cast("decimal(38,2)")) / 100).cast("double").as("sy"),
        (sum((q * p100).cast("decimal(38,2)")) / 100).cast("double")
          .as("sxy"),
        sum((q * q).cast("decimal(38,0)")).cast("double").as("sxx"),
        d(col("l_extendedprice") * col("l_extendedprice")).as("syy"),
        count(lit(1)).cast("double").as("n"))
      g.select(col("l_returnflag"),
        round(((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy")))), 6)
          .as("corr_qty_price"))
    }),

    // correlated EXISTS subquery: Catalyst's decorrelation rewrites it
    // to a semi join — planner surface the DataFrame DSL never touches
    "q_correlated_exists" -> ((s, dir) => {
      Tables.supplier(s, dir).createOrReplaceTempView("g_supplier")
      Tables.lineitem(s, dir).createOrReplaceTempView("g_lineitem")
      s.sql("""
        SELECT s.s_suppkey, s.s_name FROM g_supplier s
        WHERE EXISTS (SELECT 1 FROM g_lineitem l
          WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49)""")
    }),

    // correlated SCALAR aggregate subquery (customer above its
    // nation's mean balance): decorrelated to an aggregate + join.
    // Exact-decimal mean so the comparison is engine-portable; a
    // single-member nation compares a value against exactly itself
    // (sum/1 round-trips bit-identically through decimal(18,2) — the
    // balances carry two decimals)
    "q_scalar_subquery" -> ((s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("g_customer")
      s.sql("""
        SELECT c.c_custkey, c.c_name FROM g_customer c
        WHERE c.c_acctbal > (
          SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
            / count(*)
          FROM g_customer c2 WHERE c2.c_nationkey = c.c_nationkey)""")
    }),

    // the SQL frontend end-to-end: same engine, declared as SQL text
    // over registered views (TPC-H Q3 shape) — proves the full parser/
    // analyzer path, not just the DataFrame DSL
    "q_sql_shipping_priority" -> ((s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("g_customer")
      Tables.orders(s, dir).createOrReplaceTempView("g_orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("g_lineitem")
      s.sql("""
        SELECT l.l_orderkey,
          CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
            AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
          o.o_orderdate, o.o_orderpriority
        FROM g_customer c
        JOIN g_orders o ON c.c_custkey = o.o_custkey
        JOIN g_lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < DATE '1995-03-15'
          AND l.l_shipdate > DATE '1995-03-15'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
        LIMIT 10""")
    }),

    // analytic window surface: lag/lead/rank/running aggregate in one
    // pass — hash exchange on the key + one per-partition sort serves
    // all four functions
    "q_window_funcs" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .filter(col("user_id") < 300)
        .select(col("user_id"), col("event_id"), col("ts"),
          lag(col("value"), 1).over(w).as("prev_value"),
          lead(col("value"), 1).over(w).as("next_value"),
          row_number().over(w).cast("long").as("rn"),
          sum(col("value").cast("decimal(18,2)")).over(wRun)
            .cast("double").as("running_value"))
    }),

    // global sort: range exchange + per-partition sort (the only
    // total-order operator; everything else avoids it deliberately)
    "q_global_sort" -> ((s, dir) => {
      Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .orderBy(col("value").desc, col("event_id"))
        .select(col("event_id"), col("user_id"), round(col("value"), 2)
          .as("value2"))
    }),

    // skew-safe two-phase form; same oracle as the window form — the
    // oracle row IS the equivalence proof
    "q_latest_per_key_salted" -> ((s, dir) => {
      Relational.latestPerKeySalted(Tables.events(s, dir), Seq("user_id"),
          "ts", "event_id", saltBuckets = 8)
        .select("user_id", "event_id", "ts", "event_type", "value")
    }),

    "q_type_route" -> ((s, dir) => {
      val routed = Tables.part(s, dir).withColumn("metric_family",
        when(ScalarOps.familyPredicate(col("p_type"), "promo"), "promo")
          .when(ScalarOps.familyPredicate(col("p_type"), "small"), "small")
          .when(ScalarOps.familyPredicate(col("p_type"), "large"), "large")
          .otherwise(lit(null).cast("string")))
      routed.groupBy(col("metric_family"))
        .agg(count(lit(1)).as("n"), dsum(col("p_retailprice")).as("sum_price"))
    }),

    "q_multi_join" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r.filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")),
            scale = 4).as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // the big lineitem⋈orders pairing served from pre-bucketed tables:
    // the join itself plans with ZERO exchange (bucket-local SMJ); the
    // only shuffle left is the final tiny aggregation. Same revenue
    // semantics as q_multi_join, grouped by order priority.
    "q_multi_join_bucketed" -> ((s, dir) => {
      val li = Tables.bucketed(s, dir, "lineitem", "l_orderkey", 16)
      val o = Tables.bucketed(s, dir, "orders", "o_orderkey", 16)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")),
            scale = 4).as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    "q_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val probe = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val build = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"),
          col("value").as("signup_value"),
          col("event_id").as("signup_event_id"))
      Relational.asOfJoin(probe, build, Seq("user_id"), "ts")
    }),

    // interval containment as a binned hash equi-join (never a
    // broadcast nested loop): 300 synthetic 30-minute maintenance
    // windows laid out over the events month, each event paired with
    // every window containing it
    "q_range_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("ts").isNotNull)
        .select(col("event_id"), unix_timestamp(col("ts")).as("pt"))
      val wid = col("n_nationkey") * 12 + col("k")
      val windows = Tables.nation(s, dir)
        .select(col("n_nationkey"), explode(sequence(lit(0), lit(11))).as("k"))
        .select(wid.cast("long").as("window_id"),
          (lit(1704067200L) + wid * 7200L).as("w_start"))
        .withColumn("w_end", col("w_start") + 1800L)
      Relational.rangeJoin(ev, windows, "pt", "w_start", "w_end",
          binWidth = 3600L)
        .select(col("event_id"), col("window_id"))
    }),

    // the SAME interval pairing written as a plain non-equi join, made
    // scalable by the RangeJoinRewrite optimizer rule: the user keeps
    // the natural BETWEEN query text and the rule plans the binned
    // equi-join transparently (PlanSpec asserts no nested loop)
    "q_range_join_rule" -> ((s, dir) => {
      graft.plans.RangeJoinRewrite.install(s)
      // conf-scoped: the rewrite must not leak into every later query
      // on this shared session, and optimization happens lazily — so
      // materialize eagerly under the conf, then restore it
      val prevWidth = s.conf.getOption(graft.plans.RangeJoinRewrite.WidthConf)
      s.conf.set(graft.plans.RangeJoinRewrite.WidthConf, "3600")
      try {
        val ev = Tables.events(s, dir)
          .filter(col("ts").isNotNull)
          .select(col("event_id"), unix_timestamp(col("ts")).as("pt"))
        val wid = col("n_nationkey") * 12 + col("k")
        val windows = Tables.nation(s, dir)
          .select(col("n_nationkey"),
            explode(sequence(lit(0), lit(11))).as("k"))
          .select(wid.cast("long").as("window_id"),
            (lit(1704067200L) + wid * 7200L).as("w_start"))
          .withColumn("w_end", col("w_start") + 1800L)
        ev.join(windows,
            ev("pt") >= windows("w_start") && ev("pt") <= windows("w_end"))
          .select(col("event_id"), col("window_id"))
          .localCheckpoint(eager = true)
      } finally prevWidth match {
        case Some(v) =>
          s.conf.set(graft.plans.RangeJoinRewrite.WidthConf, v)
        case None =>
          s.conf.unset(graft.plans.RangeJoinRewrite.WidthConf)
      }
    }),

    // interval×interval overlap join — rangeJoin's two-sided sibling:
    // which user sessions ran CONCURRENTLY. Both sides explode to
    // hour buckets and meet in a hash equi-join (never a nested
    // loop); the canonical-bin conjunct (bucket of the later start)
    // emits each pair exactly once with no distinct
    "q_interval_overlap" -> ((s, dir) => {
      val sess = operators.Behavior.sessionize(Tables.events(s, dir),
          "user_id", "ts", gapSeconds = 1800L)
        .select(col("user_id"), col("session_no"),
          unix_timestamp(col("session_start")).as("s"),
          unix_timestamp(col("session_end")).as("t"))
        .localCheckpoint(true) // feeds both join sides: one window pass
      val a = sess.select(col("user_id").as("user_a"),
        col("session_no").as("sess_a"), col("s").as("s_a"),
        col("t").as("t_a"))
      val b = sess.select(col("user_id").as("user_b"),
        col("session_no").as("sess_b"), col("s").as("s_b"),
        col("t").as("t_b"))
      Relational.intervalOverlapJoin(a, b, "s_a", "t_a", "s_b", "t_b",
          binWidth = 3600L)
        .filter(col("user_a") < col("user_b"))
        .select(col("user_a"), col("sess_a"), col("user_b"),
          col("sess_b"),
          (least(col("t_a"), col("t_b")) -
            greatest(col("s_a"), col("s_b"))).as("overlap_s"))
    }),

    // the OPTIMIZER-RULE arm of the overlap join: the same pairs from
    // PLAIN non-equi join text (what a SQL user writes), binned
    // transparently by IntervalOverlapRewrite — q_interval_overlap's
    // oracle pins both arms to the identical result
    "q_overlap_join_rule" -> ((s, dir) => {
      graft.plans.IntervalOverlapRewrite.install(s)
      val conf = graft.plans.IntervalOverlapRewrite.WidthConf
      val prev = s.conf.getOption(conf)
      s.conf.set(conf, "3600")
      try {
        val sess = operators.Behavior.sessionize(Tables.events(s, dir),
            "user_id", "ts", gapSeconds = 1800L)
          .select(col("user_id"), col("session_no"),
            unix_timestamp(col("session_start")).as("s"),
            unix_timestamp(col("session_end")).as("t"))
          .localCheckpoint(true)
        val a = sess.select(col("user_id").as("user_a"),
          col("session_no").as("sess_a"), col("s").as("s_a"),
          col("t").as("t_a"))
        val b = sess.select(col("user_id").as("user_b"),
          col("session_no").as("sess_b"), col("s").as("s_b"),
          col("t").as("t_b"))
        a.join(b, a("s_a") <= b("t_b") && b("s_b") <= a("t_a") &&
            a("user_a") < b("user_b"))
          .select(col("user_a"), col("sess_a"), col("user_b"),
            col("sess_b"),
            (least(col("t_a"), col("t_b")) -
              greatest(col("s_a"), col("s_b"))).as("overlap_s"))
          .localCheckpoint(eager = true) // materialize under the conf
      } finally prev match {
        case Some(v) => s.conf.set(conf, v)
        case None => s.conf.unset(conf)
      }
    }),

    // concurrency sweep over the same session intervals: +1/−1
    // boundary deltas (end+1 keeps closed-interval semantics exact in
    // integers) aggregated per distinct time, running total via the
    // certified distributed prefix — max(active) is peak concurrent
    // sessions, with no global window and ≤2 delta rows per interval
    // on the exchange
    "q_concurrency_sweep" -> ((s, dir) => {
      val sess = operators.Behavior.sessionize(Tables.events(s, dir),
          "user_id", "ts", gapSeconds = 1800L)
        .select(unix_timestamp(col("session_start")).as("s"),
          unix_timestamp(col("session_end")).as("t"))
      operators.TimeSeries.concurrencySweep(sess, "s", "t")
    }),

    // gap-based sessionization: number each user's sessions by
    // cumulative new-session flags (gap > 30 min starts a session) —
    // the per-event session-id form that session_window's grouped
    // aggregate can't give you. One exchange on user_id serves both
    // window passes.
    "q_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val epoch = unix_timestamp(col("ts"))
      val prev = lag(epoch, 1).over(w)
      val newSession = when(prev.isNull || epoch - prev > 1800L, 1L)
        .otherwise(0L)
      Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
        .select(col("event_id"), col("user_id"),
          sum(newSession).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("session_no"))
    }),

    // decile assignment within each event type — NTILE's equal-count
    // buckets (vs q_histogram's equal-width). Tie-broken on event_id
    // so the assignment is deterministic in both engines
    "q_ntile" -> ((s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value").asc, col("event_id").asc)
      Tables.events(s, dir)
        .filter(col("value").isNotNull && col("event_type").isNotNull)
        .select(col("event_id"), col("event_type"),
          ntile(10).over(w).cast("long").as("decile"))
    }),

    // equal-width value histogram per event type: floor-bucket counts.
    // Parity rests on floor(double / 10) being ONE correctly-rounded
    // IEEE op computed identically by both engines — not on integer
    // exactness (value is a double)
    "q_histogram" -> ((s, dir) => {
      Tables.events(s, dir)
        .filter(col("value").isNotNull && col("event_type").isNotNull)
        .groupBy(col("event_type"),
          floor(col("value") / 10).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
    }),

    // per-label class centroids in long form — label-cluster statistics
    // over the embedding corpus; decimal-exact means hash-match
    "q_label_centroids" -> ((s, dir) => {
      Similarity.labelCentroids(
        Tables.embeddings(s, dir).filter(col("label").isNotNull),
        "label", "embedding")
        // 6 dp: the decimal sums are exact on both sides, but the
        // decimal->double conversion can differ by an ulp between
        // engines; an 8-dp round sat on that boundary for 31/640 rows
        .select(col("label"), col("dim"), round(col("mean"), 6).as("mean"))
    }),

    // conditional aggregation (FILTER-clause semantics): several
    // differently-filtered aggregates from ONE scan + ONE exchange —
    // the alternative (one query per predicate) re-reads the fact
    // table per metric. sum(when(p, x)) is Spark's codegen'd FILTER.
    "q_agg_filter" -> ((s, dir) => {
      Tables.lineitem(s, dir).groupBy(col("l_returnflag")).agg(
        sum(when(col("l_discount") > 0.05,
          col("l_quantity").cast("decimal(18,2)"))).cast("double")
          .as("disc_qty"),
        count(when(col("l_quantity") >= 30, lit(1))).as("big_n"),
        sum(when(col("l_linestatus") === "F",
          (col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)"))).cast("double").as("rev_f"),
        count(lit(1)).as("n"))
    }),

    // time-RANGE window frame: per-user rolling 1h sum/count, framed
    // by event-time VALUE (not row count) — peers at the same second
    // share a frame. One exchange on user_id, one sort serves both
    // aggregates; the frame is evaluated with a sliding accumulator,
    // not a per-row rescan.
    "q_range_frame" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("epoch_s"))
        .rangeBetween(-3600L, 0L)
      Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("epoch_s"), col("value"))
        .select(col("event_id"), col("user_id"),
          sum(col("value").cast("decimal(18,2)")).over(w).cast("double")
            .as("roll_sum_1h"),
          count(col("value")).over(w).as("roll_n_1h"))
    }),

    // LATERAL correlated subquery (top-2 customers per nation):
    // Catalyst decorrelates the per-row ORDER BY/LIMIT subquery into a
    // ranked window over ONE join — planner surface beyond the
    // DataFrame DSL, and the rank-limit form AQE/WindowGroupLimit can
    // push down
    "q_lateral" -> ((s, dir) => {
      Tables.nation(s, dir).createOrReplaceTempView("g_nation")
      Tables.customer(s, dir).createOrReplaceTempView("g_customer")
      s.sql("""
        SELECT n.n_name, t.c_custkey, t.c_acctbal
        FROM g_nation n
        JOIN LATERAL (
          SELECT c.c_custkey, c.c_acctbal FROM g_customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c.c_acctbal DESC, c.c_custkey ASC
          LIMIT 2) t""")
    }),

    // deterministic mode (most frequent value-bucket per event type):
    // count-then-rank with an explicit tie-break — mode() builtins
    // tie-break arbitrarily, which can never hash-match across engines
    "q_mode" -> ((s, dir) => {
      val counts = Tables.events(s, dir)
        .filter(col("value").isNotNull && col("event_type").isNotNull)
        .groupBy(col("event_type"),
          floor(col("value") / 10).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("n").desc, col("bucket").asc)
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("bucket").as("mode_bucket"),
          col("n"))
    }),

    // exact third-moment skewness per group from decimal power sums
    // (the [[q_corr_moments]] pattern one moment higher): single scan,
    // map-side partial aggregation; the double arithmetic after the
    // exact sums is the identical IEEE op sequence on both engines
    "q_skewness" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      def d(c: Column) = sum(c.cast("decimal(28,6)")).cast("double")
      val q = col("l_quantity")
      val g = li.groupBy(col("l_returnflag")).agg(
        d(q).as("sx"), d(q * q).as("sxx"), d(q * q * q).as("sxxx"),
        count(lit(1)).cast("double").as("n"))
      val mean = col("sx") / col("n")
      val m2 = col("sxx") / col("n") - mean * mean
      val m3 = col("sxxx") / col("n") - lit(3) * mean * (col("sxx") / col("n")) +
        lit(2) * mean * mean * mean
      g.select(col("l_returnflag"),
        round(m3 / pow(m2, 1.5), 6).as("skew_qty"))
    }),

    // rank-statistics window surface: percent_rank / cume_dist /
    // dense_rank in one pass — tie groups share values, and the
    // ratios are single IEEE divisions of exact small ints (bit-equal
    // across engines, no rounding needed)
    "q_rank_stats" -> ((s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value").asc, col("event_id").asc)
      Tables.events(s, dir)
        .filter(col("value").isNotNull && col("event_type").isNotNull)
        .select(col("event_id"), col("event_type"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          dense_rank().over(w).cast("long").as("dr"))
    }),

    "q_cross_fanout" -> ((s, dir) => {
      Relational.fanOut(Tables.nation(s, dir).select("n_name"),
          graft.model.NagiosModel.services, "service_name")
        .select("n_name", "service_name")
    }),

    "q_explode_tokens" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 20)
    }),

    "q_pivot" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("l_linestatus") === "F", col("l_quantity"))).as("qty_f"),
          sum(when(col("l_linestatus") === "O", col("l_quantity"))).as("qty_o"),
          count(when(col("l_linestatus") === "F", lit(1))).as("n_f"),
          count(when(col("l_linestatus") === "O", lit(1))).as("n_o"))
    }),

    "q_union_all" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), lit("err").as("src"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), lit("buy").as("src"))
      errors.unionByName(buys)
    }),

    "q_except_all" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.select("user_id", "event_type")
        .exceptAll(ev.filter(col("value") < 50)
          .select("user_id", "event_type"))
    }),

    "q_rollup" -> ((s, dir) => {
      Tables.orders(s, dir)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_total"))
    }),

    "q_window_hour" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    }),

    // session windows (§2.9 engine surface): events within a 1h gap
    // merge into one session per user
    "q_session_window" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"),
          session_window(col("ts"), "1 hour").as("sw"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("n"), col("sum_value"))
    }),

    // sliding windows: 2h length, 1h slide — each event lands in 2
    // windows
    "q_sliding_window" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("wstart"), col("event_type"), col("n"))
    }),

    "q_grouping_sets" -> ((s, dir) => {
      // cube = all grouping sets over (status, priority)
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_total"))
    }),

    // TF-IDF over the document corpus: classic training-data scoring;
    // log rounded to 6dp for cross-engine float parity.
    // Single-pass shape: tf rows are unique per (doc_id, token), so
    // df(token) is a window count over tf — the explode+agg chain runs
    // ONCE and tf→df needs one exchange on token, not a groupBy + join
    // (two exchanges + a re-executed upstream). N folds in via a 1-row
    // broadcast aggregate instead of a separate driver-side count job.
    // df via aggregate+join, not a token-keyed window — the same
    // Zipf-straggler reasoning as the surprisal family (TextOps.tfidf)
    "q_tfidf" -> ((s, dir) =>
      TextOps.tfidf(Tables.documents(s, dir), "doc_id", "text")),

    "q_topk_orders" -> ((s, dir) => {
      Relational.topK(Tables.orders(s, dir), 10,
          col("o_totalprice").desc, col("o_orderkey").asc)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    }),

    // exact interpolated percentiles (both engines: linear
    // interpolation over the sorted set; 4dp rounding for float parity)
    "q_percentile" -> ((s, dir) => {
      // both l_extendedprice percentiles from ONE aggregate buffer
      // (the scalar form builds a separate per-group value map per
      // percentile — 2x the work for the same answer)
      Tables.lineitem(s, dir).groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_extendedprice, array(0.5, 0.9))").as("pe"),
          round(expr("percentile(l_quantity, 0.25)"), 4).as("q25"))
        .select(col("l_returnflag"),
          round(element_at(col("pe"), 1), 4).as("p50"),
          round(element_at(col("pe"), 2), 4).as("p90"),
          col("q25"))
    }),

    // scalar string surface over one projection
    "q_string_funcs" -> ((s, dir) => {
      Tables.customer(s, dir).select(
        col("c_custkey"),
        upper(col("c_name")).as("uname"),
        lower(col("c_mktsegment")).as("lseg"),
        substring(col("c_name"), 1, 8).as("prefix8"),
        length(col("c_name")).cast("long").as("name_len"),
        regexp_replace(col("c_name"), "[0-9]+", "#").as("masked"),
        concat_ws("|", col("c_mktsegment"), col("c_name")).as("joined"),
        levenshtein(col("c_mktsegment"), lit("MACHINERY")).cast("long")
          .as("lev"))
    }),

    "q_distinct" -> ((s, dir) => {
      Tables.customer(s, dir).select("c_mktsegment", "c_nationkey")
        .distinct()
    }),

    "q_count_distinct" -> ((s, dir) => {
      Tables.lineitem(s, dir).groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
    }),

    "q_json_props" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"),
          col("value"))
        .groupBy("k").agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    }),

    "q_completeness" -> ((s, dir) => {
      val framed = Tables.events(s, dir).select(
        col("event_id"),
        when(col("event_type") =!= "error", col("event_type")).as("et"),
        col("value"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      Relational.completenessGate(framed)
    }),

    // ============== §3.1 composed metrics ETL (flagship) ==============
    // The whole host-metric pipeline in ONE plan, end to end: synthetic
    // rrdexport response docs (JSON bodies built from events, scalar v
    // for CPU / list v for Swap — both polymorphic shapes) → explode
    // data.row (F9) → zip-pivot onto the registry schema (F8) →
    // parse-or-null + round (F1) + epoch→datetime2 (F2) → completeness
    // gate dropping injected NaN/garbage rows (P3) → melt to the long
    // payload → anti-join dedup against the previous run (J3) → family
    // routing (P4). Values are exact 2-decimal strings derived from
    // event_id, so F1's rounding is engine-portable; the oracle rebuilds
    // the same relation directly (the JSON round-trip is identity).
    "q_metrics_etl" -> ((s, dir) => metricsEtl(s, dir, hosts = 25)),

    // ================= §2.10 text analysis =================
    // Fused single-pass TextStats expression computes every counter in
    // one string scan (struct materialized in its own projection so
    // each derived ratio reads a field instead of re-running the scan).
    "q_doc_stats" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"),
          graft.functions.TextStatsExpression
            .textStats(col("text"), enStop).as("st"))
        .select(
          col("doc_id"), col("n_chars"),
          col("st.n_tokens").as("n_tokens"),
          col("st.n_bpeish").as("n_bpeish"),
          round(when(col("st.n_chars") === 0, 0.0)
            .otherwise(col("st.n_punct").cast("double") / col("st.n_chars")),
            4).as("punct_ratio"),
          round(when(col("st.n_tokens") === 0, 0.0)
            .otherwise(col("st.sum_tok_len").cast("double") / col("st.n_tokens")),
            4).as("mean_tok_len"),
          round(when(col("st.n_tokens") === 0, 0.0)
            .otherwise(col("st.n_stopwords").cast("double") / col("st.n_tokens")),
            4).as("sw_ratio"))
    }),

    "q_quality" -> ((s, dir) => {
      val st = col("st")
      val nTok = st.getField("n_tokens")
      val sw = when(nTok === 0, 0.0)
        .otherwise(st.getField("n_stopwords").cast("double") / nTok)
      val punct = when(st.getField("n_chars") === 0, 0.0)
        .otherwise(st.getField("n_punct").cast("double") / st.getField("n_chars"))
      val mtl = when(nTok === 0, 0.0)
        .otherwise(st.getField("sum_tok_len").cast("double") / nTok)
      val lengthOk = when(nTok.between(50, 100000), 1.0)
        .when(nTok.between(10, 49), 0.5).otherwise(0.0)
      val quality = round((lengthOk
        + when(sw > 0.05, 1.0).otherwise(0.0)
        + when(punct < 0.2, 1.0).otherwise(0.0)
        + when(mtl.between(2.0, 12.0), 1.0).otherwise(0.0)) / 4.0, 4)
      Tables.documents(s, dir)
        .select(col("lang"), graft.functions.TextStatsExpression
          .textStats(col("text"), enStop).as("st"))
        .select(col("lang"), quality.as("quality"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          dsum(col("quality"), scale = 4).as("sum_quality"))
    }),

    // model-scored filtering: linear quality classifier over the fused
    // TextStats features (fasttext-shaped; the sigmoid is omitted by
    // design — thresholding the linear score selects the same rows).
    // The score ships UNROUNDED: both engines run the identical IEEE
    // op sequence, so the doubles are bit-equal — while rounding to N
    // decimals can land on a half-way point the engines break
    // differently (observed at 6dp on this corpus)
    "q_quality_model" -> ((s, dir) => {
      val score = TextOps.qualityModelScore(col("st"))
      Tables.documents(s, dir)
        .select(col("doc_id"), graft.functions.TextStatsExpression
          .textStats(col("text"), enStop).as("st"))
        .select(col("doc_id"), score.as("quality_score"),
          (score > 0).as("keep"))
    }),

    "q_dedup_exact" -> ((s, dir) => {
      Tables.documents(s, dir)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n"))
        .select("doc_id", "n")
    }),

    // the canonical LLM corpus-curation composition — exact dedup →
    // language-ID → quality gate → per-language token budget — all in
    // one declarative plan: one content-hash exchange (dedup), then
    // pure map-side scoring (fused TextStats + langId), then a
    // languages-cardinality aggregation. Proves the operators compose.
    "q_curation" -> ((s, dir) => {
      val st = col("st")
      val nTok = st.getField("n_tokens")
      val sw = when(nTok === 0, 0.0)
        .otherwise(st.getField("n_stopwords").cast("double") / nTok)
      val punct = when(st.getField("n_chars") === 0, 0.0)
        .otherwise(st.getField("n_punct").cast("double") / st.getField("n_chars"))
      val mtl = when(nTok === 0, 0.0)
        .otherwise(st.getField("sum_tok_len").cast("double") / nTok)
      val lengthOk = when(nTok.between(50, 100000), 1.0)
        .when(nTok.between(10, 49), 0.5).otherwise(0.0)
      val quality = round((lengthOk
        + when(sw > 0.05, 1.0).otherwise(0.0)
        + when(punct < 0.2, 1.0).otherwise(0.0)
        + when(mtl.between(2.0, 12.0), 1.0).otherwise(0.0)) / 4.0, 4)
      // the quality gate lives INSIDE the aggregation (conditional
      // aggregates over the projected attribute), not in a filter: a
      // filter on a derived column gets predicate-pushed below the
      // projection, inlining the whole TextStats+langId tree into an
      // interpreted per-row predicate and re-evaluating it (measured
      // 4x this query's cost)
      val gate = col("quality") >= 0.5
      Dedup.exactByContent(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"),
          TextOps.langId(col("text")).as("lang_pred"),
          graft.functions.TextStatsExpression
            .textStats(col("text"), enStop).as("st"))
        .select(col("doc_id"), col("lang_pred"), quality.as("quality"),
          st.getField("n_bpeish").cast("long").as("n_bpeish"))
        .groupBy(col("lang_pred"))
        .agg(count(when(gate, 1)).as("n_docs"),
          sum(when(gate, col("n_bpeish"))).as("token_budget"))
        .filter(col("lang_pred") =!= "und" && col("n_docs") > 0)
    }),

    // ============ §2.10 hash-based ============
    // Array-typed outputs are projected to canonical comma-joined
    // strings: the driver's pandas comparator cannot sort/hash ndarray
    // cells, and the string form is order-preserving and lossless.
    //
    // The xxhash64-based fast signatures (Dedup.minhashSignature /
    // simhash64 — the scan-speed defaults inside the pair pipelines)
    // are intrinsically engine-private and are pinned by specs
    // (ExtensionOpsSpec, SqlSurfaceSpec) instead of occupying
    // rows-only oracle slots here; the md5-portable signature queries
    // below carry the exact oracles for the same computation shapes.

    // oracle-checkable simhash: md5-based 60-bit voting, every step
    // replayable by an independent engine
    "q_simhash_md5" -> ((s, dir) => {
      Dedup.simhash60Portable(Tables.documents(s, dir), "doc_id", "text")
    }),

    // oracle-checkable minhash signature: md5 base hash + affine
    // permutations mod 2^31-1, minima per permutation
    "q_minhash_sig_md5" -> ((s, dir) => {
      Dedup.minhashSignaturePortable(Tables.documents(s, dir), "doc_id",
        "text", shingleK = 5, numHashes = 32)
    }),

    "q_fingerprint" -> ((s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
        concat_ws(",", TextOps.fingerprint(col("text"), 3, 8)).as("fp"))
    }),

    "q_langid" -> ((s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
        TextOps.langId(col("text")).as("predicted_lang"))
    }),

    "q_minhash_pairs" -> ((s, dir) => {
      // raw corpus has no near-dups; the injected-near-dup corpus makes
      // the operator's full path (sig -> bands -> bucket join ->
      // verify) run and return rows. 32 bands × 2 rows: candidate
      // probability at jaccard 0.5 is 1-(1-0.25)^32 ≈ 0.9999, so the
      // verified output equals the exact all-pairs oracle on this
      // corpus (exactness asserted by the DuckDB brute-force oracle).
      nearDupPairsShared(s, dir)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    }),

    // knn outputs are exploded to one row per (query, rank): scalar
    // columns the comparator can sort, and — for brute force — the
    // shape an exact ANSI oracle (window rank over all pair scores) can
    // reproduce.
    "q_knn_bruteforce" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding"))
      Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
          "qid", k = 10)
        .select(col("query_id"),
          posexplode(col("neighbors")).as(Seq("pos", "nb")))
        .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
          col("nb.id").as("neighbor_id"))
    }),

    // exact-mode LSH (planes = 0, lossless single bucket): the whole
    // lshTopK pipeline — bucket join, post-score dedup, bounded top-k
    // — at recall 1, pinned by the brute-force oracle
    "q_knn_lsh_full" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding"))
      Similarity.lshTopK(emb, queries, "vec_id", "embedding", "qid",
          k = 10, planes = 0)
        .select(col("query_id"),
          posexplode(col("neighbors")).as(Seq("pos", "nb")))
        .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
          col("nb.id").as("neighbor_id"))
    }),

    // int8 scalar quantization of the embedding column: per-vector
    // scale + codes, bit-portable arithmetic (floor(x*scale+0.5)) so
    // the codes hash-match the oracle; codes projected to a string
    // (array cells crash the comparator)
    "q_quantize_embedding" -> ((s, dir) => {
      Similarity.withQuantizedInt8(Tables.embeddings(s, dir), "embedding")
        .select(col("vec_id"), round(col("q_scale"), 6).as("q_scale"),
          concat_ws(",", col("q_codes").cast("array<string>")).as("codes"))
    }),

    // Gram matrix of the embedding corpus: dim(dim+1)/2 cells forever
    // (the bounded-artifact class), exact-decimal cells bit-identical
    // across partitionings and engines; surfaced as double. The gram
    // job is staged per (session, dir) — production builds it once
    // per corpus version and derives every PCA artifact from it
    "q_gram_matrix" -> ((s, dir) =>
      gramShared(s, dir)
        .select(col("i"), col("j"), col("g").cast("double").as("g"))),

    // top principal direction: 3 power-iteration steps over the
    // collected gram matrix (driver state = model-sized), every step
    // engine-replayed by the oracle's chained CTEs
    "q_pca_power" -> ((s, dir) => {
      import s.implicits._
      pcaWeightsShared(s, dir)
        .zipWithIndex.map { case (w, j) => (j, w) }.toSeq
        .toDF("j", "w")
    }),

    // the serving arm: every vector's scalar projection onto the
    // learned direction (whitening / dominant-component strip) —
    // row-local, weights as literals, exact-decimal fold
    "q_pca_project" -> ((s, dir) =>
      Similarity.pcaProject(Tables.embeddings(s, dir), "vec_id",
        "embedding", pcaWeightsShared(s, dir).toSeq)),

    // the capstone: rank-1 strip v' = v - (v·w)w per vector — the
    // SemDeDup preprocessing pass, exploded to (vec_id, j, wv) rows
    // so every whitened component hash-compares
    "q_pca_whiten" -> ((s, dir) =>
      Similarity.pcaWhiten(Tables.embeddings(s, dir), "vec_id",
          "embedding", pcaWeightsShared(s, dir).toSeq)
        .select(col("vec_id"),
          posexplode(col("whitened")).as(Seq("j", "wv")))),

    // exact variant (q_knn_ivf_full pattern): planes = 0 degenerates
    // the LSH bucket join to a provably lossless all-pairs candidate
    // set, so the exact-cosine verification step — the part that
    // decides pair membership — is hash-proven end to end (the
    // planes > 0 query above measures the real scale path)
    "q_neardup_embedding_full" -> ((s, dir) => {
      Dedup.embeddingNearDupPairs(Tables.embeddings(s, dir), "vec_id",
          "embedding", threshold = 0.2, planes = 0)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
    }),

    // SemDeDup: cluster-scoped exact-cosine pairs (assignment to the
    // deterministic 8-centroid seed is part of what the oracle
    // replays — argmax cosine with ties to the lowest centroid index).
    // Both queries read the shared per-(session, dir) pair staging
    "q_semdedup_pairs" -> ((s, dir) => {
      semdedupPairsShared(s, dir)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
    }),

    // the curation step: survivors after greedy min-id semantic dedup
    "q_semdedup" -> ((s, dir) => {
      Dedup.dedupGreedyByPairs(Tables.embeddings(s, dir), "vec_id",
          semdedupPairsShared(s, dir))
        .select(col("vec_id"))
    }),

    // the full codec path — mapPartitions decode, feature vector and
    // all — is hash-oracled: the stub codec's outputs are portable by
    // design (md5 checksum; features = exact integer byte sums per
    // mod-8 slot, emitted as ints), so DuckDB replays byte-for-byte
    "q_media_features" -> ((s, dir) => {
      val media = Multimodal.fromBinary(Tables.documents(s, dir),
        "doc_id", "text", "text/plain")
      Multimodal.extractFeatures(media, dim = 8)
        .select(col("media_id"), col("n_bytes").cast("long").as("n_bytes"),
          col("checksum"),
          concat_ws(",", col("features").cast("array<int>")
            .cast("array<string>")).as("features"))
    }),

    // oracle-backed slice of the multimodal surface: byte length and
    // md5 over the binary payload are engine-portable, so the
    // binary-column plumbing (cast, column pruning past the payload)
    // gets a hash-matched row, complementing the rows-only
    // mapPartitions codec path above
    "q_media_checksum" -> ((s, dir) => {
      val media = Multimodal.fromBinary(Tables.documents(s, dir),
        "doc_id", "text", "text/plain")
      media.select(col("media_id"),
        length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("checksum"))
    }),

    // frame extraction as rows (stride 32, frame length 16): the
    // video-pipeline shape — one row per sampled frame carrying its
    // byte slice, entirely row-local; frames rendered as length + md5
    // (the corpus is pure ASCII, so the oracle can slice text where
    // Spark slices the UTF-8 payload bytes)
    "q_media_frames" -> ((s, dir) => {
      val media = Multimodal.fromBinary(Tables.documents(s, dir),
        "doc_id", "text", "text/plain")
      Multimodal.explodeFrames(media, stride = 32, frameLen = 16)
        .select(col("media_id"), col("frame_no").cast("long"),
          col("frame_offset").cast("long"),
          length(col("frame")).cast("long").as("frame_len"),
          md5(col("frame")).as("frame_md5"))
    }),

    // shot-boundary detection over the sampled frames: per-frame
    // codec features (exact integer byte sums), L1 distance to the
    // previous frame, cut where it exceeds the threshold — the frame
    // selector a video pipeline runs instead of stride-blind sampling
    "q_scene_changes" -> ((s, dir) => {
      val media = Multimodal.fromBinary(Tables.documents(s, dir),
        "doc_id", "text", "text/plain")
      Multimodal.sceneChanges(media, stride = 32, frameLen = 16,
        dim = 8, threshold = 150L)
    }),

    // end-to-end near-dup REMOVAL (the corpus-level generalization of
    // the reference's dedup-by-content): survivors = corpus minus
    // higher-id members of verified near-dup pairs. Same injected
    // near-dup corpus as q_minhash_pairs, so the exact all-pairs
    // Jaccard oracle determines the surviving id set exactly.
    "q_minhash_dedup" -> ((s, dir) => {
      Dedup.dedupGreedyByPairs(nearDupCorpus(s, dir), "doc_id",
          nearDupPairsShared(s, dir))
        .select(col("doc_id"))
    }),

    // incremental near-dup: the history corpus's band keys come from
    // the staged parquet (written once per dir by stagedHistoryBands);
    // the batch — suffix-edited copies of the first 20 docs — probes
    // those buckets without re-hashing a single history document. Same
    // lossless band config as q_minhash_pairs, so the exact
    // touching-the-batch oracle pins the output.
    "q_minhash_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val batch = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" near dup suffix")).as("text"))
      Dedup.minhashNearDupPairsIncremental(
          batch, docs.unionByName(batch), stagedHistoryBands(s, dir),
          "doc_id", "text", shingleK = 5, numHashes = 64, bands = 32,
          threshold = 0.5)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 4).as("jaccard"))
    }),

    // incremental substring dedup (the streaming twin's batch body):
    // a synthetic batch — novel 4-token heads prepended to the first
    // 20 history texts — probes the STAGED span hashes; every window
    // already present in the staged corpus is cut, so each batch doc
    // keeps its novel head (and any sub-8-token body). With batch ids
    // after all history ids this equals the full repeatedSpans pass
    // over (corpus ∪ batch) restricted to batch ids — which is
    // exactly what the oracle computes.
    "q_substring_incremental" -> ((s, dir) => {
      val batch = Tables.documents(s, dir).filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("batch item "), col("doc_id").cast("string"),
            lit(" says "), col("text")).as("text"))
      Dedup.substringDedupIncremental(batch, "doc_id", "text", 8,
        stagedSpanHashes(s, dir))
    }),

    // transitive-closure survivor rule: min-id representative per
    // connected component of the verified pair graph (the
    // corpus-curation semantics; the greedy rule above can keep chain
    // members whose only neighbors were themselves dropped). Oracle =
    // DuckDB recursive CTE computing the same closure.
    "q_minhash_dedup_cc" -> ((s, dir) => {
      Dedup.dedupByComponents(nearDupCorpus(s, dir), "doc_id",
          nearDupPairsShared(s, dir))
        .select(col("doc_id"))
    }),

    // leakage-safe split: near-dup components never straddle
    // train/val/test — the split label hashes each doc's component
    // REPRESENTATIVE (min id; singleton docs represent themselves),
    // preventing eval contamination by a training doc's near-twin at
    // split time instead of post-hoc
    "q_split_leakage_safe" -> ((s, dir) =>
      operators.Sampling.leakageSafeSplit(
        nearDupCorpus(s, dir).select(col("doc_id")),
        "doc_id", nearDupPairsShared(s, dir),
        Seq("train" -> 90, "val" -> 5, "test" -> 5))),

    // curation audit: the dup-CLUSTER size histogram over the verified
    // near-dup graph — how much duplicate mass sits in big boilerplate
    // components vs simple pairs; composed from the shared pair
    // staging + the CC closure
    "q_dup_clusters" -> ((s, dir) => {
      Dedup.connectedComponents(nearDupPairsShared(s, dir))
        .groupBy(col("component")).agg(count(lit(1)).as("size"))
        .groupBy(col("size")).agg(count(lit(1)).as("n_clusters"))
    }),

    // the exact pairwise verifier standalone: explicit (consecutive-id)
    // pair list, 3-shingle set Jaccard — fully ANSI-expressible, so the
    // verification arithmetic shared by the whole near-dup family gets
    // its own hash-matched row
    "q_ngram_jaccard" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val pairs = docs.filter(col("doc_id") < 30)
        .select(col("doc_id").as("id_a"),
          (col("doc_id") + 1).as("id_b"))
      Dedup.ngramJaccard(pairs, docs, "doc_id", "text", k = 3)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 4).as("jaccard"))
    }),

    // IVF with nprobe = nlist probes every inverted list — exact by
    // construction, so the whole IVF machinery (assignment, Lloyd
    // refinement, probe join, bounded top-k) is proven against the
    // same brute-force oracle as q_knn_bruteforce
    "q_knn_ivf_full" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding"))
      Similarity.ivfTopK(emb, queries, "vec_id", "embedding", "qid",
          k = 10, nlist = 8, nprobe = 8, refineIters = 1)
        .select(col("query_id"),
          posexplode(col("neighbors")).as(Seq("pos", "nb")))
        .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
          col("nb.id").as("neighbor_id"))
    }),

    // ordered-step funnel signup→view→click→purchase: entities whose
    // k-th step completes at-or-after their (k-1)-th — chained
    // whole-partition window minima, ONE exchange on user_id, no sort
    "q_funnel" -> ((s, dir) => {
      operators.Behavior.funnelCounts(Tables.events(s, dir), "user_id",
        "event_type", "ts", Seq("signup", "view", "click", "purchase"))
    }),

    // weekly cohort retention: cohort = week of first event, distinct
    // actives per (cohort, week offset)
    "q_cohort_retention" -> ((s, dir) => {
      operators.Behavior.cohortRetention(Tables.events(s, dir),
          "user_id", "ts", "week")
        // `offset` is a reserved word in the oracle engine
        .select(col("cohort"), col("offset").as("week_no"),
          col("entities"))
    }),

    // first-order event-type transition matrix in sparse form: one lag
    // window pass + a ≤|types|² aggregate
    "q_transitions" -> ((s, dir) => {
      operators.Behavior.transitions(Tables.events(s, dir), "user_id",
        "event_type", "ts", "event_id")
    }),

    // incident-report pair over the same state history: per user,
    // failure episodes ('error' islands), mean repair time of CLOSED
    // episodes, mean time between failure starts
    "q_reliability" -> ((s, dir) =>
      operators.Behavior.reliability(Tables.events(s, dir), "user_id",
        "event_type", "ts", "event_id", downState = "error")),

    // Nagios flap detection over the state stream: trailing-21-check
    // weighted state-change percentage (0.8→1.2 linear recency
    // weights as exact rationals) + high/low hysteresis — all windowed
    // integer sums on one (user, ts) exchange
    "q_flap_detect" -> ((s, dir) =>
      operators.Behavior.flapDetection(Tables.events(s, dir), "user_id",
        "event_type", "ts", "event_id", highPct = 20.0, lowPct = 5.0)),

    // Nagios soft/hard state confirmation: non-OK results harden at
    // the 3rd consecutive non-OK check (the retry counter spans
    // warn→crit, Nagios current_attempt semantics), OK is immediately
    // hard; emits the retry ordinal, the confirmed state, and the
    // notification rows (hard_change; starts-healthy fires nothing)
    "q_hard_state" -> ((s, dir) => {
      val snap = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .withColumn("state",
          when(col("value") < 50, "ok")
            .when(col("value") < 80, "warn")
            .otherwise("crit"))
      operators.Behavior.hardSoftState(snap, "user_id", "state", "ts",
        "event_id", okState = "ok", maxAttempts = 3)
    }),

    // Nagios re-notification schedule over the confirmed-state stream:
    // initial page at hard_change, repeat at the first check of each
    // elapsed 6h slot while the same non-OK state stays confirmed,
    // escalation from the first repeat — islands + integer slots, no
    // sequential recursion
    "q_notifications" -> ((s, dir) => {
      val snap = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .withColumn("state",
          when(col("value") < 50, "ok")
            .when(col("value") < 80, "warn")
            .otherwise("crit"))
      operators.Behavior.notificationSchedule(snap, "user_id", "state",
        "ts", "event_id", okState = "ok", maxAttempts = 3,
        intervalSeconds = 21600L, escalateAfter = 1L)
    }),

    // snapshot changelog → SCD2 validity intervals: the status-stream
    // history build (consecutive equal states merge; open interval has
    // null valid_to)
    "q_scd2" -> ((s, dir) => {
      operators.Behavior.scd2History(Tables.events(s, dir), "user_id",
          "event_type", "ts", "event_id")
        .select(col("user_id"), col("state"), col("valid_from"),
          col("valid_to"))
    }),

    // robust outliers: |value − median| > 3 · MAD per event type —
    // the heavy-tail-safe sibling of q_zscore_outliers, exact
    // interpolated percentiles on both sides
    "q_mad_outliers" -> ((s, dir) => {
      operators.Behavior.madOutliers(Tables.events(s, dir),
          "event_type", "value", 3.0)
        .select(col("event_id"), col("event_type"))
    }),

    // overlapping token-window chunking (size 50, stride 40): the
    // long-document split step feeding q_pack_sequences' packer
    "q_chunk_text" -> ((s, dir) => {
      TextOps.chunkText(Tables.documents(s, dir), "doc_id", "text",
          size = 50, stride = 40)
        .select(col("doc_id"), col("chunk_no").cast("long"),
          col("tok_start").cast("long"), col("chunk"))
    }),

    // temperature-2 domain mixture table: sqrt-flattened weights,
    // decimal-exact total, ratios summing to 1
    "q_mixture_weights" -> ((s, dir) => {
      operators.Sampling.mixtureWeights(Tables.documents(s, dir),
          "source")
        .select(col("domain"), col("n_docs"),
          col("weight").cast("double").as("weight"), col("mix_ratio"))
    }),

    // sqrt-temperature language rebalancing (the multilingual α=0.5
    // downsampling point): head languages flattened to shares ∝
    // sqrt(count), smallest language kept whole, membership the
    // engine-portable id-hash bucket
    "q_rebalance_lang" -> ((s, dir) =>
      operators.Sampling.temperatureRebalance(Tables.documents(s, dir),
        "doc_id", "lang")),

    // Efraimidis-Spirakis weighted sample: 50 docs drawn without
    // replacement, token count as the weight — longer documents
    // proportionally likelier, selection deterministic per id
    "q_weighted_sample" -> ((s, dir) =>
      operators.Sampling.weightedSample(
        Tables.documents(s, dir).select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("weight")),
        "doc_id", "weight", k = 50)),

    // curation v4 = the sampling-side composition: exact dedup →
    // sqrt-temperature language rebalance → token-weighted A-ES draw
    // of the final 100 — the "balance then sample" half of a training
    // mix, deterministic end to end
    "q_curation_v4" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // text never crosses an exchange (r12): representatives group on
      // the 32-byte content digest, not the raw text; every
      // inter-stage join carries only doc_id + small attributes, and
      // the token weight is computed INSIDE the scan stage before its
      // id-join instead of shuffling text to compute it after
      val reps = docs
        .select(sha2(col("text"), 256).as("__h"), col("doc_id"))
        .groupBy(col("__h")).agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val kept = operators.Sampling
        .temperatureRebalance(
          docs.select(col("doc_id"), col("lang")).join(reps, "doc_id"),
          "doc_id", "lang")
        .filter(col("kept")).select("doc_id")
      operators.Sampling.weightedSample(
        docs.select(col("doc_id"),
            TextOps.tokenCount(col("text")).cast("long").as("weight"))
          .join(kept, "doc_id"),
        "doc_id", "weight", k = 100)
    }),

    // greedy k-center coreset: 5 farthest-first exemplars — k−1
    // passes, each one row-local distance to the single new center
    // (literal vector) + a TakeOrdered(1) argmax; never pairwise
    "q_kcenter_coreset" -> ((s, dir) =>
      Similarity.kCenterCoreset(Tables.embeddings(s, dir), "vec_id",
        "embedding", dim = 64, k = 5)),

    // curation v5 — the round-7 capstone: exact-dedup representatives
    // ∩ CCNet surprisal band (v3's quality gate) → sqrt-temperature
    // language rebalance → token-weighted top-100 (v4's selection) →
    // the frozen phrase table applied to the survivors' text (the
    // tokenizer-prep last mile). Every stage individually oracled;
    // this pins the COMPOSITION end to end
    "q_curation_v5" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // the 100 TB contract, pinned by PlanSpec (r12 — the r11 plan
      // shuffled the raw text on six doc_id SortMergeJoins): text
      // never crosses an exchange. Representatives group on the
      // 32-byte content digest; every inter-stage join carries only
      // doc_id + small attributes; the token weight is computed
      // inside the scan stage; the k=100 survivor set broadcasts
      // back for the final text pass.
      // surprisal already carries n_tokens = size(tokens(text)) per
      // doc (same splitter as tokenCount), and every sampled doc is in
      // the band — so the weight rides the band frame instead of a
      // SECOND full-corpus tokenize (measured ~0.3 s at bench SF; zero
      //-token docs have no surprisal row and are excluded by the band
      // join in both forms, so the weights agree exactly)
      val band = TextOps.surprisal(docs, "doc_id", "text")
        .filter(col("surprisal").between(3.39, 3.41))
        .select(col("doc_id"), col("n_tokens"))
      val reps = docs
        .select(sha2(col("text"), 256).as("__h"), col("doc_id"))
        .groupBy(col("__h")).agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val base = docs.select(col("doc_id"), col("lang"))
        .join(reps, "doc_id").join(band.select("doc_id"), "doc_id")
      val kept = operators.Sampling
        .temperatureRebalance(base, "doc_id", "lang")
        .filter(col("kept")).select("doc_id")
      val sel = operators.Sampling.weightedSample(
        band.select(col("doc_id"),
            col("n_tokens").cast("long").as("weight"))
          .join(kept, "doc_id"),
        "doc_id", "weight", k = 100)
        // the survivor frame is k=100 rows by construction (limit k),
        // but its LINEAGE is the whole pipeline — and it is consumed
        // twice below, so the static plan carried two copies of the
        // full tokenize/rebalance/sample tree (~2.5k formatted lines,
        // 188 Exchange nodes; runtime ReuseExchange deduped most, but
        // analysis + AQE replanning of the doubled tree cost ~0.6 s/
        // action at bench SF, measured by ProfileCuration). Cutting
        // the plan at the bounded frame (eager localCheckpoint — the
        // rankSelect/theilSenPairPool parameter-server convention;
        // re-executed on every invocation, nothing memoized) leaves
        // the final text pass a 100-row broadcast join.
        .localCheckpoint(true)
      val selW = broadcast(sel.select(col("doc_id"), col("weight")))
      TextOps.mergePhrases(
          docs.join(selW, "doc_id"), "doc_id", "text", phraseTable)
        .join(selW, "doc_id")
        .select(col("doc_id"), col("weight"), col("text_merged"),
          col("n_merged"))
    }),

    // product-quantization encode: 64-dim embeddings → 8 codes from a
    // deterministic 16-entry seed codebook; decimal-exact distances
    // make the argmin portable across engines
    "q_pq_encode" -> ((s, dir) =>
      Similarity.pqEncode(Tables.embeddings(s, dir), "vec_id",
        "embedding", dim = 64, subspaces = 8, codebookSize = 16)),

    // Unicode NFC normalization over the corpus with a decomposed
    // 'café' injected per doc (the testdata is ASCII — the injection
    // makes the composition path observable): every row must change,
    // and the normalized text must be the composed form
    "q_normalize_text" -> ((s, dir) => {
      // DECOMPOSED e + U+0301 combining acute (written as escapes —
      // a raw combining char in source survives poorly): NFC
      // composes it to the single codepoint \u00e9
      val injected = concat(col("text"),
        lit(" caf" + "\u0065" + "\u0301"))
      Tables.documents(s, dir).select(col("doc_id"),
        TextOps.normalizeNfc(injected).as("norm_text"),
        (TextOps.normalizeNfc(injected) =!= injected).as("changed"))
    }),

    // Johnson-Lindenstrauss random projection 64 → 16 dims: the
    // deterministic md5 sign matrix needs no storage or seed, and the
    // decimal-exact accumulation makes every projected value replay
    // at 6dp; long form for the oracle
    "q_random_project" -> ((s, dir) => {
      Similarity.randomProject(Tables.embeddings(s, dir), "vec_id",
          "embedding", dimIn = 64, dimOut = 16)
        .select(col("vec_id"),
          posexplode(col("projected")).as(Seq("k", "y")))
        .select(col("vec_id"), col("k").cast("long").as("k"), col("y"))
    }),

    // per-label centroid-distance outliers: the embedding
    // contamination/drift detector — squared L2 to the class mean,
    // z-scored within the label at 4dp, flagged at z > 2
    "q_embedding_outliers" -> ((s, dir) =>
      Similarity.centroidOutliers(Tables.embeddings(s, dir),
        "vec_id", "label", "embedding")),

    // ADC top-10 over the PQ codes (the IVF-PQ search arm): corpus
    // touched only as (id, subspace, code); approximate metric,
    // deterministic computation — exactly replayed by the oracle
    "q_pq_search" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding"))
      Similarity.pqSearchTopK(emb, queries, "vec_id", "embedding",
          "qid", dim = 64, subspaces = 8, codebookSize = 16, k = 10)
        .select(col("query_id"),
          posexplode(col("neighbors")).as(Seq("pos", "nb")))
        .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
          col("nb.id").as("neighbor_id"))
    }),

    // composed IVF-PQ with a PARTIAL probe (nprobe 2 of nlist 8) that
    // is still fully oracled: the coarse quantizer is a 1-subspace PQ
    // codebook, so assignment and probe order are decimal-exact and
    // the probe FILTER itself replays in the oracle — the first
    // partial-probe ANN configuration inside the correctness artifact
    // (the float-path partials stay benchOnly)
    "q_ivfpq_search" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding"))
      Similarity.ivfPqSearchTopK(emb, queries, "vec_id", "embedding",
          "qid", dim = 64, subspaces = 8, codebookSize = 16, nlist = 8,
          nprobe = 2, k = 10)
        .select(col("query_id"),
          posexplode(col("neighbors")).as(Seq("pos", "nb")))
        .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
          col("nb.id").as("neighbor_id"))
    }),

    // decimal-exact K-means (Lloyd, k=8, 2 update rounds + final
    // assignment): frozen first-k seeds, pqSqDist argmin with ties to
    // the smaller cluster, per-dim exact-decimal centroid means — the
    // whole clustering replays in the oracle, unlike float-avg built-ins
    "q_kmeans" -> ((s, dir) =>
      Similarity.kmeansLloyd(Tables.embeddings(s, dir), "vec_id",
        "embedding", k = 8, iters = 2)),

    // per-column profile in one scan: null counts, cardinalities,
    // portable-rendered min/max — the declarative form of the
    // reference's inline completeness/row-width checks
    "q_profile" -> ((s, dir) => {
      operators.Profiling.profile(Tables.lineitem(s, dir),
        Seq("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
          "l_shipdate"))
    }),

    // declarative data-quality suite over lineitem: completeness,
    // ranges (l_tax's tight bound may FAIL — failing rows are the
    // report's point), composite-key uniqueness, FK integrity
    "q_constraints" -> ((s, dir) => {
      import operators.Profiling.Constraint._
      operators.Profiling.checkConstraints(Tables.lineitem(s, dir), Seq(
        NotNull("l_orderkey"),
        NotNull("l_returnflag"),
        InRange("l_quantity", 1.0, 50.0),
        InRange("l_discount", 0.0, 0.1),
        InRange("l_tax", 0.0, 0.05),
        Unique(Seq("l_orderkey", "l_linenumber")),
        ForeignKey("l_orderkey", Tables.orders(s, dir), "o_orderkey")))
    }),

    // CDC merge: customer balances as the base snapshot, events as the
    // changelog (error = tombstone, anything else upserts the event's
    // value); latest change per key wins, deletes remove the key,
    // changelog-only keys insert
    "q_merge_upsert" -> ((s, dir) => {
      val base = Tables.customer(s, dir)
        .select(col("c_custkey").as("user_id"),
          col("c_acctbal").as("value"))
      val changes = Tables.events(s, dir)
        .select(col("user_id"), col("value"), col("ts"), col("event_id"),
          when(col("event_type") === "error", "D").otherwise("U")
            .as("op"))
      Relational.applyChangelog(base, changes, Seq("user_id"),
        "ts", "event_id", "op")
    }),

    // temporal validity lookup: SCD2 history built from the non-
    // purchase state stream, then each purchase enriched with the
    // state valid at its event time — the as-of join IS the validity-
    // interval join because SCD2 intervals tile each key's timeline
    "q_scd2_lookup" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val hist = operators.Behavior.scd2History(
        ev.filter(col("event_type") =!= "purchase"),
        "user_id", "event_type", "ts", "event_id")
      val probes = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      Relational.asOfJoin(probes,
        hist.select(col("user_id"), col("valid_from").as("ts"),
          col("state").as("as_of_state")),
        Seq("user_id"), "ts")
    }),

    // GPT-2-shaped pre-tokenizer classes: letter runs / digit runs /
    // symbol marks — the honest token-budget accounting pass
    "q_pretokenize" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.preTokenize(col("text")).as("p"))
        .select(col("doc_id"), col("p.n_tokens").as("n_tokens"),
          col("p.n_word").as("n_word"), col("p.n_num").as("n_num"),
          col("p.n_punct").as("n_punct"))
    }),

    // lexical diversity: type-token ratio + Simpson index from exact
    // integer token counts (one IEEE division each — no libm variance)
    "q_lexical_diversity" -> ((s, dir) => {
      TextOps.lexicalDiversity(Tables.documents(s, dir), "doc_id",
        "text")
    }),

    // KMV distinct sketch: bounded O(k) aggregation state per group,
    // yet every step (md5, bottom-k, one division) replays exactly in
    // an independent engine — an ORACLED approximate-distinct
    "q_kmv_distinct" -> ((s, dir) => {
      operators.Profiling.kmvDistinct(Tables.events(s, dir),
        "event_type", "user_id", 64)
    }),

    // HLL distinct sketch (p=9, 512 registers): max-mergeable register
    // state — the shardable/daily-rollup sibling of q_kmv_distinct —
    // with the register sum folded as an exact BIGINT so even the
    // estimate replays bit-for-bit in the oracle
    "q_hll_distinct" -> ((s, dir) => {
      operators.Profiling.hllDistinct(Tables.events(s, dir),
        "event_type", "user_id", 9)
    }),

    // BPE subword encoding against the frozen merges artifact: one
    // row per (doc, word position), encode computed once per DISTINCT
    // word (the tokenizer word-cache) and broadcast back — the real
    // token-count accounting a budget-packed pretraining mix needs
    "q_bpe_encode" -> ((s, dir) => {
      TextOps.bpeEncode(Tables.documents(s, dir), "doc_id", "text",
          bpeMerges)
        .select(col("doc_id"), col("word_pos").cast("long"),
          col("word"), concat_ws(" ", col("bpe_tokens")).as("bpe"),
          size(col("bpe_tokens")).cast("long").as("n_bpe"))
    }),

    // Luhn-gated card redaction: every doc gets one VALID card (check
    // digit computed from the Luhn sum) and one INVALID sibling (check
    // digit +1) appended — the valid one must redact, the invalid one
    // must survive (the precision regex-only scrubbing can't deliver)
    "q_redact_cards" -> ((s, dir) => {
      val base15 = (lit(400000000000000L) + col("doc_id"))
        .cast("string")
      val s0 = TextOps.luhnSum(concat(base15, lit("0")))
      val chk = (lit(10L) - s0 % 10L) % 10L
      val valid = concat(base15, chk.cast("string"))
      val invalid = concat(base15, ((chk + 1L) % 10L).cast("string"))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          concat_ws(" ", col("text"), valid, invalid).as("__t"))
        .select(col("doc_id"),
          TextOps.redactCards(col("__t")).as("redacted"))
        .select(col("doc_id"), col("redacted"),
          regexp_count(col("redacted"), lit("<CARD>")).cast("long")
            .as("n_cards"))
    }),

    // tokenizer fertility per language: mean subwords per word under
    // the frozen merges — the tokenizer-QA readout that decides
    // whether a language needs its own merges before its token budget
    // silently doubles (fertility ≈ 2× means half the effective
    // context window)
    "q_tokenizer_fertility" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextOps.bpeEncode(docs, "doc_id", "text", bpeMerges)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"),
          sum(size(col("bpe_tokens")).cast("long")).as("n_subwords"))
        .select(col("lang"), col("n_words"), col("n_subwords"),
          round(col("n_subwords").cast("double") /
            col("n_words").cast("double"), 6).as("fertility"))
    }),

    // content-defined chunking (window 8, divisor 16): boundaries
    // where the md5 of the 8-char context hits 0 mod 16, so shared
    // regions chunk identically across documents regardless of
    // offset shifts — chunk hashes are the cross-snapshot shared-
    // region join key
    "q_cdc_chunks" -> ((s, dir) => {
      operators.Dedup.cdcChunks(Tables.documents(s, dir), "doc_id",
          "text", window = 8, divisor = 16)
        .select(col("doc_id"), col("chunk_no").cast("long"),
          col("start").cast("long"), col("chunk_len").cast("long"),
          col("chunk_md5"))
    }),

    // CDC shared-region pairs over the injected near-dup corpus: the
    // original and its suffixed copy share every chunk before the
    // suffix despite the edit — the shift-invariant near-dup signal;
    // min 5 shared chunks of >= 4 chars
    "q_cdc_shared" -> ((s, dir) => {
      operators.Dedup.cdcSharedRegions(nearDupCorpus(s, dir), "doc_id",
        "text", window = 8, divisor = 16, minShared = 5,
        minChunkLen = 4)
    }),

    // rare-token novelty ratio against a CMS frozen from the ENGLISH
    // half of the corpus: per document, the share of token
    // occurrences whose reference-frequency estimate is < 50 — the
    // bounded-memory "is this text ordinary for the reference
    // corpus" gate (the frozen sketch is the artifact a streaming
    // crawl would score against)
    "q_rare_tokens" -> ((s, dir) => {
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
    }),

    // count-min sketch over the corpus token stream (depth 4 × width
    // 512), point-estimated for the exact top-50 tokens: est ≥ exact
    // always (collisions only add), and both the sketch cells and the
    // min-over-rows estimate replay exactly from the md5 hash family
    "q_cms_tokens" -> ((s, dir) => {
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
    }),

    // weight-proportional systematic sample over the distributed
    // prefix sum: keep the docs straddling each 5000-char boundary of
    // the running-weight axis — deterministic PPS sampling
    "q_systematic_sample" -> ((s, dir) => {
      operators.Sampling.systematicSample(
        Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", 5000L)
    }),

    // adaptive quality gate: keep documents strictly above their own
    // language's median token count — thresholds move with the data
    // (per-language corpora differ wildly), unlike a fixed cutoff.
    // Exact interpolated percentile keeps the cut engine-portable;
    // the |langs|-row stats side stays unpinned (AQE broadcasts while
    // it fits — same policy as q_zscore_outliers/q_mad_outliers)
    "q_quality_gate_adaptive" -> ((s, dir) => {
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      val cuts = scored.groupBy(col("lang"))
        .agg(percentile(col("n_tokens"), lit(0.5)).as("cut"))
      scored.join(cuts, "lang")
        .filter(col("n_tokens") > col("cut"))
        .select(col("doc_id"), col("lang"), col("n_tokens"))
    }),

    // null-safe join (<=>): enrichment keyed on a NULLABLE extracted
    // attribute where null must MATCH null (a plain equi-join silently
    // drops every null-keyed row — the classic dirty-dimension bug).
    // Catalyst plans <=> as a hash join on a null-safe key, so this
    // stays an equi-join, not a nested loop
    "q_null_safe_join" -> ((s, dir) => {
      def k5(df: DataFrame): DataFrame = df.select(
        col("event_id"), col("event_type"),
        when(get_json_object(col("props"), "$.k").cast("long") % 3 === 0,
          lit(null).cast("long"))
          .otherwise(get_json_object(col("props"), "$.k").cast("long")
            % 5).as("k5"))
      val fact = k5(Tables.events(s, dir))
      // both sides derive from the SAME memoized events frame: rename
      // the dim keys instead of writing fact("c") === dim("c"), which
      // constructs a self-equality Column (correct only via Spark's
      // dataset-id disambiguation, and WARN-logged as trivially true)
      val dim = k5(Tables.events(s, dir))
        .filter(col("event_id") % 10 === 0)
        .select(col("event_type").as("d_event_type"),
          col("k5").as("d_k5")).distinct()
        .withColumn("dim_tag",
          concat_ws(":", col("d_event_type"),
            coalesce(col("d_k5").cast("string"), lit("null"))))
      fact.join(dim,
          col("event_type") === col("d_event_type") &&
            col("k5") <=> col("d_k5"))
        .groupBy(col("event_type"), col("k5"), col("dim_tag"))
        .agg(count(lit(1)).as("n"))
    }),

    // FORWARD as-of: the next non-purchase event at-or-after each
    // purchase — "what happened next" (time-to-next-state), the
    // mirror of q_asof_join/q_scd2_lookup's "what was in effect"
    "q_asof_forward" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val build = ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("ts"),
          col("event_type").as("next_type"),
          col("event_id").as("next_event_id"))
      val probes = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      Relational.asOfJoin(probes, build, Seq("user_id"), "ts",
        forward = true)
    }),

    // exact Jaccard set-similarity join (AllPairs prefix filtering)
    // over 3-SHINGLE sets: probes are appended-junk variants of every
    // 9th document, so each matches (only) its source at J ≈ 0.97.
    // Shingles, not tokens, are the honest workload: the shingle
    // space is vast, so prefixes are genuinely rare and the blocking
    // prunes (the word-salad corpus shares one small vocabulary —
    // token-set similarity there is a quadratic OUTPUT, not a
    // blocking failure). The oracle is the cross product, so
    // losslessness is what hash-matches
    "q_jaccard_join" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.shingles(col("text"), 3).as("toks"))
      val probes = Tables.documents(s, dir)
        .filter(col("doc_id") % 9 === 0)
        .select(col("doc_id").as("probe_id"),
          TextOps.shingles(concat(col("text"), lit(" zq xq vq")), 3)
            .as("probe_toks"))
      Dedup.jaccardJoin(docs, probes, "doc_id", "probe_id",
        "toks", "probe_toks", minJaccard = 0.6)
    }),

    // ordered LISTAGG (Spark 4): deterministic within-group
    // concatenation — the report-building aggregate
    "q_listagg" -> ((s, dir) => {
      Tables.nation(s, dir).createOrReplaceTempView("g_nation_la")
      s.sql("""
        SELECT n_regionkey,
          listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS names
        FROM g_nation_la GROUP BY n_regionkey""")
    }),

    // frame-set dedup — the video-dedup shape: payloads explode to
    // contiguous 32-byte frames (the codec frame-grab stub), each
    // frame md5s, and per-media frame-hash SETS run the STANDARD
    // minhash pipeline through its token-array entry point (frame-set
    // Jaccard) — the whole near-dup machinery reused over a non-text
    // modality. collect_set, not array_join + shingleK=1 (VERDICT r14
    // task 2): the joined string only existed for the pipeline to
    // re-split, and re-md5ing every 32-char hash inside the signature
    // kernel was the floor's single heaviest row; the signature over
    // the token array is identical (min over a multiset = min over
    // its support, verification set-ops the distinct tokens), so the
    // replayed-md5 oracle stands unchanged.
    "q_frame_dedup" -> ((s, dir) => {
      val media = Multimodal.fromBinary(nearDupCorpus(s, dir),
        "doc_id", "text", "text/plain")
      val frameDocs = Multimodal.explodeFrames(media, stride = 32,
          frameLen = 32)
        .groupBy("media_id")
        .agg(collect_set(md5(col("frame"))).as("frames"))
      Dedup.minhashNearDupPairsTokens(frameDocs, "media_id", "frames",
          numHashes = 64, bands = 32, threshold = 0.7)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 4).as("jaccard"))
    }),

    // perceptual-hash media near-dup: dHash over the codec feature
    // vectors (64 gradient bits as two 32-bit halves), 4×16-bit band
    // blocking (equi-join candidates, never all pairs), true-hamming
    // verify at ≤8 — the plateau separating byte-edited copies from
    // unrelated payloads on this corpus (measured 46 vs 61 at ≤20)
    "q_media_neardup" -> ((s, dir) =>
      Multimodal.mediaNearDup(
        Multimodal.fromBinary(nearDupCorpus(s, dir), "doc_id", "text",
          "text/plain"), maxHamming = 8)),

    // LTTB downsampling per user series (8 points): the dashboard
    // decimation — first/last kept, per middle bucket the
    // largest-triangle point vs the previous pick and the next
    // bucket's average; one entity-keyed exchange, sequential fold
    // per entity, every pick decimal/IEEE-replayable
    "q_lttb" -> ((s, dir) =>
      operators.TimeSeries.lttb(Tables.events(s, dir), Seq("user_id"),
        "ts", "value", "event_id", buckets = 8)),

    // M4 per-user decimation (16 buckets): min/max/first/last per
    // equal-width time bucket — pixel-exact line rendering from two
    // aggregates (bounds pre-agg joined back + one partial-combined
    // group); LTTB's aggregate-only sibling
    "q_m4" -> ((s, dir) =>
      operators.TimeSeries.m4(Tables.events(s, dir), Seq("user_id"),
        "ts", "value", "event_id", buckets = 16)),

    // trend-aware smoothing + one-step forecast (the ewma sibling for
    // trending streams); alpha/beta with exact complements so the
    // recursive oracle replays every double
    "q_holt" -> ((s, dir) =>
      operators.TimeSeries.holt(Tables.events(s, dir), Seq("user_id"),
        Seq("ts", "event_id"), "value", alpha = 0.25, beta = 0.5)),

    // the seasonal rung: Holt–Winters additive with a 4-slot ring —
    // the first period of each series seeds the seasonals (no
    // output), then every level/trend/season/forecast double replays
    // in the recursive oracle
    "q_holt_winters" -> ((s, dir) =>
      operators.TimeSeries.holtWinters(Tables.events(s, dir),
        Seq("user_id"), Seq("ts", "event_id"), "value",
        alpha = 0.25, beta = 0.5, gamma = 0.25, period = 4)),

    // sequential change-point detection over the metric stream:
    // two-sided CUSUM around a frozen target with alarm-reset — each
    // alarm marks one detected drift episode
    "q_cusum" -> ((s, dir) =>
      operators.TimeSeries.cusum(Tables.events(s, dir), Seq("user_id"),
        Seq("ts", "event_id"), "value",
        target = 50.0, slack = 5.0, threshold = 200.0)),

    // Theil-Sen robust trend per user: median pairwise slope + median
    // residual intercept — both exact rank-selected sample elements,
    // so the whole fit replays without an averaging step
    "q_theil_sen" -> ((s, dir) => {
      val (pts, pool) = theilSenStaged(s, dir)
      operators.TimeSeries.theilSenFit(pts, pool, Seq("user_id"))
    }),

    // the scale-graceful Theil-Sen arm (VERDICT r9 task 4): series
    // past the 64-point cap keep ~1/7 of their pairs by the portable
    // md5 pair hash instead of raising; series at/under the cap stay
    // exact. sf0.01 has users on both sides of 64 (49..86 points), so
    // one query oracles the exact arm, the sampled arm, and the
    // boundary between them
    "q_theil_sen_sampled" -> ((s, dir) => {
      val (pts, pool) = theilSenStaged(s, dir)
      operators.TimeSeries.theilSenFit(pts, pool, Seq("user_id"),
        maxPointsPerSeries = 64, oversizePairSampleMod = 7)
    }),

    // autocorrelation per series at lags 1..3: the seasonality probe
    // read before picking a smoothing horizon — one window pass emits
    // all lags, Pearson moments fold as exact scaled longs
    // (valueScaleDigits = 2, the q_corr_moments convention: events'
    // value column carries exactly 2 decimals, |v| ≤ ~561 at every SF,
    // so v·100 is an exact long ≤ 5.7e4 and every pairwise product
    // ≤ 3.2e9 — far inside long range; the 6dp-rounded acf is
    // oracle-pinned identical to the decimal-cast form at all 3 SFs)
    "q_acf" -> ((s, dir) =>
      operators.TimeSeries.acf(Tables.events(s, dir), Seq("event_type"),
        Seq("ts", "event_id"), "value", maxLag = 3,
        valueScaleDigits = Some(2))),

    // Apdex (T=50): the service-level satisfaction index over the
    // latency-shaped value column — three integer counts, one division
    "q_apdex" -> ((s, dir) =>
      operators.TimeSeries.apdex(Tables.events(s, dir),
        Seq("event_type"), "value", satisfiedThreshold = 50.0)),

    // p-chart over daily error proportions: pooled center line,
    // per-day 3-sigma limits (unequal subgroup sizes), out-of-control
    // days flagged on the unrounded proportion
    "q_pchart" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("event_type").isNotNull)
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
          (col("event_type") === "error").as("fail"))
      operators.TimeSeries.pChart(ev, Seq.empty, "day", "fail")
        .withColumn("out_of_control",
          col("out_of_control").cast("long"))
    }),

    // SAX symbolization: per-series z-normalized PAA over 64-row
    // segments mapped to a 4-letter alphabet — telemetry as grep-able
    // strings
    "q_sax" -> ((s, dir) =>
      operators.TimeSeries.sax(Tables.events(s, dir), Seq("event_type"),
        Seq("ts", "event_id"), "value", segmentRows = 64)),

    // SLA rollup: 10-minute activity intervals per user, ppm of a
    // fixed 15-day window covered by their union — the percent-uptime
    // view the reference's status dashboards serve. Output is
    // integer millionths (BIGINT): no float exists anywhere in the
    // chain, so the driver's hash protocol cannot see representation
    // drift (VERDICT r9 task 1 — the r8/r9 red row)
    "q_availability" -> ((s, dir) => {
      val e = unix_timestamp(col("ts"))
      operators.TimeSeries.availability(
        Tables.events(s, dir).filter(col("ts").isNotNull)
          .select(col("user_id"), e.as("lo"), (e + 600L).as("hi")),
        Seq("user_id"), "lo", "hi",
        windowLo = 1704412800L, windowHi = 1705708799L) // Jan 5 - Jan 19
    }),

    // interval difference A \ B as rows: activity fragments outside
    // the per-user error-downtime windows — the operator the
    // downtime-adjusted rollup sums; fragments here are the maximal
    // disjoint islands (closed-integer adjacency coalesced)
    "q_subtract_intervals" -> ((s, dir) => {
      val e = unix_timestamp(col("ts"))
      val ev = Tables.events(s, dir).filter(col("ts").isNotNull)
      val up = ev.select(col("user_id"), e.as("lo"), (e + 600L).as("hi"))
      val down = ev.filter(col("event_type") === "error")
        .select(col("user_id"), e.as("lo"), (e + 1800L).as("hi"))
      operators.TimeSeries.subtractIntervals(up, down,
        Seq("user_id"), "lo", "hi")
    }),

    // coverage GAPS — Nagios's "undetermined time": the report window
    // minus each user's activity union, i.e. subtractIntervals with
    // the window itself as A — the unmonitored periods a dashboard
    // must not silently count as up OR down
    "q_coverage_gaps" -> ((s, dir) => {
      val e = unix_timestamp(col("ts"))
      val ev = Tables.events(s, dir).filter(col("ts").isNotNull)
      val act = ev.select(col("user_id"), e.as("lo"), (e + 600L).as("hi"))
      val win = act.select(col("user_id")).distinct()
        .select(col("user_id"), lit(1704412800L).as("lo"),
          lit(1705708799L).as("hi")) // Jan 5 - 19
      operators.TimeSeries.subtractIntervals(win, act,
        Seq("user_id"), "lo", "hi")
    }),

    // scheduled-downtime-adjusted availability — the full Nagios
    // report semantics: activity intervals minus maintenance windows
    // (here: 30-minute windows around each error event), ppm over the
    // window seconds NOT consumed by downtime. Integer end to end
    // (the q_availability hash contract); one boundary-sweep window
    // pass serves uptime, downtime and subtracted coverage at once
    "q_downtime_adjusted" -> ((s, dir) => {
      val e = unix_timestamp(col("ts"))
      val ev = Tables.events(s, dir).filter(col("ts").isNotNull)
      val up = ev.select(col("user_id"), e.as("lo"), (e + 600L).as("hi"))
      val down = ev.filter(col("event_type") === "error")
        .select(col("user_id"), e.as("lo"), (e + 1800L).as("hi"))
      operators.TimeSeries.availabilityDowntimeAdjusted(up, down,
        Seq("user_id"), "lo", "hi",
        windowLo = 1704412800L, windowHi = 1705708799L) // Jan 5 - 19
    }),

    // error-budget burn rate, the multi-window SRE alert rule: burn =
    // downtime fraction / (1 - SLO) over a LONG and a SHORT window;
    // paging when BOTH exceed 1 (fast burn confirmed by sustained
    // burn — the Google SRE workbook alert). SLO 0.99 -> budget 0.01.
    // Burn is emitted as integer millionths (burn_ppm = (10⁶ −
    // availability_ppm)·100, burn > 1 ⇔ burn_ppm > 10⁶): the whole
    // chain stays BIGINT so no float representation exists for the
    // driver hash to diverge on (the q_availability treatment,
    // VERDICT r9 task 1)
    "q_burn_rate" -> ((s, dir) => {
      val e = unix_timestamp(col("ts"))
      val iv = Tables.events(s, dir).filter(col("ts").isNotNull)
        .select(col("user_id"), e.as("lo"), (e + 600L).as("hi"))
      // ONE interval-merge pass serves both windows (the
      // burnRateStream single-state shape ported to batch — VERDICT
      // r10 task 4); requiring coverage of BOTH windows reproduces the
      // per-window-chain inner join independent of window nesting
      // (with the short window inside the long one the long-side
      // filter is implied, but the call site should not depend on the
      // constants staying nested — ADVICE r11)
      operators.TimeSeries.availabilityMulti(iv, Seq("user_id"),
          "lo", "hi", Seq(
            ("long", 1704412800L, 1705708799L),   // Jan 5 - 19
            ("short", 1705017600L, 1705103999L))) // Jan 12
        .filter(col("covered_s_short") >= 1L && col("covered_s_long") >= 1L)
        .select(col("user_id"),
          ((lit(1000000L) - col("availability_ppm_long")) * 100L)
            .as("burn_long_ppm"),
          ((lit(1000000L) - col("availability_ppm_short")) * 100L)
            .as("burn_short_ppm"))
        .select(col("user_id"), col("burn_long_ppm"),
          col("burn_short_ppm"),
          (col("burn_long_ppm") > 1000000L &&
            col("burn_short_ppm") > 1000000L).as("page"))
    }),

    // m4Stream's batch form (the watermark is a no-op on a batch
    // frame): fixed-width epoch-aligned daily buckets — oracling the
    // exact aggregate the live dashboard twin emits per closed window
    "q_m4_fixed" -> ((s, dir) =>
      operators.TimeSeries.m4Stream(Tables.events(s, dir),
        Seq("user_id"), "ts", "value", "event_id",
        bucketSeconds = 86400L, watermarkDelay = "0 seconds")),

    // RRD COUNTER / Prometheus-rate semantics over the metric
    // stream: per-entity increase with reset detection (a decrease
    // means the counter restarted — increase = raw value), per-second
    // rate over the epoch gap; first samples and duplicate-timestamp
    // rows drop. One entity-keyed exchange, both lags share one sort
    "q_counter_rate" -> ((s, dir) =>
      operators.TimeSeries.counterRate(Tables.events(s, dir),
        Seq("user_id", "event_type"), "ts", "value", "event_id")),

    // per-user EWMA smoothing (alpha 0.25): one codegen fold per key
    // after a single exchange; bit-replayable (multiply, multiply,
    // add per step — no pow, no closed form)
    "q_ewma" -> ((s, dir) => {
      operators.TimeSeries.ewma(
        Tables.events(s, dir)
          .filter(col("user_id").isNotNull && col("value").isNotNull)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("value")),
        Seq("user_id"), Seq("ts", "event_id"), "value", alpha = 0.25)
        // NO rounding: the fold is bit-identical across engines (fixed
        // multiply/multiply/add sequence), and round() itself is NOT
        // portable at the half-way boundary (Spark rounds the exact
        // decimal expansion, DuckDB rounds a 1e6-scaled float —
        // measured 3/10000 rows differing by 1 ulp of the 6th decimal)
        .select(col("user_id"), col("event_id"), col("ewma"))
    }),

    // Morton (Z-order) key: the multi-dimensional clustering key
    // behind writeClustered — statically-unrolled integer bit
    // interleave, exactly replayable by any engine
    "q_zorder" -> ((s, dir) => {
      Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .select(col("event_id"),
          operators.Layout.zValue(
            pmod(col("user_id"), lit(65536)).cast("int"),
            pmod(floor(col("value") * 100).cast("long"), lit(65536))
              .cast("int")).as("z"))
    }),

    // distribution drift between cohorts (view = baseline, click =
    // current): per-bin shares + the ln-free triangular term — the
    // data-health check run before a new crawl joins the corpus
    "q_dist_drift" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      operators.Profiling.distributionDrift(
        ev.filter(col("event_type") === "view").select(col("value")),
        ev.filter(col("event_type") === "click").select(col("value")),
        "value", 10.0)
    }),

    // Kaplan-Meier time-to-first-error per acquisition cohort (first
    // event_type): users who never error are right-censored at their
    // last observation — they shrink the risk set without counting as
    // deaths, the correction naive failure fractions get wrong
    "q_kaplan_meier" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_timestamp(col("ts")).as("e"))
      val per = e.groupBy(col("user_id"))
        .agg(min(col("e")).as("t0"),
          min(when(col("event_type") === "error", col("e")))
            .as("terr"),
          max(col("e")).as("tend"),
          min(struct(col("e"), col("event_id"), col("event_type")))
            .getField("event_type").as("cohort"))
      val subj = per.select(col("cohort"),
        when(col("terr").isNotNull, col("terr") - col("t0"))
          .otherwise(col("tend") - col("t0")).as("dur"),
        col("terr").isNotNull.as("event"))
      operators.Behavior.kaplanMeier(subj, Seq("cohort"), "dur",
        "event")
    }),

    // 2x2 chi-square A/B test per event_type: arms by user-id parity,
    // conversion = value >= 50 — four exact cell counts from one
    // aggregate, one fixed IEEE formula, α=0.05 critical value
    "q_ab_test" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .withColumn("arm_a", col("user_id") % 2 === 0)
        .withColumn("hit", col("value") >= 50)
      operators.Profiling.abTest(ev, Seq("event_type"), "arm_a", "hit")
    }),

    // per-entity exact two-sample KS: does this user's click-value
    // distribution match their view-value distribution? ECDF gaps as
    // exact integers over the common n_a·n_b denominator, one double
    // division at the end; squared asymptotic significance test
    "q_ks_drift" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "view"))
        .withColumn("is_click", col("event_type") === "click")
      operators.Profiling.ksTest(ev, Seq("user_id"), "value",
        "is_click")
    }),

    // Spark 4 VariantType ingestion: parse_json once into the binary
    // variant encoding, typed paths via variant_get — the
    // schema-on-read form of the reference's polymorphic JSON
    // handling (F10, `url...py:87-95`), without a per-field regex
    "q_variant" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"), parse_json(col("props")).as("v"))
        .select(col("event_id"),
          expr("variant_get(v, '$.k', 'bigint')").as("k"),
          expr("variant_get(v, '$.k', 'string')").as("k_str"))
    }),

    // recursive CTE (Spark 4 WITH RECURSIVE): ancestor closure over
    // the synthetic digit-shift hierarchy (parent = key DIV 10) — the
    // SQL-frontend form of iterative closure; connectedComponents is
    // the DataFrame-side iterate for the same class of problems
    "q_recursive_cte" -> ((s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("g_customer_rc")
      s.sql("""
        WITH RECURSIVE anc AS (
          SELECT c_custkey AS node,
                 CAST(floor(c_custkey / 10.0) AS BIGINT) AS anc,
                 1 AS depth
          FROM g_customer_rc WHERE c_custkey > 0
          UNION ALL
          SELECT node, CAST(floor(anc / 10.0) AS BIGINT), depth + 1
          FROM anc WHERE anc > 0)
        SELECT node, anc, CAST(depth AS BIGINT) AS depth FROM anc""")
    }),

    // per-group winsorization: clip values into the [p05, p95] exact
    // percentile band — outlier taming that keeps rows (where
    // q_zscore/q_mad DROP them); stats side unpinned as usual
    "q_winsorize" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull && col("event_type").isNotNull)
      val cuts = ev.groupBy(col("event_type"))
        .agg(percentile(col("value"), lit(0.05)).as("p05"),
          percentile(col("value"), lit(0.95)).as("p95"))
      ev.join(cuts, "event_type")
        .select(col("event_id"), col("event_type"),
          least(greatest(col("value"), col("p05")), col("p95"))
            .as("value_w"))
    }),

    // edit-distance similarity join (ED-Join prefix filtering over
    // globally-ordered q-grams): parts fuzzy-matched against typo'd
    // variants within 1 edit — candidate generation is a rare-gram
    // hash equi-join, never a cross product; the oracle IS the cross
    // product, proving the blocking lossless
    "q_fuzzy_join" -> ((s, dir) => {
      val parts = Tables.part(s, dir)
        .select(col("p_partkey").as("part_id"), col("p_name"))
      val variants = Tables.part(s, dir)
        .filter(col("p_partkey") % 10 === 0)
        .select(col("p_partkey").as("variant_id"),
          concat(substring(col("p_name"), 1, 2), lit("q"),
            substring(col("p_name"), 4, 10000)).as("v_name"))
      Dedup.editDistanceJoin(parts, variants, "part_id", "variant_id",
          "p_name", "v_name", maxDist = 1, q = 3)
        .select(col("part_id"), col("variant_id"),
          col("dist").cast("long").as("dist"))
    }),

    // entity resolution: the record-linkage capstone — parts plus a
    // typo'd twin of every 10th resolve into entities via the fuzzy
    // self-join (prefix-filtered blocking) and FastSV transitive
    // closure; the oracle's cross-product + recursive closure proves
    // BOTH stages lossless at once
    "q_entity_resolution" -> ((s, dir) => {
      val base = Tables.part(s, dir)
        .select(col("p_partkey").as("rec_id"), col("p_name").as("name"))
      val twins = Tables.part(s, dir)
        .filter(col("p_partkey") % 10 === 0)
        .select((col("p_partkey") + 10000000L).as("rec_id"),
          concat(substring(col("p_name"), 1, 2), lit("q"),
            substring(col("p_name"), 4, 10000)).as("name"))
      Dedup.resolveEntities(base.unionByName(twins), "rec_id", "name",
        maxDist = 1, q = 3)
    }),

    // incremental entity assignment — the serving arm of the staged
    // family (staged bands / frozen BPE / staged spans): a batch of
    // typo'd newcomers plus genuinely novel names assigns against the
    // FROZEN resolved registry; matches take the registry's min
    // entity within 1 edit, novel names become provisional entities
    // (min batch id per exact string), no batch-internal fuzzy links
    "q_entity_resolution_incremental" -> ((s, dir) => {
      // registry read from the per-(dir, version) staging — the
      // production mode, where the corpus-wide resolution is a
      // scheduled rebuild and the tick pays only the assignment probe
      val registry = stagedErRegistry(s, dir)
      val batch = Tables.part(s, dir)
        .filter(col("p_partkey") % 25 === 0)
        .select((col("p_partkey") + 20000000L).as("rec_id"),
          concat(substring(col("p_name"), 1, 1), lit("x"),
            substring(col("p_name"), 3, 10000)).as("name"))
        .unionByName(Tables.part(s, dir)
          .filter(col("p_partkey") % 50 === 0)
          .select((col("p_partkey") + 30000000L).as("rec_id"),
            concat(lit("novel entity "),
              (col("p_partkey") % 7).cast("string")).as("name")))
      Dedup.resolveEntitiesAgainst(batch, registry, "rec_id", "name",
        "entity_id", maxDist = 1, q = 3)
    }),

    // null-aware anti join: NOT IN under three-valued logic — a NULL
    // probe value never qualifies (NULL NOT IN list is never TRUE), so
    // Catalyst must plan its dedicated null-aware anti join, not the
    // plain LeftAnti that IS-NULL-blind EXCEPT/anti dedup uses
    "q_not_in" -> ((s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("g_customer_ni")
      Tables.orders(s, dir).createOrReplaceTempView("g_orders_ni")
      s.sql("""
        SELECT c_custkey, c_name FROM g_customer_ni
        WHERE CASE WHEN c_custkey % 7 = 0 THEN NULL
                   ELSE c_custkey END NOT IN (
          SELECT o_custkey FROM g_orders_ni
          WHERE o_orderstatus = 'F')""")
    }),

    // session-LEVEL rollup of the gap rule (q_sessionize gives the
    // per-event session-id form): one row per (user, session) with
    // bounds and event count — one entity-keyed exchange, two window
    // passes sharing its sort, exchange-free final aggregate.
    // Epoch-seconds output (the funnel convention) keeps the hash
    // engine-portable
    "q_sessions" -> ((s, dir) => {
      operators.Behavior.sessionize(Tables.events(s, dir),
          "user_id", "ts", gapSeconds = 1800L)
        .select(col("user_id"), col("session_no"),
          unix_timestamp(col("session_start")).as("start_ep"),
          unix_timestamp(col("session_end")).as("end_ep"),
          col("n_events"))
    }),

    // PageRank by power iteration over the undirected order–supplier
    // graph from lineitem (both directions of each distinct pair).
    // 3 fixed rounds here (each round is a full exchange pair — the
    // oracle replays exactly these; deeper chains are pinned by
    // BehaviorSpec's 5-round fixtures); contributions sum as
    // DECIMAL(38,12) so the result is reduce-order-independent and
    // replayable by the oracle's unrolled-CTE chain
    "q_pagerank" -> ((s, dir) => pageRankQuery(s, dir)),

    // personalized PageRank on the same order/supplier graph: restart
    // mass concentrated on every-10th supplier — proximity-to-seeds
    // scores, the seeded-relevance readout global centrality can't
    // express; same long-id trick, labels attached at the end
    "q_personalized_pagerank" -> ((s, dir) => pprQuery(s, dir)),

    // per-node triangle counts on the part co-purchase graph (parts
    // sharing >= 2 distinct orders): degree-ordered orientation keeps
    // the wedge join O(E^1.5) even on skewed degrees — the hub node
    // never enumerates its own deg^2 wedges
    "q_triangles" -> ((s, dir) =>
      operators.Behavior.triangleCounts(
        coPurchaseEdges(s, dir), "u", "v")),

    // k-core over the same support-2 co-purchase graph: iterative
    // peel to the fixpoint — the cohesive-community filter between
    // triangle density and PageRank centrality; spam/bridge parts
    // shell away, survivors report their in-core degree
    "q_kcore" -> ((s, dir) =>
      operators.Behavior.kCore(coPurchaseEdges(s, dir), "u", "v",
        k = 3)),

    // blocked inverted index: token -> sorted doc-id postings split
    // over doc_id%8 blocks (the salted-aggregate trick — the head
    // token's list never lands on one reducer or in one row); df >= 5
    // drops the hapax tail. Postings render comma-joined (the hosts-
    // column convention) for engine-portable hashing
    "q_inverted_index" -> ((s, dir) => {
      operators.TextOps.invertedIndex(Tables.documents(s, dir),
          "doc_id", "text", nBlocks = 8, minDf = 5L)
        .select(col("token"), col("block"), col("df"), col("n_docs"),
          array_join(col("postings"), ",").as("postings"))
    }),

    // exact global quantiles by distributed rank selection: range-
    // partitioned single-column sort + O(partitions) driver offset
    // fold — never a one-reducer percentile aggregate
    "q_rank_select" -> ((s, dir) =>
      operators.Profiling.rankSelect(Tables.lineitem(s, dir),
        "l_extendedprice", Seq(0.25, 0.5, 0.9, 0.99))),

    // exact WEIGHTED quantiles: the price below which q of the total
    // QUANTITY sits — same range-sort + distributed-prefix machinery
    // as q_rank_select, targets broadcast as an interval probe;
    // integral weights keep the cumulative engine-exact
    "q_rank_select_weighted" -> ((s, dir) =>
      operators.Profiling.rankSelectWeighted(Tables.lineitem(s, dir),
        "l_extendedprice", "l_quantity", Seq(0.25, 0.5, 0.9, 0.99))),

    // one-pass quantile SKETCH: deterministic md5 bottom-k row sample
    // (O(k) state per task, values never shuffle — the kept hashes
    // broadcast back as a semi-join filter), exact discrete quantiles
    // of the ≤k-row sample. Deterministic sample ⇒ the estimate
    // itself is oracle-replayable even in the approximate regime
    "q_sample_quantiles" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).withColumn("_rid",
        concat_ws(":", col("l_orderkey"), col("l_linenumber")))
      operators.Profiling.sampleQuantiles(li, "_rid", "l_extendedprice",
        256, Seq(0.25, 0.5, 0.9, 0.99))
    }),

    // per-GROUP quantile sketch: per-language token-count percentiles
    // from each language's deterministic bottom-64 row sample — O(k)
    // state per group per task, values join back by (group, hash)
    "q_sample_quantiles_by_lang" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("lang"),
        col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens"))
      operators.Profiling.sampleQuantilesByKey(docs, "lang", "doc_id",
        "n_tokens", 64, Seq(0.5, 0.9))
    }),

    // per-group heavy hitters with bounded Misra–Gries state (≤k
    // counters per group per task); k=16 ≥ the 5 distinct priorities
    // ⇒ the exact regime the oracle pins — at scale the same plan
    // enumerates top tokens per domain with the n/(k+1) MG bound
    "q_freq_items" -> ((s, dir) =>
      operators.Profiling.freqItemsByKey(Tables.orders(s, dir),
        "o_orderstatus", "o_orderpriority", 16)),

    // equi-depth binning: the global ntile WITHOUT a global ordered
    // window — rank-selected boundaries broadcast as one array row,
    // assignment row-local, ties stable (8 = power of two keeps the
    // boundary ranks engine-exact)
    "q_equidepth" -> ((s, dir) =>
      operators.Profiling.equiDepthBins(Tables.lineitem(s, dir),
        "l_extendedprice", nBins = 8)),

    // centrality-based dup-cluster representatives: the survivor
    // policy between greedy min-id and full closure — keep each
    // component's most CENTRAL member (the best-connected, least
    // fringe duplicate; Lee et al. keep-first is arbitrary under
    // crawl reordering, centrality is not). Composes the shared
    // verified pair table → 3-round decimal PageRank on the dup graph
    // → CC labels → per-component argmax (pr desc, id asc)
    "q_dup_representatives" -> ((s, dir) => {
      val pairs = nearDupPairsShared(s, dir).select("id_a", "id_b")
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      val pr = operators.Behavior.pageRank(edges, "src", "dst", iters = 3)
        .select(col("node").cast("long").as("doc_id"),
          col("pagerank"))
      val comp = Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("component"))
      comp.join(pr, "doc_id")
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"),
          max_by(col("doc_id"),
            struct(col("pagerank"), -col("doc_id"))).as("representative"),
          max(col("pagerank")).as("pagerank"))
    }),

    // distributed GD training of a linear lang-prior gate: 3 full-
    // batch steps, each ONE decimal gradient aggregate + an
    // O(features) driver update re-broadcast as literals — the
    // parameter-server shape; weights replayed step-for-step by the
    // oracle's unrolled CTEs
    "q_linear_fit" -> ((s, dir) =>
      operators.Profiling.linearFitGD(gateFeatures(s, dir),
        Seq("x_tokens", "x_chars"), "y", steps = 3, lr = 0.1)),

    // train-then-serve: fit the gate's weights (same 3-step GD), then
    // score every document with them as literals and keep the docs
    // scoring STRICTLY ABOVE THE CORPUS MEAN — a scale-free cut (an
    // absolute threshold is meaningless when the learned weight scale
    // moves with the corpus); mean over exact 6dp-decimal scores, so
    // the cut itself is engine-portable
    "q_trained_gate" -> ((s, dir) => {
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
    }),

    // reproducible corpus shuffle: the md5-keyed training order —
    // uniform-random in distribution, bit-identical across runs and
    // engines; one range-sort rank pass, no rand(), no driver
    // permutation
    "q_shuffle_order" -> ((s, dir) =>
      operators.Sampling.shuffleOrder(
        Tables.documents(s, dir).select("doc_id"), "doc_id",
        salt = "epoch1")),

    // the scale-safe NTILE twin: q_ntile's exact decile assignment
    // computed from groupRank instead of the partitioned window,
    // oracled against the WINDOW form itself — the differential proof
    // the safe path is a drop-in replacement. SQL ntile front-loads
    // the remainder: the first m mod n buckets hold ⌈m/n⌉ rows, the
    // rest ⌊m/n⌋ (NOT the equal-interval (r−1)·n div m rule, which
    // drifts whenever m mod n > 1)
    "q_ntile_safe" -> ((s, dir) => {
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
    }),

    // scale-safe per-group rank: token-count rank + percentile within
    // each LANGUAGE — few huge groups, exactly where a partitioned
    // window would serialize the biggest group on one task; one
    // composite-key range sort + a broadcast |langs|-row offset table
    "q_group_rank" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        col("lang"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      operators.Sampling.groupRank(docs, "lang", "n_tokens", "doc_id")
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("rank"), col("pct"))
    }),

    // domain-difficulty mixture reweighting (DoReMi-flavored
    // heuristic): mean frozen-en-LM surprisal per language, normalized
    // — domains unfamiliar to the reference upweight, so the mixture
    // spends budget where the model has most to learn. Bounded
    // aggregates only (|langs| rows), decimal means for portability
    "q_domain_reweight" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scored = TextOps.surprisalAgainst(docs, "doc_id", "text",
        TextOps.unigramModel(docs.filter(col("lang") === "en"), "text"))
      val byDom = scored
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .filter(col("lang").isNotNull)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("surprisal_ref").cast("decimal(38,6)"))
            .cast("double") / count(lit(1)), 6).as("mean_surprisal"))
      val tot = byDom.agg(
        sum(col("mean_surprisal").cast("decimal(38,6)"))
          .cast("double").as("__t"))
      byDom.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_docs"), col("mean_surprisal"),
          round(col("mean_surprisal") / col("__t"), 6).as("mix_weight"))
    }),

    // the capstone composition — what actually feeds a trainer:
    // reproducible shuffle (salted md5 rank) → token-budget packing
    // along that order (distributed prefix sum → 4096-token
    // sequences). Every stage reuses oracled machinery; one range
    // exchange on the hash key, then shardByBudget's two-pass rank
    "q_epoch_pack" -> ((s, dir) => {
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
    }),

    // feature hashing: every doc becomes a fixed 16-dim L2-normalized
    // hashed tf-idf vector with no trained model — the bridge from
    // the text family into the embedding family (cosine/k-means/ANN
    // on text-only corpora); exploded rows per the random_project
    // convention
    "q_hashed_embedding" -> ((s, dir) =>
      operators.TextOps.hashedTfidfEmbedding(
        Tables.documents(s, dir), "doc_id", "text", dim = 16)),

    // the bridge end to end: TEMPLATE/BOILERPLATE pairs from TEXT
    // ONLY via hashed embeddings — exact pairwise cosine (decimal dot
    // products) over the 16-dim vectors, keep ≥ 0.95: near-identical
    // and same-template documents, the curation signal tf-idf cosine
    // actually carries (a short doc with a high-idf suffix scores
    // ~0.6-0.8 — suffix-dup recovery is the minhash family's job; the
    // quadratic join is the exactness-oracle class, the production
    // path being the bucketed/ANN family over these same vectors)
    "q_hashed_neardup" -> ((s, dir) => {
      // fixed probe set (600 smallest ids + the injected copies), the
      // q_knn_* exactness-oracle convention: the pairwise join stays
      // the same size as the corpus grows; scanning the full corpus
      // belongs to the bucketed/ANN production path
      // eager localCheckpoint: the tf-idf subtree feeds BOTH sides of
      // the self-join; without it the whole tokenize/df/idf pipeline
      // runs twice (measured 5.3s -> materialize once). Pairs score
      // via the fused PqDot kernel over DENSE per-doc vectors (one
      // broadcast pairwise join, row-local decimal fold) instead of a
      // 16x-exploded (k-join, groupBy-pair) shuffle — same per-term
      // round/decimal chain, so hash-identical to the exploded-form
      // oracle (measured 3.6s -> 0.6s)
      val vecs = operators.TextOps.hashedTfidfEmbedding(
        nearDupCorpus(s, dir)
          .filter(col("doc_id") < 600 || col("doc_id") >= 1000000),
        "doc_id", "text", dim = 16)
      val dense = vecs.groupBy(col("doc_id"))
        .agg(map_from_entries(collect_list(
          struct(col("k"), col("v")))).as("_m"))
        .select(col("doc_id"),
          transform(sequence(lit(0L), lit(15L)),
            k => element_at(col("_m"), k)).as("_arr"))
        .localCheckpoint(true)
      val a = dense.select(col("doc_id").as("id_a"), col("_arr").as("va"))
      val b = dense.select(col("doc_id").as("id_b"), col("_arr").as("vb"))
      a.join(broadcast(b), col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(VectorExpressions.pqDot(col("va"), col("vb"))
            .cast("double"), 6).as("cosine"))
        .filter(col("cosine") >= 0.95)
    })
  )

  /** Bench-only queries: the partial-probe ANN configurations — the
    * actual 100 TB scale paths (bucketed candidates, bounded probes)
    * whose outputs are approximate BY DESIGN and therefore have no
    * exact SQL oracle. Their semantics are pinned twice over: each has
    * an exactly-oracled degenerate sibling in [[queries]]
    * (`q_knn_ivf_full`, `q_knn_lsh_full`, `q_neardup_embedding_full` —
    * same pipeline at recall 1) and a recall/monotonicity spec
    * (ExtensionOpsSpec). Kept out of [[queries]] so the correctness
    * artifact carries zero unverifiable rows; kept in the bench so the
    * scale path stays measured.
    */
  /** Forced-distributed (`localMaxEdges = 0`) twins of the gated
    * graph queries (ADVICE r13): with the r13 small-graph gates
    * active, the oracle rows for q_pagerank / q_personalized_pagerank
    * / q_triangles / q_kcore / q_minhash_dedup_cc exercise the DRIVER
    * arms at verify SF — distributed-plan parity rested only on
    * tiny-graph unit differentials, so a regression in the
    * distributed decimal dataflow would have slipped past the DuckDB
    * gate. These twins re-run the SAME query bodies with the gate
    * pinned off; `Verify` dumps them (so the driver hash-checks the
    * distributed plans against the same oracles every round) and
    * `Bench` does NOT run them (the bench surface, and with it the
    * floor fingerprint protocol, is unchanged).
    */
  def verifyOnly: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pagerank_dist" -> ((s, dir) =>
      pageRankQuery(s, dir, localMaxEdges = 0)),
    "q_personalized_pagerank_dist" -> ((s, dir) =>
      pprQuery(s, dir, localMaxEdges = 0)),
    "q_triangles_dist" -> ((s, dir) =>
      operators.Behavior.triangleCounts(
        coPurchaseEdges(s, dir), "u", "v", localMaxEdges = 0)),
    "q_kcore_dist" -> ((s, dir) =>
      operators.Behavior.kCore(coPurchaseEdges(s, dir), "u", "v",
        k = 3, localMaxEdges = 0)),
    "q_minhash_dedup_cc_dist" -> ((s, dir) =>
      Dedup.dedupByComponents(nearDupCorpus(s, dir), "doc_id",
          nearDupPairsShared(s, dir), localMaxEdges = 0)
        .select(col("doc_id"))),
  )

  def benchOnly: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the flagship operational path, timed end to end: one committed
    // NagiosEtlJob cron tick (stream read of landed response docs →
    // flatten → melt → bounded dedup → partitioned append). No SQL
    // oracle — it is a side-effecting streaming job; correctness is
    // JobSpec's (idempotence, dedup window, quarantine), the bench
    // row tracks its wall clock per round (VERDICT r9 task 7)
    "q_etl_job" -> ((s, dir) => etlJobTick(s, dir, hosts = 25)),

    "q_knn_lsh" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding"))
      Similarity.lshTopK(emb, queries, "vec_id", "embedding", "qid",
          k = 10, planes = 4)
        .select(col("query_id"),
          posexplode(col("neighbors")).as(Seq("pos", "nb")))
        .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
          col("nb.id").as("neighbor_id"))
    }),

    "q_knn_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding"))
      Similarity.ivfTopK(emb, queries, "vec_id", "embedding", "qid",
          k = 10, nlist = 16, nprobe = 4)
        .select(col("query_id"),
          posexplode(col("neighbors")).as(Seq("pos", "nb")))
        .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
          col("nb.id").as("neighbor_id"))
    }),

    "q_neardup_embedding" -> ((s, dir) => {
      Dedup.embeddingNearDupPairs(Tables.embeddings(s, dir), "vec_id",
          "embedding", threshold = 0.2, planes = 4)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
    })
  )

  /** Shared CTE body for the gram/PCA oracle family (single source of
    * truth, the bpe-merges convention): exact-decimal gram cells, the
    * mirrored square, and `steps` power-iteration steps replayed with
    * the same round/decimal/sqrt chain as
    * [[operators.Similarity.pcaTopComponent]].
    */
  private val gramOracleCtes: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings
      |  WHERE embedding IS NOT NULL AND len(embedding) = 64),
      |gr AS (
      | SELECT i.i - 1 AS i, j.j - 1 AS j,
      |  sum(CAST(round(e.v[i.i] * e.v[j.j], 12)
      |    AS DECIMAL(38,12))) AS g
      | FROM e, generate_series(1, 64) i(i), generate_series(1, 64) j(j)
      | WHERE j.j >= i.i
      | GROUP BY 1, 2)""".stripMargin

  /** Pure-DECIMAL power-iteration replay (no doubles inside the loop
    * — see the [[operators.Similarity.pcaTopComponent]] scaladoc for
    * why: double rounding of dyadic-constant products lands on exact
    * decimal halves and flips engine-dependently). Products are
    * DECIMAL(20,12)×DECIMAL(18,12) = DECIMAL(38,24), exactly at
    * DuckDB's width cap; one normalization at the end, 6dp.
    */
  private def pcaOracleCtes(steps: Int): String = {
    // exact decimal 10^-e shift table (e = digit count of ⌊max|u|⌋,
    // so e ≤ 11 under the driver's |gram cell| < 1e8 precondition)
    val shiftCases = (0 to 11).map { e =>
      val lit = if (e == 0) "1" else "0." + "0" * (e - 1) + "1"
      s"WHEN $e THEN CAST($lit AS DECIMAL(13,12))"
    }.mkString(" ")
    val head = gramOracleCtes + ",\n" +
      """g2 AS (SELECT i, j, CAST(g AS DECIMAL(24,12)) AS g FROM gr
        | UNION ALL SELECT j AS i, i AS j, CAST(g AS DECIMAL(24,12)) AS g
        | FROM gr WHERE i < j),
        |w0 AS (SELECT j.j - 1 AS j,
        |  CAST(round(1.0 / sqrt(64.0), 12) AS DECIMAL(14,12)) AS w
        | FROM generate_series(1, 64) j(j))""".stripMargin
    val stepCtes = (1 to steps).map { t =>
      s"""s$t AS (SELECT g2.j,
         |  CAST(sum(round(g2.g * w${t - 1}.w, 12)) AS DECIMAL(24,12)) AS u
         | FROM g2 JOIN w${t - 1} ON g2.i = w${t - 1}.j GROUP BY g2.j),
         |e$t AS (SELECT CASE WHEN m = 0 THEN 0
         |   ELSE length(CAST(m AS VARCHAR)) END AS e
         | FROM (SELECT CAST(floor(max(abs(u))) AS BIGINT) AS m
         |   FROM s$t) t$t),
         |w$t AS (SELECT s$t.j,
         |  CAST(round(s$t.u * (CASE e$t.e $shiftCases END), 12)
         |    AS DECIMAL(14,12)) AS w
         | FROM s$t CROSS JOIN e$t)""".stripMargin
    }.mkString(",\n")
    val tail =
      s"""nrm AS (SELECT CAST(sum(round(w * w, 12)) AS DOUBLE) AS n2
         | FROM w$steps),
         |wout AS (SELECT t.j, round(CAST(t.w AS DOUBLE) / sqrt(nrm.n2), 6)
         |  AS w
         | FROM w$steps t CROSS JOIN nrm)""".stripMargin
    s"$head,\n$stepCtes,\n$tail"
  }

  /** Greedy k-center replay: all k farthest-first rounds unrolled as
    * chained CTEs — per round a distance table to the previous
    * center's vector (the pqSqDist per-element decimal chain), a
    * running min, and a (d desc, id) argmax.
    */
  private def kcenterOracleSql(k: Int): String = {
    val head =
      """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings
        |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
        |    AND len(embedding) = 64),
        |c1 AS (SELECT min(vec_id) AS id FROM e)""".stripMargin
    val steps = (2 to k).map { t =>
      val mn =
        if (t == 2) s"mn2 AS (SELECT vec_id, d FROM d2)"
        else
          s"""mn$t AS (SELECT mn${t - 1}.vec_id,
             |  least(mn${t - 1}.d, d$t.d) AS d
             | FROM mn${t - 1} JOIN d$t USING (vec_id))""".stripMargin
      s"""d$t AS (SELECT e.vec_id,
         |  round(CAST(sum(CAST(round((e.v[i.i] - s.v[i.i])
         |      * (e.v[i.i] - s.v[i.i]), 12) AS DECIMAL(28,12)))
         |    AS DOUBLE), 6) AS d
         | FROM e CROSS JOIN (SELECT e2.v FROM e e2
         |   JOIN c${t - 1} ON e2.vec_id = c${t - 1}.id) s,
         |  generate_series(1, 64) i(i)
         | GROUP BY e.vec_id),
         |$mn,
         |c$t AS (SELECT vec_id AS id, d FROM mn$t
         | ORDER BY d DESC, vec_id ASC LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val rows = (2 to k).map(t =>
      s"SELECT CAST($t AS BIGINT) AS rank, id AS vec_id, d AS dist FROM c$t")
      .mkString("\nUNION ALL ")
    s"""WITH $head,
       |$steps
       |SELECT CAST(1 AS BIGINT) AS rank, id AS vec_id,
       |  CAST(0.0 AS DOUBLE) AS dist FROM c1
       |UNION ALL $rows""".stripMargin
  }

  /** LTTB replay: the B−2 middle-bucket argmax stages unrolled as
    * chained CTEs (the kcenter pattern, per key): integer-division
    * bucket map, decimal-chain bucket averages, IEEE-double triangle
    * areas against the PREVIOUS stage's pick, (area desc, index asc)
    * ties. Series with ≤ B samples pass through whole.
    */
  private def lttbOracleSql(buckets: Int): String = {
    val mid = buckets - 2
    val head =
      s"""base AS (
         | SELECT user_id AS k,
         |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS e,
         |  CAST(event_id AS BIGINT) AS tb, CAST(value AS DOUBLE) AS v
         | FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
         |  AND value IS NOT NULL),
         |items AS (
         | SELECT k, e, v,
         |  row_number() OVER (PARTITION BY k ORDER BY e, tb, v) - 1
         |    AS i,
         |  count(*) OVER (PARTITION BY k) AS n
         | FROM base),
         |big AS (SELECT * FROM items WHERE n > $buckets),
         |mb AS (
         | SELECT k, e, v, i, n,
         |  ((i - 1) * $mid) // (n - 2) AS b
         | FROM big WHERE i >= 1 AND i <= n - 2),
         |avgs AS (
         | SELECT k, b,
         |  round(CAST(sum(e) AS DOUBLE) / count(*), 6) AS xb,
         |  round(CAST(sum(CAST(round(v, 12) AS DECIMAL(38,12)))
         |    AS DOUBLE) / count(*), 6) AS yb
         | FROM mb GROUP BY 1, 2),
         |lastp AS (SELECT k, e, v FROM big WHERE i = n - 1),
         |s0 AS (SELECT k, i, e, v FROM big WHERE i = 0)""".stripMargin
    val stages = (1 to mid).map { st =>
      val b = st - 1
      val next =
        if (st == mid)
          "SELECT k, CAST(e AS DOUBLE) AS xb, v AS yb FROM lastp"
        else s"SELECT k, xb, yb FROM avgs WHERE b = $st"
      s"""s$st AS (
         | SELECT k, i, e, v FROM (
         |  SELECT m.k, m.i, m.e, m.v,
         |   row_number() OVER (PARTITION BY m.k ORDER BY
         |     abs((CAST(a.e AS DOUBLE) - nx.xb) * (m.v - a.v)
         |       - (CAST(a.e AS DOUBLE) - CAST(m.e AS DOUBLE))
         |         * (nx.yb - a.v)) DESC, m.i ASC) AS rn
         |  FROM mb m
         |  JOIN s${st - 1} a ON m.k = a.k
         |  JOIN ($next) nx ON nx.k = m.k
         |  WHERE m.b = $b) t WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val bigRows = (0 until mid + 1).map {
      case 0 => s"SELECT k, CAST(0 AS BIGINT) AS sel_rank, e, v FROM s0"
      case st => s"SELECT k, CAST($st AS BIGINT), e, v FROM s$st"
    }.mkString("\nUNION ALL ")
    s"""WITH $head,
       |$stages
       |SELECT k AS user_id, sel_rank, e AS ts_epoch, v AS value
       |FROM (
       | $bigRows
       | UNION ALL SELECT k, CAST(${buckets - 1} AS BIGINT), e, v
       |  FROM big WHERE i = n - 1
       | UNION ALL SELECT k, CAST(i AS BIGINT), e, v FROM items
       |  WHERE n <= $buckets
       |) u""".stripMargin
  }

  /** Phrase-merge replay stages v1..vN over a `v0(doc_id, s)` CTE —
    * GENERATED from [[phraseTable]] (single source of truth), shared
    * by `q_phrase_merge` and the curation-v5 capstone.
    */
  private def phraseStagesSql: String =
    phraseTable.zipWithIndex.map { case ((a, b), i) =>
      s"""v${i + 1} AS (SELECT doc_id, list_filter(list_transform(s,
         |  (x, ii) -> CASE WHEN x = '$a' AND s[ii+1] = '$b'
         |      THEN '${a}_$b'
         |    WHEN ii > 1 AND s[ii-1] = '$a' AND x = '$b' THEN NULL
         |    ELSE x END), y -> y IS NOT NULL) AS s FROM v$i)"""
        .stripMargin
    }.mkString(",\n")

  /** BM25 oracle body shared by the exact and df-pruned variants —
    * `dfGate` lands in the scoring join's WHERE, exactly where the
    * engine prunes (before a term generates candidates).
    */
  private def bm25OracleSql(dfGate: String): String =
    s"""WITH t AS (SELECT doc_id, list_filter(
       |  string_split_regex(text, '\\s+'), x -> len(x) > 0) AS toks
       |  FROM documents),
       |tfc AS (SELECT doc_id AS did, tok, count(*) AS tf
       | FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
       | GROUP BY did, tok),
       |dl AS (SELECT doc_id AS did, CAST(len(toks) AS BIGINT) AS dl
       | FROM t),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |  CAST(sum(dl) AS DOUBLE) AS tot FROM dl),
       |dft AS (SELECT tok, count(*) AS df FROM tfc GROUP BY tok),
       |qd AS (SELECT DISTINCT doc_id AS qid, unnest(toks[1:4]) AS tok
       | FROM t WHERE doc_id % 101 = 0),
       |sc AS (SELECT qd.qid, tfc.did,
       |  round(CAST(sum(CAST(round(
       |    ln(1.0 + (st.n - CAST(dft.df AS DOUBLE) + 0.5)
       |      / (CAST(dft.df AS DOUBLE) + 0.5))
       |    * (CAST(tfc.tf AS DOUBLE) * 2.2)
       |    / (CAST(tfc.tf AS DOUBLE) + 1.2 * (1.0 - 0.75
       |      + 0.75 * CAST(dl.dl AS DOUBLE) / (st.tot / st.n))),
       |    12) AS DECIMAL(38,12))) AS DOUBLE), 6) AS score
       | FROM qd JOIN tfc USING (tok) JOIN dft USING (tok)
       |  JOIN dl ON dl.did = tfc.did CROSS JOIN st
       | WHERE 1 = 1$dfGate
       | GROUP BY qd.qid, tfc.did)
       |SELECT qid AS query_id,
       | CAST(row_number() OVER (PARTITION BY qid
       |   ORDER BY score DESC, did ASC) AS BIGINT) AS "rank",
       | did AS doc_id, score
       |FROM sc
       |QUALIFY row_number() OVER (PARTITION BY qid
       |  ORDER BY score DESC, did ASC) <= 10""".stripMargin

  /** The [[verifyOnly]] twins hash against their siblings' EXACT SQL:
    * the point of the forced-distributed pass is that both regimes
    * answer the same oracle bit-for-bit.
    */
  def oracleSql: Map[String, String] = {
    val base = baseOracleSql
    base ++ Seq(
      "q_pagerank_dist" -> "q_pagerank",
      "q_personalized_pagerank_dist" -> "q_personalized_pagerank",
      "q_triangles_dist" -> "q_triangles",
      "q_kcore_dist" -> "q_kcore",
      "q_minhash_dedup_cc_dist" -> "q_minhash_dedup_cc",
    ).map { case (twin, sib) => twin -> base(sib) }
  }

  private def baseOracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | count(*) AS count_order, min(l_extendedprice) AS min_price,
        | max(l_extendedprice) AS max_price,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q_status_enrich" ->
      """SELECT e.event_id, e.user_id,
        | CAST(epoch(date_trunc('second', e.ts)) AS BIGINT) AS ts_epoch,
        | c.c_name AS c_name, n.n_name AS nation_name, e.event_type,
        | CASE e.event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1
        |   WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE -1 END
        |   AS status_code,
        | round(e.value, 2) AS value2
        |FROM events e
        |JOIN customer c ON e.user_id = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND e.value IS NOT NULL AND e.ts IS NOT NULL""".stripMargin,

    "q_semi_join" ->
      """SELECT e.event_id, e.user_id, e.event_type FROM events e
        |WHERE EXISTS (SELECT 1 FROM customer c
        |  WHERE c.c_custkey = e.user_id
        |    AND c.c_mktsegment = 'MACHINERY')""".stripMargin,

    "q_anti_dedup" ->
      """SELECT event_id, ts, user_id, event_type, value, props
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10'
        |  AND ts >= TIMESTAMP '2024-01-15'""".stripMargin,

    // classification-equivalent oracle: Spark classifies via 256-bit
    // content hashes (the 40 B/row exchange form); for identical
    // inputs hash equality == value-tuple equality, so DuckDB can
    // classify by direct IS DISTINCT FROM comparison
    "q_snapshot_diff" ->
      """WITH base AS (
        | SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
        |prev AS (SELECT * FROM base WHERE o_orderkey % 13 <> 0),
        |cur AS (
        | SELECT o_orderkey,
        |  o_totalprice + CASE WHEN o_orderkey % 5 = 0
        |    THEN 1.0 ELSE 0.0 END AS o_totalprice,
        |  o_orderstatus
        | FROM base WHERE o_orderkey % 17 <> 0)
        |SELECT coalesce(p.o_orderkey, c.o_orderkey) AS o_orderkey,
        | CASE WHEN p.o_orderkey IS NULL THEN 'added'
        |      WHEN c.o_orderkey IS NULL THEN 'removed'
        |      WHEN p.o_totalprice IS DISTINCT FROM c.o_totalprice
        |        OR p.o_orderstatus IS DISTINCT FROM c.o_orderstatus
        |       THEN 'changed' END AS change
        |FROM prev p FULL OUTER JOIN cur c ON p.o_orderkey = c.o_orderkey
        |WHERE p.o_orderkey IS NULL OR c.o_orderkey IS NULL
        |   OR p.o_totalprice IS DISTINCT FROM c.o_totalprice
        |   OR p.o_orderstatus IS DISTINCT FROM c.o_orderstatus""".stripMargin,

    "q_latest_per_key" ->
      """SELECT user_id, event_id, ts, event_type, value FROM (
        | SELECT *, row_number() OVER (
        |   PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) t WHERE rn = 1""".stripMargin,

    "q_full_outer" ->
      """SELECT COALESCE(e.user_id, c.user_id) AS user_id,
        | e.n_events, c.c_mktsegment
        |FROM (SELECT user_id, count(*) AS n_events FROM events
        |  GROUP BY user_id) e
        |FULL OUTER JOIN (SELECT c_custkey AS user_id, c_mktsegment
        |  FROM customer) c ON e.user_id = c.user_id""".stripMargin,

    "q_intersect" ->
      """SELECT user_id FROM events
        |INTERSECT
        |SELECT c_custkey AS user_id FROM customer
        |WHERE c_mktsegment = 'HOUSEHOLD'""".stripMargin,

    "q_latest_per_key_salted" ->
      """SELECT user_id, event_id, ts, event_type, value FROM (
        | SELECT *, row_number() OVER (
        |   PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) t WHERE rn = 1""".stripMargin,

    "q_quantize_embedding" ->
      """SELECT vec_id,
        | round(CASE WHEN m = 0 THEN 0.0 ELSE 127.0 / m END, 6) AS q_scale,
        | array_to_string(list_transform(v,
        |   x -> CAST(CAST(floor(x * (CASE WHEN m = 0 THEN 0.0
        |     ELSE 127.0 / m END) + 0.5) AS INTEGER) AS VARCHAR)), ',')
        |   AS codes
        |FROM (
        | SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |  COALESCE(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> abs(x)), 'max'), 0) AS m
        | FROM embeddings) t""".stripMargin,

    // i/j index columns cast to INTEGER: the engine emits IntegerType
    // and DuckDB's generators type BIGINT — int-width drift the driver
    // hash happens to tolerate today but the local type gate
    // (oracle_check.py, VERDICT r10 task 2) correctly flags
    "q_gram_matrix" ->
      s"""WITH $gramOracleCtes
         |SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
         | CAST(g AS DOUBLE) AS g FROM gr""".stripMargin,

    "q_pca_power" ->
      s"""WITH ${pcaOracleCtes(3)}
         |SELECT CAST(j AS INTEGER) AS j, w FROM wout""".stripMargin,

    "q_pca_project" ->
      s"""WITH ${pcaOracleCtes(3)}
         |SELECT e.vec_id,
         | round(CAST(sum(CAST(round(e.v[wout.j + 1] * wout.w, 12)
         |   AS DECIMAL(38,12))) AS DOUBLE), 6) AS proj
         |FROM e CROSS JOIN wout
         |GROUP BY e.vec_id""".stripMargin,

    "q_pca_whiten" ->
      s"""WITH ${pcaOracleCtes(3)},
         |p AS (SELECT e.vec_id,
         |  round(CAST(sum(CAST(round(e.v[wout.j + 1] * wout.w, 12)
         |    AS DECIMAL(38,12))) AS DOUBLE), 6) AS proj
         | FROM e CROSS JOIN wout
         | GROUP BY e.vec_id)
         |SELECT e.vec_id, CAST(wout.j AS INTEGER) AS j,
         | round(e.v[wout.j + 1] - round(p.proj * wout.w, 12), 6) AS wv
         |FROM e JOIN p USING (vec_id) CROSS JOIN wout""".stripMargin,

    // variance clamped at 0 (matching the Spark side): a constant
    // group's moment difference rounds ulps-negative and sqrt of that
    // ERRORS in DuckDB
    "q_zscore_outliers" ->
      """WITH stats AS (
        | SELECT user_id,
        |  CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS s1,
        |  CAST(sum(CAST(value * value AS DECIMAL(28,10))) AS DOUBLE) AS s2,
        |  CAST(count(*) AS DOUBLE) AS n
        | FROM events WHERE value IS NOT NULL
        | GROUP BY user_id HAVING count(*) >= 5),
        |v AS (
        | SELECT user_id, s1 / n AS mu,
        |  greatest(s2 / n - (s1 / n) * (s1 / n), 0) AS var
        | FROM stats)
        |SELECT e.event_id, e.user_id,
        | round((e.value - v.mu) / sqrt(v.var), 4) AS z
        |FROM events e JOIN v ON e.user_id = v.user_id
        |WHERE e.value IS NOT NULL AND v.var > 0
        |  AND abs((e.value - v.mu) / sqrt(v.var)) > 2""".stripMargin,

    // the zscore recipe per (event_type, hour-of-day) seasonal slot
    "q_seasonal_anomalies" ->
      """WITH ev AS (
        | SELECT event_id, event_type,
        |  CAST(hour(ts) AS BIGINT) AS slot, value
        | FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |  AND ts IS NOT NULL),
        |stats AS (
        | SELECT event_type, slot,
        |  CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS s1,
        |  CAST(sum(CAST(value * value AS DECIMAL(28,10))) AS DOUBLE) AS s2,
        |  CAST(count(*) AS DOUBLE) AS n
        | FROM ev GROUP BY 1, 2 HAVING count(*) >= 5),
        |v AS (
        | SELECT event_type, slot, s1 / n AS mu,
        |  greatest(s2 / n - (s1 / n) * (s1 / n), 0) AS var
        | FROM stats)
        |SELECT e.event_id, e.event_type, e.slot,
        | round((e.value - v.mu) / sqrt(v.var), 4) AS z
        |FROM ev e JOIN v ON e.event_type = v.event_type
        |  AND e.slot = v.slot
        |WHERE v.var > 0
        |  AND abs((e.value - v.mu) / sqrt(v.var)) > 2""".stripMargin,

    "q_split_assign" -> {
      val bucket =
        """CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
          |  AS BIGINT) % 100""".stripMargin
      s"""SELECT doc_id, ($bucket) AS bucket,
         | CASE WHEN ($bucket) < 90 THEN 'train'
         |   WHEN ($bucket) < 95 THEN 'val'
         |   ELSE 'test' END AS split
         |FROM documents""".stripMargin
    },

    "q_cap_per_key" ->
      """SELECT event_id, user_id FROM (
        | SELECT event_id, user_id, row_number() OVER (
        |   PARTITION BY user_id
        |   ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
        | FROM events) t
        |WHERE rn <= 5""".stripMargin,

    // next-fit is a sequential fold — the oracle replays it exactly
    // with a recursive CTE stepping one row per key per iteration
    "q_pack_sequences" ->
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
        |SELECT source, doc_id, n_tokens, bin FROM r""".stripMargin,

    "q_stratified_sample" -> {
      // one physical line: a continuation line starting with '||' would
      // lose a pipe to the enclosing stripMargin
      val bucket = "CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)" +
        " || '-' || CAST(l_linenumber AS VARCHAR)), 1, 8)) AS BIGINT) % 100"
      s"""SELECT l_orderkey, l_linenumber, l_returnflag
         |FROM lineitem
         |WHERE ($bucket) < CASE l_returnflag
         |  WHEN 'A' THEN 50 WHEN 'N' THEN 10 WHEN 'R' THEN 2
         |  ELSE 0 END""".stripMargin
    },

    // decontamination oracle: shared shingle definition at k=3; hit
    // count = distinct doc shingles present in the eval shingle set
    "q_decontaminate" -> {
      s"""WITH ${shingleCteSql(3, "documents")},
         |ev AS (SELECT DISTINCT unnest(sh) AS g FROM sh
         |  WHERE doc_id % 97 = 0),
         |dg AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |hits AS (SELECT doc_id, count(*) AS n FROM dg
         |  WHERE g IN (SELECT g FROM ev) GROUP BY doc_id)
         |SELECT d.doc_id,
         | CAST(coalesce(h.n, 0) AS BIGINT) AS n_eval_hits,
         | coalesce(h.n, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id"""
        .stripMargin
    },

    // semantic decontamination oracle: same double cosine (sequential
    // list_sum over DOUBLE[] casts, zero-norm -> 0) as the engine's
    // fused kernel — the q_semdedup threshold-parity contract — over
    // the corpus x benchmark cross product
    "q_decontaminate_semantic" ->
      """WITH e AS (SELECT vec_id, label,
        |  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |b AS (SELECT v AS bv FROM e WHERE vec_id < 50),
        |bad AS (SELECT DISTINCT t.vec_id
        |  FROM e t CROSS JOIN b
        |  WHERE t.vec_id >= 50 AND
        |   (CASE WHEN list_sum(list_transform(t.v, x -> x * x)) = 0
        |      OR list_sum(list_transform(bv, x -> x * x)) = 0 THEN 0.0
        |    ELSE list_sum(list_transform(range(1, len(t.v) + 1),
        |        i -> t.v[i] * bv[i]))
        |      / (sqrt(list_sum(list_transform(t.v, x -> x * x)))
        |         * sqrt(list_sum(list_transform(bv, x -> x * x)))) END)
        |   >= 0.3)
        |SELECT vec_id, CAST(label AS BIGINT) AS label FROM e
        |WHERE vec_id >= 50
        |  AND vec_id NOT IN (SELECT vec_id FROM bad)""".stripMargin,

    // the Bloom path is exact after its verify step, so the oracle is
    // the same exact-overlap relation — false positives surviving to
    // the output would hash-mismatch here
    "q_decontaminate_bloom" -> {
      s"""WITH ${shingleCteSql(3, "documents")},
         |ev AS (SELECT DISTINCT unnest(sh) AS g FROM sh
         |  WHERE doc_id % 89 = 0),
         |dg AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |hits AS (SELECT doc_id, count(*) AS n FROM dg
         |  WHERE g IN (SELECT g FROM ev) GROUP BY doc_id)
         |SELECT d.doc_id,
         | CAST(coalesce(h.n, 0) AS BIGINT) AS n_eval_hits,
         | coalesce(h.n, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id"""
        .stripMargin
    },

    "q_top_ngrams" -> {
      s"""WITH ${shingleCteSql(3, "documents")},
         |dg AS (SELECT doc_id, unnest(sh) AS gram FROM sh)
         |SELECT gram, count(*) AS n_docs FROM dg GROUP BY gram
         |ORDER BY n_docs DESC, gram ASC LIMIT 50""".stripMargin
    },

    // epoch() returns fractional seconds in DuckDB — date_trunc to
    // second first mirrors Spark's truncating timestamp→long cast
    "q_consolidate" ->
      """WITH pts AS (
        | SELECT user_id, event_id, value,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
        | FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |fan AS (
        | SELECT * FROM pts, (VALUES ('1h', 3600), ('6h', 21600),
        |  ('1d', 86400)) AS r(resolution, step))
        |SELECT user_id, resolution,
        | (sec // step) * step AS bucket_start,
        | count(*) AS n, min(value) AS v_min, max(value) AS v_max,
        | CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE)
        |   / CAST(count(*) AS DOUBLE) AS v_avg,
        | arg_max(value, event_id) AS v_last
        |FROM fan GROUP BY 1, 2, 3""".stripMargin,

    "q_fill_gaps" ->
      """WITH pts AS (
        | SELECT user_id, event_id, value,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
        | FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  AND event_type = 'error'),
        |agg AS (
        | SELECT user_id, (sec // 86400) * 86400 AS bucket_start,
        |  CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS v_avg
        | FROM pts GROUP BY 1, 2),
        |span AS (
        | SELECT user_id, min(bucket_start) AS lo, max(bucket_start) AS hi
        | FROM agg GROUP BY 1),
        |grid AS (
        | SELECT user_id,
        |  unnest(generate_series(lo, hi, 86400)) AS bucket_start
        | FROM span),
        |j AS (
        | SELECT g.user_id, g.bucket_start, a.v_avg,
        |  a.bucket_start IS NOT NULL AS observed
        | FROM grid g LEFT JOIN agg a
        |  ON g.user_id = a.user_id AND g.bucket_start = a.bucket_start)
        |SELECT user_id, bucket_start,
        | last_value(v_avg IGNORE NULLS) OVER (
        |   PARTITION BY user_id ORDER BY bucket_start
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_avg,
        | observed
        |FROM j""".stripMargin,

    "q_merge_intervals" ->
      """WITH iv AS (
        | SELECT user_id,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS lo,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) + 600 AS hi
        | FROM events WHERE ts IS NOT NULL),
        |m AS (
        | SELECT user_id, lo, hi, max(hi) OVER (
        |   PARTITION BY user_id ORDER BY lo, hi
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        | FROM iv),
        |g AS (
        | SELECT user_id, lo, hi, sum(
        |   CASE WHEN pm IS NULL OR lo > pm THEN 1 ELSE 0 END) OVER (
        |   PARTITION BY user_id ORDER BY lo, hi
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        | FROM m)
        |SELECT user_id, min(lo) AS lo, max(hi) AS hi,
        | count(*) AS n_merged
        |FROM g GROUP BY user_id, island""".stripMargin,

    // URL-filter oracle: same RE2-safe patterns; hosts via
    // list_transform + regexp_extract group 1
    "q_url_filter" -> {
      // single-assembled: a continuation line starting with '||' would
      // lose a pipe to the enclosing stripMargin
      val corpus = "SELECT doc_id, text || ' see https://site' || " +
        "CAST(doc_id % 20 AS VARCHAR) || '.example.com/p?x=1 and http://cdn' " +
        "|| CAST(doc_id % 5 AS VARCHAR) || '.example.net/a.js' AS text " +
        "FROM documents"
      s"""WITH corpus AS ($corpus),
         |h AS (SELECT doc_id, list_sort(list_distinct(list_transform(
         |  regexp_extract_all(text, 'https?://[^\\s]+'),
         |  u -> lower(regexp_extract(u, '^https?://([^/:?#\\s]+)', 1)))))
         |  AS hosts FROM corpus)
         |SELECT doc_id, array_to_string(hosts, ',') AS hosts,
         | len(list_filter(hosts, x -> list_contains(
         |  ['site3.example.com', 'site7.example.com', 'cdn1.example.net'],
         |  x))) > 0 AS blocked
         |FROM h""".stripMargin
    },

    // URL-dedup oracle: the same injected URL variants and the same
    // canonicalization regexp passes in the same order (RE2-safe,
    // no group refs), then min-doc_id per canonical form
    "q_url_dedup" -> {
      val url = "(CASE WHEN doc_id % 3 = 0 THEN 'https://www.' " +
        "ELSE 'http://' END) || 'site' || CAST(doc_id % 7 AS VARCHAR) " +
        "|| '.example.com/page/' || CAST(doc_id % 40 AS VARCHAR) || " +
        "(CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&utm_id=' || " +
        "CAST(doc_id AS VARCHAR) ELSE '' END) || " +
        "(CASE WHEN doc_id % 11 = 0 THEN '#frag' ELSE '' END)"
      val track = "(utm_[A-Za-z0-9_]+|fbclid|gclid)=[^&#]*"
      s"""WITH u AS (SELECT doc_id, $url AS url FROM documents),
         |c AS (SELECT doc_id,
         | regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |   url,
         |   '#.*', '', 'g'),
         |   '^[A-Za-z][A-Za-z0-9+.-]*://', '', 'g'),
         |   '^www\\.', '', 'g'),
         |   '&$track', '', 'g'),
         |   '\\?$track&', '?', 'g'),
         |   '\\?$track$$', '', 'g'),
         |   '[?&]+$$', '', 'g'),
         |   '/$$', '', 'g') AS canon_url FROM u)
         |SELECT min(doc_id) AS doc_id, canon_url
         |FROM c GROUP BY canon_url""".stripMargin
    },

    // quality-model oracle: the q_doc_stats feature replays UNROUNDED,
    // then the identical left-associated linear combination; keep is
    // thresholded on the unrounded score exactly as the Spark side
    "q_quality_model" -> {
      val toks =
        """list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)"""
      val sw = s"""CASE WHEN len($toks) = 0 THEN 0.0
         |  ELSE CAST(len(list_filter($toks, x -> list_contains(
         |   ['the','and','of','to','in','is','that','it','was','for',
         |    'with','are','this','a'], x))) AS DOUBLE) / len($toks)
         |  END""".stripMargin
      val punct = """CASE WHEN len(text) = 0 THEN 0.0
         |  ELSE CAST(len(regexp_replace(text, '[A-Za-z0-9_\s]+', '', 'g'))
         |    AS DOUBLE) / len(text) END""".stripMargin
      val mtl = s"""CASE WHEN len($toks) = 0 THEN 0.0
         |  ELSE CAST(list_aggregate(list_transform($toks, x -> len(x)),
         |    'sum') AS DOUBLE) / len($toks) END""".stripMargin
      s"""WITH f AS (SELECT doc_id,
         |  CAST(len($toks) AS BIGINT) AS n_tokens,
         |  $sw AS sw, $punct AS punct, $mtl AS mtl
         | FROM documents)
         |SELECT doc_id,
         | 2.0 * sw + (-3.0) * punct + 0.15 * mtl
         |   + 0.5 * (n_tokens / 1000.0) + (-1.0) AS quality_score,
         | (2.0 * sw + (-3.0) * punct + 0.15 * mtl
         |   + 0.5 * (n_tokens / 1000.0) + (-1.0)) > 0 AS keep
         |FROM f""".stripMargin
    },

    // line-dedup oracle: zipped parallel unnests give (pos, line);
    // occurrence count per md5(line), rebuild with ORDER BY pos
    "q_dedup_lines" -> {
      s"""WITH corpus AS (SELECT doc_id,
         |  'subscribe to our newsletter' || chr(10) || text ||
         |  CASE WHEN doc_id % 3 = 0
         |    THEN chr(10) || 'this site uses cookies' ELSE '' END AS text
         |  FROM documents),
         |l AS (SELECT doc_id,
         |  unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos,
         |  unnest(string_split(text, chr(10))) AS line FROM corpus),
         |kill AS (SELECT md5(line) AS k FROM l WHERE len(line) >= 1
         |  GROUP BY md5(line) HAVING count(DISTINCT doc_id) > 10),
         |rebuilt AS (SELECT doc_id,
         |  string_agg(line, chr(10) ORDER BY pos) AS text FROM l
         |  WHERE md5(line) NOT IN (SELECT k FROM kill) GROUP BY doc_id)
         |SELECT c.doc_id, coalesce(r.text, '') AS text
         |FROM corpus c LEFT JOIN rebuilt r ON c.doc_id = r.doc_id"""
        .stripMargin
    },

    // domain-scoped boilerplate oracle: per-(source, line) doc counts
    // against per-source doc totals at the exact integer ppm
    // threshold the engine uses (n * 10^6 >= ceil(f * 10^6) * dn)
    "q_boilerplate" ->
      s"""WITH corpus AS (SELECT doc_id, source,
         |  'welcome to ' || source || chr(10) || text ||
         |  CASE WHEN doc_id % 4 = 0
         |    THEN chr(10) || 'follow ' || source || ' on social'
         |    ELSE '' END AS text
         |  FROM documents),
         |l AS (SELECT doc_id, source,
         |  unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos,
         |  unnest(string_split(text, chr(10))) AS line FROM corpus),
         |dn AS (SELECT source, count(DISTINCT doc_id) AS dn
         |  FROM corpus GROUP BY 1),
         |kill AS (SELECT l.source, md5(l.line) AS k
         |  FROM l JOIN dn ON l.source = dn.source AND dn.dn >= 5
         |  GROUP BY l.source, md5(l.line), dn.dn
         |  HAVING count(DISTINCT l.doc_id) * 1000000 >= 500000 * dn.dn),
         |kept AS (SELECT l.doc_id, l.source, l.pos, l.line
         |  FROM l LEFT JOIN kill
         |    ON l.source = kill.source AND md5(l.line) = kill.k
         |  WHERE kill.k IS NULL),
         |rebuilt AS (SELECT doc_id,
         |  string_agg(line, chr(10) ORDER BY pos) AS text,
         |  count(*) AS n_kept FROM kept GROUP BY doc_id),
         |total AS (SELECT doc_id, count(*) AS n_total FROM l GROUP BY 1)
         |SELECT c.doc_id, c.source, coalesce(r.text, '') AS text,
         |  CAST(t.n_total - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed
         |FROM corpus c
         |LEFT JOIN rebuilt r ON c.doc_id = r.doc_id
         |JOIN total t ON c.doc_id = t.doc_id""".stripMargin,

    // serving-arm oracle: the kill list is replayed over the HISTORY
    // corpus only (exactly what the staging froze), then the batch is
    // scrubbed against it — batch lines never feed the counts
    "q_boilerplate_incremental" ->
      s"""WITH corpus AS (SELECT doc_id, source,
         |  'welcome to ' || source || chr(10) || text ||
         |  CASE WHEN doc_id % 4 = 0
         |    THEN chr(10) || 'follow ' || source || ' on social'
         |    ELSE '' END AS text
         |  FROM documents),
         |l AS (SELECT doc_id, source,
         |  unnest(string_split(text, chr(10))) AS line FROM corpus),
         |dn AS (SELECT source, count(DISTINCT doc_id) AS dn
         |  FROM corpus GROUP BY 1),
         |kill AS (SELECT l.source, md5(l.line) AS k
         |  FROM l JOIN dn ON l.source = dn.source AND dn.dn >= 5
         |  GROUP BY l.source, md5(l.line), dn.dn
         |  HAVING count(DISTINCT l.doc_id) * 1000000 >= 500000 * dn.dn),
         |b AS (SELECT doc_id + 1000000 AS doc_id,
         |  CASE WHEN doc_id % 7 = 0 THEN 'freshsource' ELSE source END
         |    AS source,
         |  'welcome to ' ||
         |  CASE WHEN doc_id % 7 = 0 THEN 'freshsource' ELSE source END
         |  || chr(10) || 'fresh tick ' ||
         |  CAST(doc_id + 1000000 AS VARCHAR) || ' ' || text ||
         |  CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'follow ' ||
         |    CASE WHEN doc_id % 7 = 0 THEN 'freshsource' ELSE source END
         |    || ' on social' ELSE '' END AS text
         |  FROM documents WHERE doc_id < 20),
         |bl AS (SELECT doc_id, source,
         |  unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos,
         |  unnest(string_split(text, chr(10))) AS line FROM b),
         |kept AS (SELECT bl.doc_id, bl.pos, bl.line
         |  FROM bl LEFT JOIN kill
         |    ON bl.source = kill.source AND md5(bl.line) = kill.k
         |  WHERE kill.k IS NULL),
         |rebuilt AS (SELECT doc_id,
         |  string_agg(line, chr(10) ORDER BY pos) AS text,
         |  count(*) AS n_kept FROM kept GROUP BY doc_id),
         |total AS (SELECT doc_id, count(*) AS n_total FROM bl GROUP BY 1)
         |SELECT c.doc_id, c.source, coalesce(r.text, '') AS text,
         |  CAST(t.n_total - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed
         |FROM b c LEFT JOIN rebuilt r ON c.doc_id = r.doc_id
         |JOIN total t ON c.doc_id = t.doc_id""".stripMargin,

    // substring-dedup oracle: 8-token windows hashed per position
    // (1-based inclusive list slice), first occurrence = min packed
    // (doc*2^21 + pos) key exactly as the operator computes it, then
    // the same gaps-and-islands merge
    "q_repeated_spans" ->
      s"""WITH $substrCorpusSql,
         |$substrSpanSql
         |SELECT doc_id, min(pos) AS span_start, max(pos) + 8 AS span_end
         |FROM grp GROUP BY doc_id, island""".stripMargin,

    // duplicate-text fraction — the RefinedWeb/Gopher curation gate's
    // signal: per doc, tokens inside corpus-repeated merged spans over
    // total tokens (docs with no repeated span read 0)
    "q_dup_text_fraction" ->
      s"""WITH $substrCorpusSql,
         |$substrSpanSql,
         |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e
         |  FROM grp GROUP BY doc_id, island),
         |dupt AS (SELECT doc_id, sum(e - s) AS dup_tokens
         |  FROM spans GROUP BY 1),
         |tok AS (SELECT doc_id,
         |  CAST(len(list_filter(string_split_regex(text, '\\s+'),
         |    x -> len(x) > 0)) AS BIGINT) AS n_tokens FROM corpus)
         |SELECT t.doc_id, t.n_tokens,
         | CAST(COALESCE(d.dup_tokens, 0) AS BIGINT) AS dup_tokens,
         | round(CAST(COALESCE(d.dup_tokens, 0) AS DOUBLE)
         |   / greatest(t.n_tokens, 1), 6) AS dup_fraction
         |FROM tok t LEFT JOIN dupt d USING (doc_id)""".stripMargin,

    // applied form: zipped parallel unnests give (i, token); tokens
    // inside any merged span are dropped, the rest rejoin by ' '
    "q_substring_dedup" ->
      s"""WITH $substrCorpusSql,
         |$substrSpanSql,
         |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e
         |  FROM grp GROUP BY doc_id, island),
         |tok AS (SELECT doc_id,
         |  unnest(range(0, len(l))) AS i, unnest(l) AS t FROM toks),
         |kept AS (SELECT t.doc_id, t.i, t.t
         |  FROM tok t LEFT JOIN spans s
         |    ON t.doc_id = s.doc_id AND t.i >= s.s AND t.i < s.e
         |  WHERE s.doc_id IS NULL)
         |SELECT c.doc_id,
         |  coalesce(string_agg(k.t, ' ' ORDER BY k.i), '') AS text
         |FROM corpus c LEFT JOIN kept k ON c.doc_id = k.doc_id
         |GROUP BY c.doc_id""".stripMargin,

    // incremental oracle = the full pass over (corpus ∪ batch)
    // restricted to batch ids: with every batch id after every
    // history id, first occurrences stay in history, so the full-pass
    // mask equals the staged-probe mask by construction
    "q_substring_incremental" ->
      s"""WITH corpus0 AS (
         | SELECT doc_id, CASE WHEN doc_id % 5 = 0
         |   THEN text || '$substrTail' ELSE text END AS text
         | FROM documents),
         |b AS (SELECT doc_id + 1000000 AS doc_id,
         |  'batch item ' || CAST(doc_id AS VARCHAR) || ' says ' || text
         |    AS text
         |  FROM documents WHERE doc_id < 20),
         |corpus AS (SELECT * FROM corpus0 UNION ALL SELECT * FROM b),
         |$substrSpanSql,
         |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e
         |  FROM grp GROUP BY doc_id, island),
         |tok AS (SELECT doc_id,
         |  unnest(range(0, len(l))) AS i, unnest(l) AS t FROM toks),
         |kept AS (SELECT t.doc_id, t.i, t.t
         |  FROM tok t LEFT JOIN spans s
         |    ON t.doc_id = s.doc_id AND t.i >= s.s AND t.i < s.e
         |  WHERE s.doc_id IS NULL)
         |SELECT c.doc_id,
         |  coalesce(string_agg(k.t, ' ' ORDER BY k.i), '') AS text
         |FROM b c LEFT JOIN kept k ON c.doc_id = k.doc_id
         |GROUP BY c.doc_id""".stripMargin,

    // curation v2 oracle: the proven per-op CTEs chained — line-dedup
    // rebuild, host blocklist, repetition gate (rounded like the Spark
    // struct field), then the piiPatterns redaction chain
    "q_curation_v2" -> curationV2Sql,

    "q_surprisal" -> surprisalSql,

    // head-vocab floor path: DuckDB replays the exact top-64-by-count
    // head (ties broken by token — same deterministic order as the
    // Spark TakeOrdered) with the ln(1)=0 tail floor
    "q_surprisal_head" ->
      """WITH toks AS (SELECT doc_id, unnest(list_filter(
        |  string_split_regex(text, '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
        |  GROUP BY doc_id, token),
        |ct AS (SELECT token, sum(tf) AS c FROM tf GROUP BY token),
        |head AS (SELECT token, c FROM ct
        |  ORDER BY c DESC, token LIMIT 64),
        |n AS (SELECT CAST(sum(tf) AS DOUBLE) AS n FROM tf)
        |SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
        | round(ln(n.n) - sum(tf.tf * ln(CAST(COALESCE(head.c, 1) AS DOUBLE)))
        |   / CAST(sum(tf.tf) AS DOUBLE), 6) AS surprisal
        |FROM tf LEFT JOIN head USING (token) CROSS JOIN n
        |GROUP BY tf.doc_id, n.n""".stripMargin,

    "q_surprisal_bigram_head" ->
      """WITH t AS (SELECT doc_id, list_filter(
        |  string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |p AS (SELECT doc_id,
        |  unnest(toks[1:len(toks)-1]) AS prev,
        |  unnest(toks[2:len(toks)]) AS cur
        |  FROM t WHERE len(toks) >= 2),
        |tf AS (SELECT doc_id, prev, cur, count(*) AS tf FROM p
        |  GROUP BY doc_id, prev, cur),
        |cp AS (SELECT prev, cur, sum(tf) AS cpair FROM tf
        |  GROUP BY prev, cur),
        |cph AS (SELECT prev, cur, cpair FROM cp
        |  ORDER BY cpair DESC, prev, cur LIMIT 64),
        |cx AS (SELECT prev, sum(cpair) AS cprev FROM cp GROUP BY prev),
        |cxh AS (SELECT prev, cprev FROM cx
        |  ORDER BY cprev DESC, prev LIMIT 64),
        |v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
        |  FROM (SELECT unnest(toks) AS tok FROM t))
        |SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_bigrams,
        | round(sum(tf.tf * (ln(greatest(COALESCE(cxh.cprev, 0),
        |       COALESCE(cph.cpair, 0)) + v.v)
        |     - ln(COALESCE(cph.cpair, 0) + 1.0)))
        |   / CAST(sum(tf.tf) AS DOUBLE), 6) AS surprisal2
        |FROM tf LEFT JOIN cph USING (prev, cur) LEFT JOIN cxh USING (prev)
        |CROSS JOIN v
        |GROUP BY tf.doc_id""".stripMargin,

    "q_surprisal_bigram" ->
      """WITH t AS (SELECT doc_id, list_filter(
        |  string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |p AS (SELECT doc_id,
        |  unnest(toks[1:len(toks)-1]) AS prev,
        |  unnest(toks[2:len(toks)]) AS cur
        |  FROM t WHERE len(toks) >= 2),
        |tf AS (SELECT doc_id, prev, cur, count(*) AS tf FROM p
        |  GROUP BY doc_id, prev, cur),
        |cp AS (SELECT prev, cur, sum(tf) AS cpair FROM tf
        |  GROUP BY prev, cur),
        |cx AS (SELECT prev, sum(tf) AS cprev FROM tf GROUP BY prev),
        |v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
        |  FROM (SELECT unnest(toks) AS tok FROM t))
        |SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_bigrams,
        | round(sum(tf.tf * (ln(cx.cprev + v.v) - ln(cp.cpair + 1.0)))
        |   / CAST(sum(tf.tf) AS DOUBLE), 6) AS surprisal2
        |FROM tf JOIN cp USING (prev, cur) JOIN cx USING (prev)
        |CROSS JOIN v
        |GROUP BY tf.doc_id""".stripMargin,

    "q_surprisal_ref" ->
      s"""WITH $surprisalRefCteSql
         |SELECT doc_id, n_tokens, surprisal_ref FROM sref""".stripMargin,

    // formula replayed operand-for-operand (identical parenthesized
    // double chain before the 12dp round), exact decimal sums, same
    // (score desc, doc asc) tie order at the k-cut
    "q_bm25_topk" -> bm25OracleSql(dfGate = ""),

    // same chain with the df ceiling applied where the engine applies
    // it: before a term generates candidates
    "q_bm25_pruned" -> bm25OracleSql(
      dfGate = " AND CAST(dft.df AS DOUBLE) <= 0.79 * st.n"),

    // GENERATED from the same frozen phraseTable (single source of
    // truth, the q_bpe_encode convention): each stage replays one
    // index-local (a,b)→a_b rewrite over the document token lists
    "q_phrase_merge" ->
      s"""WITH v0 AS (SELECT doc_id, list_filter(
         |  string_split_regex(text, '\\s+'), x -> len(x) > 0) AS s
         |  FROM documents),
         |$phraseStagesSql
         |SELECT v0.doc_id, array_to_string(vf.s, ' ') AS text_merged,
         | CAST(len(v0.s) AS BIGINT) AS n_tokens,
         | CAST(len(v0.s) - len(vf.s) AS BIGINT) AS n_merged
         |FROM v0 JOIN v${phraseTable.length} vf USING (doc_id)"""
        .stripMargin,

    // RAKE replayed: same boundary marks, same running-sum phrase
    // numbering, word deg/freq rounded to DECIMAL(28,9) before the
    // order-independent phrase sum
    "q_rake_keywords" ->
      """WITH toks AS (
        | SELECT doc_id, unnest(toks) AS token,
        |  unnest(range(0, len(toks))) AS pos
        | FROM (SELECT doc_id, list_filter(
        |   string_split_regex(text, '\s+'), t -> len(t) > 0) AS toks
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL) t),
        |m AS (
        | SELECT doc_id, pos, token,
        |  CASE WHEN token IN ('the','and','of','to','in','is','that',
        |    'it','was','for','with','are','this','a')
        |   THEN 1 ELSE 0 END AS b
        | FROM toks),
        |ph0 AS (
        | SELECT doc_id, pos, token, b,
        |  sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS pid
        | FROM m),
        |ph AS (
        | SELECT doc_id, pid,
        |  string_agg(token, ' ' ORDER BY pos) AS phrase,
        |  count(*) AS len
        | FROM ph0 WHERE b = 0 GROUP BY 1, 2
        | HAVING count(*) <= 6),
        |ws AS (
        | SELECT word,
        |  CAST(round(CAST(sum(len) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 9) AS DECIMAL(28,9)) AS wscore
        | FROM (SELECT unnest(string_split(phrase, ' ')) AS word, len
        |   FROM ph) x
        | GROUP BY 1),
        |dp AS (
        | SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences
        | FROM ph GROUP BY 1 HAVING count(*) >= 5),
        |dpw AS (
        | SELECT phrase, n_occurrences,
        |  unnest(string_split(phrase, ' ')) AS word
        | FROM dp)
        |SELECT dpw.phrase, CAST(count(*) AS BIGINT) AS n_words,
        | dpw.n_occurrences,
        | round(CAST(sum(ws.wscore) AS DOUBLE), 6) AS score
        |FROM dpw JOIN ws ON dpw.word = ws.word
        |GROUP BY dpw.phrase, dpw.n_occurrences""".stripMargin,

    // margins and N over the pair table; the a·N/(b·c) double chain
    // mirrors the Spark expression term-for-term before the 6dp round
    "q_pmi_collocations" ->
      """WITH t AS (SELECT doc_id, list_filter(
        |  string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |p AS (SELECT
        |  unnest(toks[1:len(toks)-1]) AS prev,
        |  unnest(toks[2:len(toks)]) AS cur
        |  FROM t WHERE len(toks) >= 2),
        |cp AS (SELECT prev, cur, count(*) AS c_pair FROM p
        |  GROUP BY prev, cur),
        |n AS (SELECT CAST(sum(c_pair) AS DOUBLE) AS n FROM cp),
        |mp AS (SELECT prev, sum(c_pair) AS cprev FROM cp GROUP BY prev),
        |mc AS (SELECT cur, sum(c_pair) AS ccur FROM cp GROUP BY cur)
        |SELECT cp.prev, cp.cur, cp.c_pair,
        | round(ln(CAST(cp.c_pair AS DOUBLE) * n.n /
        |   (CAST(mp.cprev AS DOUBLE) * CAST(mc.ccur AS DOUBLE))), 6)
        |  AS pmi
        |FROM cp JOIN mp USING (prev) JOIN mc USING (cur) CROSS JOIN n
        |WHERE cp.c_pair >= 5
        |ORDER BY pmi DESC, prev, cur LIMIT 50""".stripMargin,

    // deliberately the WINDOW form: the safe path must reproduce
    // ntile itself
    "q_ntile_safe" ->
      """SELECT event_id, event_type,
        | CAST(ntile(10) OVER (PARTITION BY event_type
        |   ORDER BY value ASC, event_id ASC) AS BIGINT) AS decile
        |FROM events
        |WHERE value IS NOT NULL AND event_type IS NOT NULL""".stripMargin,

    "q_group_rank" ->
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
        |FROM t""".stripMargin,

    // mean surprisal per language over the same sref chain, decimal
    // means, normalized at 6dp
    "q_domain_reweight" ->
      s"""WITH $surprisalRefCteSql,
         |b AS (SELECT d.lang, count(*) AS n_docs,
         |  round(CAST(sum(CAST(s.surprisal_ref AS DECIMAL(38,6)))
         |    AS DOUBLE) / count(*), 6) AS mean_surprisal
         | FROM sref s JOIN (SELECT doc_id, lang FROM documents
         |   WHERE lang IS NOT NULL) d USING (doc_id)
         | GROUP BY d.lang),
         |t AS (SELECT CAST(sum(CAST(mean_surprisal AS DECIMAL(38,6)))
         |   AS DOUBLE) AS t FROM b)
         |SELECT b.lang, b.n_docs, b.mean_surprisal,
         | round(b.mean_surprisal / t.t, 6) AS mix_weight
         |FROM b CROSS JOIN t""".stripMargin,

    // sqrt-temperature rebalance: p = round(sqrt(c_min/c), 6) — one
    // IEEE-correctly-rounded sqrt of an exact count ratio, so the
    // probabilities are bit-identical; membership is the established
    // portable md5 bucket at 10^6 granularity (p*10^6 integer-valued
    // after the round, no float boundary)
    "q_rebalance_lang" ->
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
        |FROM documents d JOIN p USING (lang)""".stripMargin,

    // curation v4: the three oracled stages chained — min-id text
    // dedup, sqrt-temperature keep set, A-ES token-weighted draw
    "q_curation_v4" -> {
      val toks =
        """list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)"""
      s"""WITH reps AS (SELECT min(doc_id) AS doc_id FROM documents
         |  GROUP BY text),
         |dd AS (SELECT d.* FROM documents d JOIN reps USING (doc_id)),
         |c AS (SELECT lang, count(*) AS c FROM dd
         |  WHERE lang IS NOT NULL GROUP BY lang),
         |m AS (SELECT min(c) AS mc FROM c),
         |p AS (SELECT lang,
         |  round(sqrt(CAST(mc AS DOUBLE) / CAST(c AS DOUBLE)), 6) AS kp
         |  FROM c CROSS JOIN m),
         |kept AS (SELECT dd.doc_id FROM dd JOIN p USING (lang)
         |  WHERE (CAST(('0x' || substr(md5(CAST(dd.doc_id AS VARCHAR)),
         |      1, 8)) AS BIGINT) % 1000000) < p.kp * 1000000),
         |w AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS weight
         |  FROM documents JOIN kept USING (doc_id)),
         |keyed AS (SELECT doc_id, weight,
         |  round(ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
         |      1, 8)) AS BIGINT) % 1000000 + 0.5) / 1000000.0)
         |    / CAST(weight AS DOUBLE), 9) AS samp_key
         |  FROM w WHERE weight > 0)
         |SELECT doc_id, weight, samp_key FROM keyed
         |ORDER BY samp_key DESC, doc_id LIMIT 100""".stripMargin
    },

    // all 5 farthest-first rounds replayed: per-element decimal
    // distances, running min, (d desc, id) argmax per round
    "q_kcenter_coreset" -> kcenterOracleSql(5),

    // v4's selection chain with the band gate spliced into dd and the
    // phrase stages applied to the selected 100 — every constant and
    // rounding identical to the per-stage oracles
    "q_curation_v5" -> {
      val toks =
        """list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)"""
      s"""WITH surp AS ($surprisalSql),
         |band AS (SELECT doc_id FROM surp
         |  WHERE surprisal BETWEEN 3.39 AND 3.41),
         |reps AS (SELECT min(doc_id) AS doc_id FROM documents
         |  GROUP BY text),
         |dd AS (SELECT d.* FROM documents d JOIN reps USING (doc_id)
         |  JOIN band USING (doc_id)),
         |c AS (SELECT lang, count(*) AS c FROM dd
         |  WHERE lang IS NOT NULL GROUP BY lang),
         |m AS (SELECT min(c) AS mc FROM c),
         |p AS (SELECT lang,
         |  round(sqrt(CAST(mc AS DOUBLE) / CAST(c AS DOUBLE)), 6) AS kp
         |  FROM c CROSS JOIN m),
         |kept AS (SELECT dd.doc_id FROM dd JOIN p USING (lang)
         |  WHERE (CAST(('0x' || substr(md5(CAST(dd.doc_id AS VARCHAR)),
         |      1, 8)) AS BIGINT) % 1000000) < p.kp * 1000000),
         |w AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS weight
         |  FROM documents JOIN kept USING (doc_id)),
         |keyed AS (SELECT doc_id, weight,
         |  round(ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
         |      1, 8)) AS BIGINT) % 1000000 + 0.5) / 1000000.0)
         |    / CAST(weight AS DOUBLE), 9) AS samp_key
         |  FROM w WHERE weight > 0),
         |sel AS (SELECT doc_id, weight FROM keyed
         |  ORDER BY samp_key DESC, doc_id LIMIT 100),
         |v0 AS (SELECT d.doc_id, $toks AS s
         |  FROM documents d JOIN sel USING (doc_id)),
         |$phraseStagesSql
         |SELECT v0.doc_id, sel.weight,
         | array_to_string(vf.s, ' ') AS text_merged,
         | CAST(len(v0.s) - len(vf.s) AS BIGINT) AS n_merged
         |FROM v0 JOIN v${phraseTable.length} vf USING (doc_id)
         |JOIN sel ON sel.doc_id = v0.doc_id""".stripMargin
    },

    // A-ES weighted sampling replayed: same id-hash uniform, same
    // ln(u)/w key at 9dp, same (key desc, id) order
    "q_weighted_sample" -> {
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
    },

    // NFC replay: DuckDB's utf8proc and the JDK implement the same
    // Unicode conformance clause; chr(101)||chr(769) is the
    // decomposed e + combining acute the Spark side injects
    "q_normalize_text" ->
      """SELECT doc_id,
        | nfc_normalize(text || ' caf' || chr(101) || chr(769))
        |   AS norm_text,
        | nfc_normalize(text || ' caf' || chr(101) || chr(769))
        |   <> (text || ' caf' || chr(101) || chr(769)) AS changed
        |FROM documents""".stripMargin,

    // centroid outliers replayed: 6dp decimal centroid means → float,
    // pqSqDist per-position round(·,12)→decimal distances → 6dp,
    // label moments via DECIMAL(28,6) sums with every derived moment
    // rounded to 6dp before use, z at 4dp, flag on the rounded z
    "q_embedding_outliers" ->
      """WITH cent AS (SELECT label, CAST(u.dim AS BIGINT) AS dim,
        |    CAST(round(CAST(sum(CAST(u.x AS DECIMAL(28,12))) AS DOUBLE)
        |      / count(u.x), 6) AS FLOAT) AS m
        |  FROM (SELECT label,
        |      unnest(list_transform(range(1, len(embedding) + 1),
        |        i -> struct_pack(dim := i, x := embedding[i]))) AS u
        |    FROM embeddings WHERE label IS NOT NULL) t
        |  GROUP BY 1, 2),
        |cvec AS (SELECT label, list(m ORDER BY dim) AS cv
        |  FROM cent GROUP BY label),
        |d AS (SELECT e.vec_id, e.label,
        |    round(CAST(sum(CAST(round(
        |        (CAST(e.embedding[i.i] AS DOUBLE) - CAST(cv[i.i] AS DOUBLE))
        |        * (CAST(e.embedding[i.i] AS DOUBLE) - CAST(cv[i.i] AS DOUBLE)),
        |        12) AS DECIMAL(28,12))) AS DOUBLE), 6) AS dist
        |  FROM embeddings e JOIN cvec USING (label),
        |    generate_series(1, 64) i(i)
        |  WHERE e.label IS NOT NULL
        |  GROUP BY e.vec_id, e.label),
        |mo AS (SELECT label, count(*) AS n,
        |    round(CAST(sum(CAST(dist AS DECIMAL(28,6))) AS DOUBLE)
        |      / count(*), 6) AS mu,
        |    round(CAST(sum(CAST(round(dist * dist, 6) AS DECIMAL(28,6)))
        |      AS DOUBLE) / count(*), 6) AS ex2
        |  FROM d GROUP BY label)
        |SELECT vec_id, label, dist, z, z > 2.0 AS is_outlier FROM (
        | SELECT d.vec_id, d.label, d.dist,
        |  round(CASE WHEN mo.n > 1
        |      AND round(mo.ex2 - mo.mu * mo.mu, 6) > 0
        |    THEN (d.dist - mo.mu)
        |      / sqrt(round(mo.ex2 - mo.mu * mo.mu, 6))
        |    ELSE 0.0 END, 4) AS z
        | FROM d JOIN mo USING (label)) t""".stripMargin,

    // PQ encode: 16 seed codebook entries (smallest vec_ids, 0-based
    // codes in id order), per-(vector, subspace) squared-L2 argmin;
    // each squared diff is a bit-exact double both engines round()
    // identically to 12dp and carry as DECIMAL(28,12), so the
    // distance sum is exact/order-independent and the argmin (ties →
    // smaller code) replays without float boundaries
    "q_pq_encode" ->
      s"""WITH $pqCtesSql
         |SELECT vec_id, CAST(j AS INT) AS subspace, code
         |FROM codes""".stripMargin,

    // ADC search over the PQ codes: per-query lookup table of
    // subspace distances (same decimal-exact trick), summed along
    // each vector's codes; neighbor order = double-cast distance asc,
    // ties id asc — the engine's TopKByScore contract replayed
    "q_pq_search" ->
      s"""WITH $pqCtesSql,
         |qsub AS (SELECT vec_id AS qid, j, i, v FROM sub
         |  WHERE vec_id < 20),
         |lut AS (SELECT q.qid, cb.j, cb.code,
         |    sum(CAST(round((q.v - cb.cv) * (q.v - cb.cv), 12)
         |      AS DECIMAL(28,12))) AS d
         |  FROM qsub q JOIN cb ON q.j = cb.j AND q.i = cb.i
         |  GROUP BY q.qid, cb.j, cb.code),
         |ad AS (SELECT l.qid, c.vec_id, sum(l.d) AS adist
         |  FROM codes c JOIN lut l ON c.j = l.j AND c.code = l.code
         |  GROUP BY l.qid, c.vec_id)
         |SELECT query_id, rank, neighbor_id FROM (
         | SELECT qid AS query_id,
         |  CAST(row_number() OVER (PARTITION BY qid
         |   ORDER BY CAST(adist AS DOUBLE) ASC, vec_id ASC)
         |   AS BIGINT) AS rank,
         |  vec_id AS neighbor_id
         | FROM ad WHERE vec_id <> qid) t
         |WHERE rank <= 10""".stripMargin,

    // composed IVF-PQ, partial probe REPLAYED: the coarse quantizer is
    // a 1-subspace PQ codebook (8 smallest-id seeds), so corpus
    // assignment is the decimal argmin (ties → smaller list id), each
    // query probes its 2 nearest lists by double-cast decimal distance
    // (ties → smaller list id — the TopKByScore contract), and the ADC
    // runs only over candidates whose bucket is probed
    "q_ivfpq_search" ->
      s"""WITH $pqCtesSql,
         |cseeds AS (SELECT vec_id, embedding,
         |    row_number() OVER (ORDER BY vec_id) - 1 AS lcode
         |  FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL
         |    ORDER BY vec_id LIMIT 8)),
         |cfull AS (SELECT lcode, j.j AS j, i.i AS i,
         |    CAST(embedding[j.j * 8 + i.i] AS DOUBLE) AS cv
         |  FROM cseeds, generate_series(0, 7) j(j),
         |    generate_series(1, 8) i(i)),
         |cd AS (SELECT s.vec_id, c.lcode,
         |    sum(CAST(round((s.v - c.cv) * (s.v - c.cv), 12)
         |      AS DECIMAL(28,12))) AS dist
         |  FROM sub s JOIN cfull c ON s.j = c.j AND s.i = c.i
         |  GROUP BY s.vec_id, c.lcode),
         |assign AS (SELECT vec_id, lcode AS bucket FROM (
         |    SELECT vec_id, lcode, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY dist ASC, lcode ASC) AS rn FROM cd) t
         |  WHERE rn = 1),
         |qprobe AS (SELECT vec_id AS qid, lcode AS bucket FROM (
         |    SELECT vec_id, lcode, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY CAST(dist AS DOUBLE) ASC, lcode ASC) AS rn
         |    FROM cd WHERE vec_id < 20) t
         |  WHERE rn <= 2),
         |qsub AS (SELECT vec_id AS qid, j, i, v FROM sub
         |  WHERE vec_id < 20),
         |lut AS (SELECT q.qid, cb.j, cb.code,
         |    sum(CAST(round((q.v - cb.cv) * (q.v - cb.cv), 12)
         |      AS DECIMAL(28,12))) AS d
         |  FROM qsub q JOIN cb ON q.j = cb.j AND q.i = cb.i
         |  GROUP BY q.qid, cb.j, cb.code),
         |cand AS (SELECT p.qid, a.vec_id
         |  FROM assign a JOIN qprobe p ON a.bucket = p.bucket),
         |ad AS (SELECT n.qid, c.vec_id, sum(l.d) AS adist
         |  FROM cand n JOIN codes c ON n.vec_id = c.vec_id
         |  JOIN lut l ON l.qid = n.qid AND c.j = l.j AND c.code = l.code
         |  GROUP BY n.qid, c.vec_id)
         |SELECT query_id, rank, neighbor_id FROM (
         | SELECT qid AS query_id,
         |  CAST(row_number() OVER (PARTITION BY qid
         |   ORDER BY CAST(adist AS DOUBLE) ASC, vec_id ASC)
         |   AS BIGINT) AS rank,
         |  vec_id AS neighbor_id
         | FROM ad WHERE vec_id <> qid) t
         |WHERE rank <= 10""".stripMargin,

    // Lloyd unrolled: per round an argmin CTE (same decimal distance,
    // same tie rule) and an exact-decimal mean CTE with empty-cluster
    // coalesce — every centroid double is bit-identical, so the final
    // assignment and distances hash-match
    "q_kmeans" -> {
      val iters = 2
      val chain = (0 until iters).map { t =>
        s"""a$t AS (SELECT vec_id, cl FROM (
           |  SELECT d.vec_id, d.cl, row_number() OVER (
           |    PARTITION BY d.vec_id ORDER BY d.dist ASC, d.cl ASC)
           |    AS rn
           |  FROM (SELECT v.vec_id, c.cl,
           |     sum(CAST(round((v.v - c.cv) * (v.v - c.cv), 12)
           |       AS DECIMAL(28,12))) AS dist
           |    FROM vecs v JOIN c$t c ON v.i = c.i
           |    GROUP BY v.vec_id, c.cl) d) x WHERE rn = 1),
           |m$t AS (SELECT a.cl, v.i,
           |   CAST(sum(CAST(v.v AS DECIMAL(28,10))) AS DOUBLE)
           |     / CAST(count(*) AS DOUBLE) AS cv
           |  FROM a$t a JOIN vecs v ON a.vec_id = v.vec_id
           |  GROUP BY a.cl, v.i),
           |c${t + 1} AS (SELECT c.cl, c.i, coalesce(m.cv, c.cv) AS cv
           |  FROM c$t c LEFT JOIN m$t m
           |   ON c.cl = m.cl AND c.i = m.i)""".stripMargin
      }.mkString(",\n")
      s"""WITH vecs AS (SELECT vec_id, i.i AS i,
         |  CAST(embedding[i.i] AS DOUBLE) AS v
         | FROM embeddings, generate_series(1, 64) i(i)
         | WHERE embedding IS NOT NULL AND vec_id IS NOT NULL),
         |seeds AS (SELECT vec_id,
         |  row_number() OVER (ORDER BY vec_id) - 1 AS cl
         | FROM (SELECT vec_id FROM embeddings
         |  WHERE embedding IS NOT NULL AND vec_id IS NOT NULL
         |  ORDER BY vec_id LIMIT 8) s),
         |c0 AS (SELECT s.cl, v.i, v.v AS cv
         | FROM seeds s JOIN vecs v ON s.vec_id = v.vec_id),
         |$chain,
         |fin AS (SELECT d.vec_id, d.cl, d.dist, row_number() OVER (
         |   PARTITION BY d.vec_id ORDER BY d.dist ASC, d.cl ASC) AS rn
         | FROM (SELECT v.vec_id, c.cl,
         |    sum(CAST(round((v.v - c.cv) * (v.v - c.cv), 12)
         |      AS DECIMAL(28,12))) AS dist
         |   FROM vecs v JOIN c$iters c ON v.i = c.i
         |   GROUP BY v.vec_id, c.cl) d)
         |SELECT vec_id, CAST(cl AS INT) AS cluster,
         | round(CAST(dist AS DOUBLE), 6) AS dist
         |FROM fin WHERE rn = 1""".stripMargin
    },

    "q_dsir_weights" -> dsirWeightsSql,

    "q_dsir_select" ->
      s"""WITH w AS ($dsirWeightsSql)
         |SELECT * FROM w
         |ORDER BY dsir_logw DESC, doc_id LIMIT 100""".stripMargin,

    // frozen DSIR model: complete 1024-bucket log-ratio table from the
    // 10% raw sample + en target (generate_series materializes the
    // bucket domain — unseen buckets carry the doubly-smoothed floor),
    // then every doc scored via an inner join on its hashed buckets
    "q_dsir_score_ref" ->
      """WITH toks AS (SELECT doc_id, unnest(list_filter(
        |  string_split_regex(text, '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id,
        |  CAST('0x' || substring(md5(token), 1, 8) AS BIGINT) % 1024 AS b,
        |  count(*) AS tf FROM toks GROUP BY doc_id, b),
        |rawc AS (SELECT
        |  CAST('0x' || substring(md5(token), 1, 8) AS BIGINT) % 1024 AS b,
        |  count(*) AS c
        |  FROM (SELECT unnest(list_filter(
        |    string_split_regex(text, '\s+'), x -> len(x) > 0)) AS token
        |    FROM documents WHERE doc_id % 10 = 0) GROUP BY 1),
        |tgtc AS (SELECT
        |  CAST('0x' || substring(md5(token), 1, 8) AS BIGINT) % 1024 AS b,
        |  count(*) AS c
        |  FROM (SELECT unnest(list_filter(
        |    string_split_regex(text, '\s+'), x -> len(x) > 0)) AS token
        |    FROM documents WHERE lang = 'en') GROUP BY 1),
        |nr AS (SELECT CAST(COALESCE(sum(c), 0) AS DOUBLE) AS n FROM rawc),
        |nt AS (SELECT CAST(COALESCE(sum(c), 0) AS DOUBLE) AS n FROM tgtc),
        |model AS (SELECT g.b,
        |  ln((COALESCE(tgtc.c, 0) + 1.0) / (nt.n + 1024))
        |    - ln((COALESCE(rawc.c, 0) + 1.0) / (nr.n + 1024)) AS lr
        |  FROM generate_series(0, 1023) AS g(b)
        |  LEFT JOIN rawc ON g.b = rawc.b
        |  LEFT JOIN tgtc ON g.b = tgtc.b
        |  CROSS JOIN nr CROSS JOIN nt)
        |SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
        | round(sum(tf.tf * model.lr), 6) AS dsir_logw
        |FROM tf JOIN model ON tf.b = model.b
        |GROUP BY tf.doc_id""".stripMargin,

    "q_curation_v3" ->
      s"""WITH v2 AS ($curationV2Sql),
         |surp AS ($surprisalSql)
         |SELECT v2.doc_id, v2.fp, surp.surprisal
         |FROM v2 JOIN surp ON v2.doc_id = surp.doc_id
         |WHERE surp.surprisal BETWEEN 3.39 AND 3.41""".stripMargin,

    "q_shard_by_budget" -> {
      val toks = """list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)"""
      s"""SELECT doc_id, n_tokens,
         | CAST(floor(COALESCE(sum(n_tokens) OVER (
         |   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
         |   AND 1 PRECEDING), 0) / 5000) AS BIGINT) AS shard
         |FROM (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens
         |  FROM documents) t""".stripMargin
    },

    "q_clean_text" ->
      """SELECT doc_id,
        | trim(regexp_replace(regexp_replace(
        |   '  x' || chr(9) || chr(9) || 'y ' || text || chr(1) || ' z  ',
        |   '[[:cntrl:]]', ' ', 'g'), '\s+', ' ', 'g')) AS cleaned
        |FROM documents""".stripMargin,

    // PII redaction oracle: the SAME regex strings as
    // TextOps.piiPatterns (referenced directly — one definition), with
    // counts taken on the progressively-redacted text exactly like
    // piiCounts' fold
    "q_redact_pii" -> {
      val Seq((emailRe, emailTag), (ipRe, ipTag), (ssnRe, ssnTag),
        (phoneRe, phoneTag)) = TextOps.piiPatterns
      s"""WITH t0 AS (SELECT doc_id,
         |  text || ' contact u' || CAST(doc_id AS VARCHAR)
         |    || '@example.com at 10.0.' || CAST(doc_id % 200 AS VARCHAR)
         |    || '.7 ssn 123-45-6789 tel 555-867-5309 ' AS text
         |  FROM documents),
         |r1 AS (SELECT doc_id, text,
         |  regexp_replace(text, '$emailRe', '$emailTag', 'g') AS t1 FROM t0),
         |r2 AS (SELECT *, regexp_replace(t1, '$ipRe', '$ipTag', 'g') AS t2 FROM r1),
         |r3 AS (SELECT *, regexp_replace(t2, '$ssnRe', '$ssnTag', 'g') AS t3 FROM r2)
         |SELECT doc_id,
         | regexp_replace(t3, '$phoneRe', '$phoneTag', 'g') AS redacted,
         | CAST(len(regexp_extract_all(text, '$emailRe')) AS BIGINT) AS n_email,
         | CAST(len(regexp_extract_all(t1, '$ipRe')) AS BIGINT) AS n_ip,
         | CAST(len(regexp_extract_all(t2, '$ssnRe')) AS BIGINT) AS n_ssn,
         | CAST(len(regexp_extract_all(t3, '$phoneRe')) AS BIGINT) AS n_phone
         |FROM r3""".stripMargin
    },

    // repetition stats oracle: shared shingle definition at k=2; the
    // mode count is definitional here (unnest + group + max) — the
    // Spark side's sort/run-length fold must agree with it exactly
    "q_repetition" -> {
      val toks = """list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)"""
      s"""WITH t AS (SELECT doc_id,
         |  CASE WHEN doc_id % 7 = 0
         |    THEN text || ' buy now buy now buy now buy now'
         |    ELSE text END AS text FROM documents),
         |tt AS (SELECT doc_id, $toks AS toks FROM t),
         |ng AS (SELECT doc_id, toks, ${shingleSql(2)} AS ng FROM tt),
         |topc AS (SELECT doc_id, max(c) AS topc FROM (
         |  SELECT doc_id, g, count(*) AS c
         |  FROM (SELECT doc_id, unnest(ng) AS g FROM ng) e
         |  GROUP BY doc_id, g) gc GROUP BY doc_id),
         |m AS (SELECT ng.doc_id, len(toks) AS ntok,
         |  len(list_distinct(toks)) AS ndist, topc
         |  FROM ng JOIN topc ON ng.doc_id = topc.doc_id)
         |SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens,
         | round(CASE WHEN ntok = 0 THEN 0.0
         |   ELSE 1.0 - CAST(ndist AS DOUBLE) / ntok END, 4) AS dup_token_frac,
         | CAST(topc AS BIGINT) AS top_ngram_count,
         | round(CASE WHEN ntok = 0 THEN 0.0
         |   ELSE least(1.0, CAST(topc * 2 AS DOUBLE) / ntok) END, 4)
         |   AS top_ngram_frac
         |FROM m""".stripMargin
    },

    // winnowing fingerprint: the shared shingle definition, md5 each,
    // distinct, sort, keep the 8 smallest — fixed-width lowercase hex
    // sorts identically in both engines
    "q_fingerprint" -> {
      val toks = """list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)"""
      s"""SELECT doc_id,
         | array_to_string(list_slice(list_sort(list_distinct(
         |   list_transform(${shingleSql(3)}, s -> md5(s)))), 1, 8), ',')
         |   AS fp
         |FROM (SELECT doc_id, $toks AS toks FROM documents) t""".stripMargin
    },

    // md5-based simhash replayed step by step: token explode, leading-
    // 60-bit hash (first 15 hex chars), per-bit ±1 multiset votes,
    // strictly-positive majority packs the bit
    "q_simhash_md5" -> {
      val toks = """list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)"""
      val voteCols = (0 until 60).map(b =>
        s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b")
        .mkString(",\n  ")
      val packed = (0 until 60).map(b =>
        s"(CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH tok AS (
         | SELECT doc_id, unnest($toks) AS t FROM documents),
         |h AS (
         | SELECT doc_id,
         |  CAST('0x' || substring(md5(t), 1, 15) AS UBIGINT) AS h
         | FROM tok),
         |v AS (
         | SELECT doc_id,
         |  $voteCols
         | FROM h GROUP BY doc_id)
         |SELECT doc_id, CAST($packed AS BIGINT) AS fingerprint
         |FROM v""".stripMargin
    },

    // shared shingle CTE (list_distinct is harmless: the minimum over
    // a multiset equals the minimum over its support), leading-32-bit
    // md5 base hash, 32 affine permutations replayed per shingle
    "q_minhash_sig_md5" ->
      s"""WITH ${shingleCteSql(5, "documents")},
         |t AS (SELECT doc_id, unnest(sh) AS s FROM sh),
         |hh AS (
         | SELECT doc_id,
         |  CAST('0x' || substring(md5(s), 1, 8) AS BIGINT) AS h
         | FROM t)
         |SELECT doc_id, CAST(p.i AS BIGINT) AS perm,
         | min(((2 * p.i + 3) * h + (1000003 * p.i + 12345))
         |   % 2147483647) AS min_hash
         |FROM hh, (SELECT unnest(range(32)) AS i) p
         |GROUP BY doc_id, p.i""".stripMargin,

    "q_corr_moments" ->
      """SELECT l_returnflag,
        | round((n * sxy - sx * sy) /
        |   sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
        |   AS corr_qty_price
        |FROM (
        | SELECT l_returnflag,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sy,
        |  CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(28,6)))
        |    AS DOUBLE) AS sxy,
        |  CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,6)))
        |    AS DOUBLE) AS sxx,
        |  CAST(sum(CAST(l_extendedprice * l_extendedprice
        |    AS DECIMAL(28,6))) AS DOUBLE) AS syy,
        |  CAST(count(*) AS DOUBLE) AS n
        | FROM lineitem GROUP BY l_returnflag) t""".stripMargin,

    "q_correlated_exists" ->
      """SELECT s.s_suppkey, s.s_name FROM supplier s
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49)""".stripMargin,

    "q_scalar_subquery" ->
      """SELECT c.c_custkey, c.c_name FROM customer c
        |WHERE c.c_acctbal > (
        |  SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    / count(*)
        |  FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)""".stripMargin,

    "q_sql_shipping_priority" ->
      """SELECT l.l_orderkey,
        | CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
        |   AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | o.o_orderdate, o.o_orderpriority
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < DATE '1995-03-15'
        |  AND l.l_shipdate > DATE '1995-03-15'
        |GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        |ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
        |LIMIT 10""".stripMargin,

    "q_window_funcs" ->
      """SELECT user_id, event_id, ts,
        | lag(value, 1) OVER w AS prev_value,
        | lead(value, 1) OVER w AS next_value,
        | CAST(row_number() OVER w AS BIGINT) AS rn,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
        |   PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |   AS running_value
        |FROM events WHERE user_id < 300
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,

    "q_global_sort" ->
      """SELECT event_id, user_id, round(value, 2) AS value2
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY value DESC, event_id""".stripMargin,

    "q_type_route" ->
      """SELECT CASE WHEN lower(p_type) LIKE '%promo%' THEN 'promo'
        |  WHEN lower(p_type) LIKE '%small%' THEN 'small'
        |  WHEN lower(p_type) LIKE '%large%' THEN 'large'
        |  ELSE NULL END AS metric_family,
        | count(*) AS n,
        | CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM part GROUP BY 1""".stripMargin,

    "q_multi_join" ->
      """SELECT n.n_name,
        | CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
        |   AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | count(*) AS n_lines
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |GROUP BY n.n_name""".stripMargin,

    "q_multi_join_bucketed" ->
      """SELECT o.o_orderpriority,
        | CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
        |   AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | count(*) AS n_lines
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderpriority""".stripMargin,

    "q_asof_join" ->
      """SELECT p.event_id, p.user_id, p.ts, p.value,
        | s.value AS signup_value, s.event_id AS signup_event_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON p.user_id = s.user_id AND p.ts >= s.ts""".stripMargin,

    "q_cross_fanout" ->
      """SELECT n_name, s AS service_name FROM nation
        |CROSS JOIN (SELECT unnest(['Memory Usage','Swap Usage',
        | 'Disk Usage root','Disk Usage tmp','Disk Usage apps',
        | 'Disk Usage boot','Disk Usage opt','Disk Usage var',
        | 'Disk Usage home','CPU Usage']) AS s) t""".stripMargin,

    "q_sessionize" ->
      """SELECT event_id, user_id,
        | CAST(sum(new_session) OVER (PARTITION BY user_id
        |   ORDER BY ts ASC, event_id ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS BIGINT) AS session_no
        |FROM (
        | SELECT event_id, user_id, ts,
        |  CASE WHEN lag(epoch_s) OVER w IS NULL
        |    OR epoch_s - lag(epoch_s) OVER w > 1800 THEN 1 ELSE 0
        |  END AS new_session
        | FROM (
        |  SELECT event_id, user_id, ts,
        |   CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch_s
        |  FROM events
        |  WHERE ts IS NOT NULL AND user_id IS NOT NULL) t
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |) flagged""".stripMargin,

    "q_ntile" ->
      """SELECT event_id, event_type,
        | CAST(ntile(10) OVER (PARTITION BY event_type
        |   ORDER BY value ASC, event_id ASC) AS BIGINT) AS decile
        |FROM events
        |WHERE value IS NOT NULL AND event_type IS NOT NULL""".stripMargin,

    "q_histogram" ->
      """SELECT event_type, CAST(floor(value / 10) AS BIGINT) AS bucket,
        | CAST(count(*) AS BIGINT) AS n
        |FROM events
        |WHERE value IS NOT NULL AND event_type IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,

    // decimal-exact per-(label, dim) means; DuckDB explodes each
    // vector to (dim, x) structs since it has no posexplode
    "q_label_centroids" ->
      """SELECT label, CAST(u.dim AS BIGINT) AS dim,
        | round(CAST(sum(CAST(u.x AS DECIMAL(28,12))) AS DOUBLE)
        |   / count(u.x), 6) AS mean
        |FROM (
        | SELECT label, unnest(list_transform(range(1, len(embedding) + 1),
        |   i -> struct_pack(dim := i, x := embedding[i]))) AS u
        | FROM embeddings WHERE label IS NOT NULL) t
        |GROUP BY 1, 2""".stripMargin,

    "q_agg_filter" ->
      """SELECT l_returnflag,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
        |   FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS disc_qty,
        | CAST(count(*) FILTER (WHERE l_quantity >= 30) AS BIGINT) AS big_n,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
        |   FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS rev_f,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_range_frame" ->
      """SELECT event_id, user_id,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |   AS roll_sum_1h,
        | CAST(count(value) OVER w AS BIGINT) AS roll_n_1h
        |FROM (
        | SELECT event_id, user_id, value,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch_s
        | FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL) t
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_s
        | RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q_lateral" ->
      """SELECT n.n_name, t.c_custkey, t.c_acctbal
        |FROM nation n
        |JOIN LATERAL (
        | SELECT c.c_custkey, c.c_acctbal FROM customer c
        | WHERE c.c_nationkey = n.n_nationkey
        | ORDER BY c.c_acctbal DESC, c.c_custkey ASC
        | LIMIT 2) t ON true""".stripMargin,

    "q_mode" ->
      """SELECT event_type, bucket AS mode_bucket, n FROM (
        | SELECT event_type, bucket, n,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY n DESC, bucket ASC) AS rn
        | FROM (
        |  SELECT event_type, CAST(floor(value / 10) AS BIGINT) AS bucket,
        |   CAST(count(*) AS BIGINT) AS n
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2) c) r
        |WHERE rn = 1""".stripMargin,

    "q_skewness" ->
      """SELECT l_returnflag,
        | round((sxxx / n - 3 * (sx / n) * (sxx / n)
        |     + 2 * (sx / n) * (sx / n) * (sx / n))
        |   / pow(sxx / n - (sx / n) * (sx / n), 1.5), 6) AS skew_qty
        |FROM (
        | SELECT l_returnflag,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,6)))
        |    AS DOUBLE) AS sxx,
        |  CAST(sum(CAST(l_quantity * l_quantity * l_quantity
        |    AS DECIMAL(28,6))) AS DOUBLE) AS sxxx,
        |  CAST(count(*) AS DOUBLE) AS n
        | FROM lineitem GROUP BY l_returnflag) m""".stripMargin,

    "q_rank_stats" ->
      """SELECT event_id, event_type,
        | percent_rank() OVER w AS pr,
        | cume_dist() OVER w AS cd,
        | CAST(dense_rank() OVER w AS BIGINT) AS dr
        |FROM events
        |WHERE value IS NOT NULL AND event_type IS NOT NULL
        |WINDOW w AS (PARTITION BY event_type
        | ORDER BY value ASC, event_id ASC)""".stripMargin,

    // the binning + canonical-bin dedup are engine details; the
    // oracle is sessionize (the q_sessionize window semantics:
    // full-precision ts order, default RANGE frame shared by both
    // engines) + the plain overlap self-join
    "q_interval_overlap" ->
      """WITH base AS (
        | SELECT user_id, ts,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS e
        | FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |flagged AS (
        | SELECT user_id, ts, e,
        |  CASE WHEN lag(e) OVER w IS NULL OR e - lag(e) OVER w > 1800
        |   THEN 1 ELSE 0 END AS ns
        | FROM base
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)),
        |sess AS (
        | SELECT user_id,
        |  CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts ASC)
        |   AS BIGINT) AS session_no, e
        | FROM flagged),
        |iv AS (SELECT user_id, session_no, min(e) AS s, max(e) AS t
        | FROM sess GROUP BY 1, 2)
        |SELECT a.user_id AS user_a, a.session_no AS sess_a,
        | b.user_id AS user_b, b.session_no AS sess_b,
        | least(a.t, b.t) - greatest(a.s, b.s) AS overlap_s
        |FROM iv a JOIN iv b
        | ON a.user_id < b.user_id AND a.s <= b.t AND b.s <= a.t"""
        .stripMargin,

    // the rule arm produces the SAME pairs from plain join text —
    // identical oracle to q_interval_overlap
    "q_overlap_join_rule" ->
      """WITH base AS (
        | SELECT user_id, ts,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS e
        | FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |flagged AS (
        | SELECT user_id, ts, e,
        |  CASE WHEN lag(e) OVER w IS NULL OR e - lag(e) OVER w > 1800
        |   THEN 1 ELSE 0 END AS ns
        | FROM base
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)),
        |sess AS (
        | SELECT user_id,
        |  CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts ASC)
        |   AS BIGINT) AS session_no, e
        | FROM flagged),
        |iv AS (SELECT user_id, session_no, min(e) AS s, max(e) AS t
        | FROM sess GROUP BY 1, 2)
        |SELECT a.user_id AS user_a, a.session_no AS sess_a,
        | b.user_id AS user_b, b.session_no AS sess_b,
        | least(a.t, b.t) - greatest(a.s, b.s) AS overlap_s
        |FROM iv a JOIN iv b
        | ON a.user_id < b.user_id AND a.s <= b.t AND b.s <= a.t"""
        .stripMargin,

    // the sweep replayed: same session intervals, ±1 deltas at
    // (s, t+1), per-time aggregate, window running total (the
    // distributed prefix is the engine detail)
    "q_concurrency_sweep" ->
      """WITH base AS (
        | SELECT user_id, ts,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS e
        | FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |flagged AS (
        | SELECT user_id, ts, e,
        |  CASE WHEN lag(e) OVER w IS NULL OR e - lag(e) OVER w > 1800
        |   THEN 1 ELSE 0 END AS ns
        | FROM base
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)),
        |sess AS (
        | SELECT user_id,
        |  CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts ASC)
        |   AS BIGINT) AS session_no, e
        | FROM flagged),
        |iv AS (SELECT user_id, session_no, min(e) AS s, max(e) AS t
        | FROM sess GROUP BY 1, 2),
        |b AS (
        | SELECT s AS t, CAST(1 AS BIGINT) AS d FROM iv
        | UNION ALL SELECT t + 1, CAST(-1 AS BIGINT) FROM iv),
        |g AS (SELECT t, CAST(sum(d) AS BIGINT) AS delta FROM b
        | GROUP BY t)
        |SELECT t, delta,
        | CAST(sum(delta) OVER (ORDER BY t ASC) AS BIGINT) AS active
        |FROM g""".stripMargin,

    // same 300 windows rebuilt relationally; the binning is an engine
    // detail, so the oracle is the plain containment join
    "q_range_join" ->
      """WITH w AS (
        | SELECT CAST(n_nationkey * 12 + k AS BIGINT) AS window_id,
        |  1704067200 + (n_nationkey * 12 + k) * 7200 AS w_start,
        |  1704067200 + (n_nationkey * 12 + k) * 7200 + 1800 AS w_end
        | FROM nation, (SELECT unnest(range(0, 12)) AS k) ks),
        |e AS (
        | SELECT event_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS pt
        | FROM events WHERE ts IS NOT NULL)
        |SELECT e.event_id, w.window_id
        |FROM e JOIN w ON e.pt >= w.w_start AND e.pt <= w.w_end""".stripMargin,

    // identical semantics to q_range_join — the rule must not change
    // results, only the plan
    "q_range_join_rule" ->
      """WITH w AS (
        | SELECT CAST(n_nationkey * 12 + k AS BIGINT) AS window_id,
        |  1704067200 + (n_nationkey * 12 + k) * 7200 AS w_start,
        |  1704067200 + (n_nationkey * 12 + k) * 7200 + 1800 AS w_end
        | FROM nation, (SELECT unnest(range(0, 12)) AS k) ks),
        |e AS (
        | SELECT event_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS pt
        | FROM events WHERE ts IS NOT NULL)
        |SELECT e.event_id, w.window_id
        |FROM e JOIN w ON e.pt >= w.w_start AND e.pt <= w.w_end""".stripMargin,

    "q_explode_tokens" ->
      """SELECT token, count(*) AS n FROM (
        | SELECT unnest(list_filter(string_split_regex(text, '\s+'),
        |   x -> len(x) > 0)) AS token FROM documents) t
        |GROUP BY token HAVING count(*) >= 20""".stripMargin,

    "q_pivot" ->
      """SELECT l_returnflag,
        | sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS qty_f,
        | sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS qty_o,
        | count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS n_f,
        | count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS n_o
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_union_all" ->
      """SELECT event_id, user_id, 'err' AS src FROM events
        | WHERE event_type = 'error'
        |UNION ALL
        |SELECT event_id, user_id, 'buy' AS src FROM events
        | WHERE event_type = 'purchase'""".stripMargin,

    "q_except_all" ->
      """SELECT user_id, event_type FROM events
        |EXCEPT ALL
        |SELECT user_id, event_type FROM events WHERE value < 50""".stripMargin,

    "q_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""".stripMargin,

    "q_window_hour" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        | count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_session_window" ->
      """SELECT user_id, min(ts) AS session_start, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM (
        | SELECT *, sum(new_sess) OVER (
        |   PARTITION BY user_id ORDER BY ts, event_id) AS sess
        | FROM (
        |  SELECT *, CASE WHEN lag(ts) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |   OR ts - lag(ts) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id)
        |     >= INTERVAL 1 HOUR THEN 1 ELSE 0 END AS new_sess
        |  FROM events) a) b
        |GROUP BY user_id, sess""".stripMargin,

    "q_sliding_window" ->
      """SELECT wstart, event_type, count(*) AS n FROM (
        | SELECT date_trunc('hour', ts) AS wstart, event_type FROM events
        | UNION ALL
        | SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type
        | FROM events) t
        |GROUP BY 1, 2""".stripMargin,

    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin,

    "q_tfidf" ->
      """WITH toks AS (
        | SELECT doc_id, unnest(list_filter(
        |   string_split_regex(text, '\s+'), x -> len(x) > 0)) AS token
        | FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
        |  GROUP BY doc_id, token),
        |df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tf
        |  GROUP BY token),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT tf.doc_id, tf.token, tf.tf, df.df,
        | round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
        |FROM tf JOIN df USING (token) CROSS JOIN n
        |WHERE tf.tf >= 3""".stripMargin,

    "q_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,

    "q_percentile" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        | round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        | round(quantile_cont(l_quantity, 0.25), 4) AS q25
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_string_funcs" ->
      """SELECT c_custkey, upper(c_name) AS uname,
        | lower(c_mktsegment) AS lseg,
        | substr(c_name, 1, 8) AS prefix8,
        | CAST(len(c_name) AS BIGINT) AS name_len,
        | regexp_replace(c_name, '[0-9]+', '#', 'g') AS masked,
        | concat_ws('|', c_mktsegment, c_name) AS joined,
        | CAST(levenshtein(c_mktsegment, 'MACHINERY') AS BIGINT) AS lev
        |FROM customer""".stripMargin,

    "q_distinct" ->
      "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",

    "q_count_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_json_props" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        | count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,

    "q_completeness" ->
      """SELECT event_id,
        | CASE WHEN event_type <> 'error' THEN event_type END AS et,
        | value,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events
        |WHERE event_id IS NOT NULL
        |  AND (CASE WHEN event_type <> 'error' THEN event_type END) IS NOT NULL
        |  AND value IS NOT NULL
        |  AND CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL""".stripMargin,

    // the §3.1 pipeline's ground truth rebuilt relationally: the JSON
    // response round-trip is identity, so the oracle derives the same
    // (host, ts, service, metric, value) rows straight from events —
    // injected NaN/garbage rows excluded (the completeness gate's
    // effect), previous-run hosts excluded (the anti-join's effect)
    "q_metrics_etl" ->
      """WITH ev AS (
        | SELECT event_id,
        |  'host' || CAST(user_id % 25 AS VARCHAR) AS host_name,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch
        | FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |base AS (
        | SELECT host_name,
        |  strftime(make_timestamp(epoch * 1000000),
        |    '%Y-%m-%d %H:%M:%S') AS ts_str,
        |  event_id FROM ev),
        |cpu AS (
        | SELECT host_name, ts_str, 'CPU Usage' AS service_name,
        |  'percent_used' AS metric_name,
        |  CAST(printf('%d.%02d', (event_id * 7 % 10000) // 100,
        |    (event_id * 7 % 10000) % 100) AS DOUBLE) AS value
        | FROM base WHERE event_id % 97 <> 0),
        |swap AS (
        | SELECT host_name, ts_str, 'Swap Usage' AS service_name,
        |  metric_name,
        |  CAST(printf('%d.%02d', m // 100, m % 100) AS DOUBLE) AS value
        | FROM (
        |  SELECT host_name, ts_str, 'swap_used_GiB' AS metric_name,
        |    event_id * 3 % 5000 AS m FROM base WHERE event_id % 89 <> 0
        |  UNION ALL
        |  SELECT host_name, ts_str, 'swap_total_GiB',
        |    event_id * 11 % 9000 FROM base WHERE event_id % 89 <> 0
        |  UNION ALL
        |  SELECT host_name, ts_str, 'swap_free_GiB',
        |    event_id * 13 % 7000 FROM base WHERE event_id % 89 <> 0) t),
        |payload AS (SELECT * FROM cpu UNION ALL SELECT * FROM swap)
        |SELECT host_name, ts_str AS "timestamp", service_name,
        |  metric_name, value,
        |  CASE WHEN contains(lower(service_name), 'cpu') THEN 'cpu'
        |    WHEN contains(lower(service_name), 'mem') THEN 'mem'
        |    WHEN contains(lower(service_name), 'disk') THEN 'disk'
        |    WHEN contains(lower(service_name), 'swap') THEN 'swap'
        |  END AS metric_family
        |FROM payload
        |WHERE host_name NOT IN ('host0', 'host1', 'host2')""".stripMargin,

    "q_doc_stats" -> {
      val toks = """list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)"""
      s"""SELECT doc_id, n_chars,
         | CAST(len($toks) AS BIGINT) AS n_tokens,
         | CAST(len(regexp_extract_all(text,
         |   '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]')) AS BIGINT) AS n_bpeish,
         | round(CASE WHEN len(text) = 0 THEN 0.0
         |   ELSE CAST(len(regexp_replace(text, '[A-Za-z0-9_\\s]+', '', 'g'))
         |     AS DOUBLE) / len(text) END, 4) AS punct_ratio,
         | round(CASE WHEN len($toks) = 0 THEN 0.0
         |   ELSE CAST(list_aggregate(list_transform($toks, x -> len(x)),
         |     'sum') AS DOUBLE) / len($toks) END, 4) AS mean_tok_len,
         | round(CASE WHEN len($toks) = 0 THEN 0.0
         |   ELSE CAST(len(list_filter($toks, x -> list_contains(
         |     ['the','and','of','to','in','is','that','it','was','for',
         |      'with','are','this','a'], x))) AS DOUBLE) / len($toks)
         |   END, 4) AS sw_ratio
         |FROM documents""".stripMargin
    },

    "q_quality" -> {
      val toks = """list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)"""
      val nTok = s"len($toks)"
      val sw = s"""CASE WHEN $nTok = 0 THEN 0.0
        | ELSE CAST(len(list_filter($toks, x -> list_contains(
        |   ['the','and','of','to','in','is','that','it','was','for',
        |    'with','are','this','a'], x))) AS DOUBLE) / $nTok END""".stripMargin
      val punct = s"""CASE WHEN len(text) = 0 THEN 0.0
        | ELSE CAST(len(regexp_replace(text, '[A-Za-z0-9_\\s]+', '', 'g'))
        |   AS DOUBLE) / len(text) END""".stripMargin
      val mtl = s"""CASE WHEN $nTok = 0 THEN 0.0
        | ELSE CAST(list_aggregate(list_transform($toks, x -> len(x)),
        |   'sum') AS DOUBLE) / $nTok END""".stripMargin
      s"""SELECT lang, count(*) AS n,
         | CAST(sum(CAST(round((
         |   (CASE WHEN $nTok BETWEEN 50 AND 100000 THEN 1.0
         |     WHEN $nTok BETWEEN 10 AND 49 THEN 0.5 ELSE 0.0 END)
         |   + (CASE WHEN ($sw) > 0.05 THEN 1.0 ELSE 0.0 END)
         |   + (CASE WHEN ($punct) < 0.2 THEN 1.0 ELSE 0.0 END)
         |   + (CASE WHEN ($mtl) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
         | ) / 4.0, 4) AS DECIMAL(18,4))) AS DOUBLE) AS sum_quality
         |FROM documents GROUP BY lang""".stripMargin
    },

    "q_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n
        |FROM documents GROUP BY text""".stripMargin,

    // dedup ∘ langid ∘ quality ∘ token budget, assembled from the same
    // fragments the single-operator oracles use
    "q_curation" -> {
      val toks = """list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)"""
      val nTok = s"len($toks)"
      val sw = s"""CASE WHEN $nTok = 0 THEN 0.0
        | ELSE CAST(len(list_filter($toks, x -> list_contains(
        |   ['the','and','of','to','in','is','that','it','was','for',
        |    'with','are','this','a'], x))) AS DOUBLE) / $nTok END""".stripMargin
      val punct = s"""CASE WHEN len(text) = 0 THEN 0.0
        | ELSE CAST(len(regexp_replace(text, '[A-Za-z0-9_\\s]+', '', 'g'))
        |   AS DOUBLE) / len(text) END""".stripMargin
      val mtl = s"""CASE WHEN $nTok = 0 THEN 0.0
        | ELSE CAST(list_aggregate(list_transform($toks, x -> len(x)),
        |   'sum') AS DOUBLE) / $nTok END""".stripMargin
      val quality = s"""round((
        |   (CASE WHEN $nTok BETWEEN 50 AND 100000 THEN 1.0
        |     WHEN $nTok BETWEEN 10 AND 49 THEN 0.5 ELSE 0.0 END)
        |   + (CASE WHEN ($sw) > 0.05 THEN 1.0 ELSE 0.0 END)
        |   + (CASE WHEN ($punct) < 0.2 THEN 1.0 ELSE 0.0 END)
        |   + (CASE WHEN ($mtl) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
        | ) / 4.0, 4)""".stripMargin
      def ratio(words: Seq[String]) = {
        val lst = words.map(w => s"'$w'").mkString("[", ",", "]")
        s"""CASE WHEN $nTok = 0 THEN 0.0
           | ELSE CAST(len(list_filter($toks,
           |   x -> list_contains($lst, x))) AS DOUBLE) / $nTok END""".stripMargin
      }
      val zhHits = TextOps.langProfiles("zh")
        .map(w => s"(CASE WHEN contains(text, '$w') THEN 1 ELSE 0 END)")
        .mkString(" + ")
      val s_en = ratio(TextOps.langProfiles("en"))
      val s_de = ratio(TextOps.langProfiles("de"))
      val s_es = ratio(TextOps.langProfiles("es"))
      val s_fr = ratio(TextOps.langProfiles("fr"))
      val s_zh = s"CAST($zhHits AS DOUBLE) / ${TextOps.langProfiles("zh").size}"
      s"""WITH kept AS (
         | SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
         |base AS (
         | SELECT d.doc_id, d.text FROM documents d
         | JOIN kept k ON d.doc_id = k.doc_id),
         |scored AS (
         | SELECT doc_id,
         |  CASE WHEN g = 0 THEN 'und'
         |    WHEN s_zh = g THEN 'zh'
         |    WHEN s_fr = g THEN 'fr'
         |    WHEN s_es = g THEN 'es'
         |    WHEN s_en = g THEN 'en'
         |    WHEN s_de = g THEN 'de'
         |  END AS lang_pred,
         |  q AS quality, n_bpeish
         | FROM (
         |  SELECT doc_id, ($quality) AS q,
         |   CAST(len(regexp_extract_all(text,
         |     '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]')) AS BIGINT) AS n_bpeish,
         |   ($s_en) AS s_en, ($s_de) AS s_de, ($s_es) AS s_es,
         |   ($s_fr) AS s_fr, ($s_zh) AS s_zh,
         |   greatest(($s_en), ($s_de), ($s_es), ($s_fr), ($s_zh)) AS g
         |  FROM base) t)
         |SELECT lang_pred, count(*) AS n_docs,
         | CAST(sum(n_bpeish) AS BIGINT) AS token_budget
         |FROM scored
         |WHERE quality >= 0.5 AND lang_pred <> 'und'
         |GROUP BY lang_pred""".stripMargin
    },

    // langId = argmax over per-language stopword-ratio scores (zh:
    // char-containment hits / profile size); ties resolve to the
    // lexicographically largest language (struct max semantics), so the
    // CASE tests langs in reverse-lexicographic order.
    "q_langid" -> {
      def ratio(words: Seq[String]) = {
        val lst = words.map(w => s"'$w'").mkString("[", ",", "]")
        s"""CASE WHEN len(list_filter(string_split_regex(text, '\\s+'),
           |  x -> len(x) > 0)) = 0 THEN 0.0
           | ELSE CAST(len(list_filter(list_filter(
           |   string_split_regex(text, '\\s+'), x -> len(x) > 0),
           |   x -> list_contains($lst, x))) AS DOUBLE) /
           |  len(list_filter(string_split_regex(text, '\\s+'),
           |   x -> len(x) > 0)) END""".stripMargin
      }
      val zhHits = TextOps.langProfiles("zh")
        .map(w => s"(CASE WHEN contains(text, '$w') THEN 1 ELSE 0 END)")
        .mkString(" + ")
      val s_en = ratio(TextOps.langProfiles("en"))
      val s_de = ratio(TextOps.langProfiles("de"))
      val s_es = ratio(TextOps.langProfiles("es"))
      val s_fr = ratio(TextOps.langProfiles("fr"))
      val s_zh = s"CAST($zhHits AS DOUBLE) / ${TextOps.langProfiles("zh").size}"
      s"""SELECT doc_id,
         | CASE WHEN g = 0 THEN 'und'
         |   WHEN s_zh = g THEN 'zh'
         |   WHEN s_fr = g THEN 'fr'
         |   WHEN s_es = g THEN 'es'
         |   WHEN s_en = g THEN 'en'
         |   WHEN s_de = g THEN 'de'
         | END AS predicted_lang
         |FROM (
         | SELECT doc_id,
         |  ($s_en) AS s_en, ($s_de) AS s_de, ($s_es) AS s_es,
         |  ($s_fr) AS s_fr, ($s_zh) AS s_zh,
         |  greatest(($s_en), ($s_de), ($s_es), ($s_fr), ($s_zh)) AS g
         | FROM documents) t""".stripMargin
    },

    // all-pairs exact-cosine near-dup membership: the DuckDB side
    // mirrors the engine's CosineSimilarity loop exactly — sequential
    // double accumulation in element order, dot / (sqrt(na) * sqrt(nb))
    // — so the rounded score and the 0.2 boundary membership both
    // hash-match
    "q_neardup_embedding_full" ->
      """WITH e AS (
        | SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (
        | SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_sum(list_transform(range(1, len(a.v) + 1),
        |    i -> a.v[i] * b.v[i])) AS dot,
        |  sqrt(list_sum(list_transform(a.v, x -> x * x))) AS na,
        |  sqrt(list_sum(list_transform(b.v, x -> x * x))) AS nb
        | FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(dot / (na * nb), 4) AS cosine
        |FROM p WHERE dot / (na * nb) >= 0.2""".stripMargin,

    // SemDeDup oracles: the centroid seed (8 lowest-id vectors), the
    // argmax-cosine assignment (ties to the lowest centroid index —
    // CentroidTopIds' strict-> scan), and the within-cluster exact
    // pair cosines are all replayed in SQL
    "q_semdedup_pairs" ->
      s"""WITH $semdedupAsgSql
         |SELECT id_a, id_b, round(cosine, 4) AS cosine
         |FROM p WHERE cosine >= 0.2""".stripMargin,

    "q_semdedup" ->
      s"""WITH $semdedupAsgSql
         |SELECT vec_id FROM embeddings WHERE vec_id NOT IN
         |  (SELECT id_b FROM p WHERE cosine >= 0.2)""".stripMargin,

    // exact brute-force cosine top-k: same double accumulation (DOUBLE[]
    // cast), same ordering (score desc, id asc), same self-exclusion —
    // upgrades the strongest ANN claim from rows-only to hash-matched
    "q_knn_bruteforce" -> knnExactTopKSql,

    // planes = 0 LSH degenerates to the same exact ground truth — the
    // lossless configuration proves the LSH pipeline end to end
    "q_knn_lsh_full" -> knnExactTopKSql,

    // survivors = corpus \ higher-id members of exact near-dup pairs
    "q_minhash_dedup" ->
      s"""WITH $nearDupCorpusSql,
         |${shingleCteSql(5, "docs")},
         |losers AS (
         | SELECT DISTINCT b.doc_id AS doc_id
         | FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         | WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |   (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
         |   >= 0.5)
         |SELECT d.doc_id FROM docs d
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin,

    // closure dedup: min-id representative per connected component of
    // the exact verified pair graph, via recursive min-propagation
    // (reach holds every (node, reachable-label) pair; components here
    // are small dup clusters, so the closure is tiny)
    "q_minhash_dedup_cc" ->
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
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
         |SELECT d.doc_id FROM docs d
         |WHERE NOT EXISTS (SELECT 1 FROM comp c
         |  WHERE c.id = d.doc_id AND c.component <> d.doc_id)""".stripMargin,

    // the exact closure + representative-hash split labels: bucket
    // CASE mirrors splitLabel's md5-prefix arithmetic on the rep id
    "q_split_leakage_safe" -> {
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
    },

    // cluster-size histogram over the same exact closure
    "q_dup_clusters" ->
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
         |sizes AS (SELECT component, count(*) AS size FROM comp
         |  GROUP BY component)
         |SELECT size, count(*) AS n_clusters FROM sizes
         |GROUP BY size""".stripMargin,

    // 3-shingle set Jaccard over explicit consecutive-id pairs; shingle
    // semantics mirror graft.functions.Shingles (see q_minhash_pairs)
    "q_ngram_jaccard" ->
      s"""WITH ${shingleCteSql(3, "documents")}
         |SELECT p.id_a, p.id_b,
         | round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |  (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4)
         |  AS jaccard
         |FROM (SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents
         |  WHERE doc_id < 30) p
         |JOIN sh a ON a.doc_id = p.id_a
         |JOIN sh b ON b.doc_id = p.id_b""".stripMargin,

    // nprobe = nlist probes every list => exact; identical ground truth
    "q_knn_ivf_full" -> knnExactTopKSql,

    // engine-portable checksum over the binary payload: DuckDB's
    // md5(VARCHAR) hashes the UTF-8 bytes, which is exactly Spark's
    // md5(cast(text AS binary))
    "q_media_checksum" ->
      """SELECT doc_id AS media_id,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | md5(text) AS checksum
        |FROM documents""".stripMargin,

    // frame rows replayed on the text (ASCII corpus: char offsets ==
    // byte offsets — the q_media_features precedent): offsets 1,
    // 1+32, ... <= n, frame = 16-char slice, short tail kept
    "q_media_frames" ->
      """WITH o AS (SELECT doc_id, text,
        |  octet_length(encode(text)) AS n FROM documents),
        |f AS (SELECT doc_id, text,
        |  unnest(range(0, CAST(floor((n - 1) / 32.0) AS BIGINT) + 1))
        |    AS g
        | FROM o WHERE n > 0)
        |SELECT doc_id AS media_id,
        | CAST(g AS BIGINT) AS frame_no,
        | CAST(1 + g * 32 AS BIGINT) AS frame_offset,
        | CAST(length(substring(text, CAST(1 + g * 32 AS INTEGER), 16))
        |   AS BIGINT) AS frame_len,
        | md5(substring(text, CAST(1 + g * 32 AS INTEGER), 16))
        |   AS frame_md5
        |FROM f""".stripMargin,

    // full stub-codec replay: features = per-(position mod 8) integer
    // byte sums. ord(char) == byte value holds because the corpus is
    // pure ASCII (verified across SFs; a multi-byte corpus would need
    // blob byte access instead) — the empty-text guard keeps ord off
    // the empty string
    "q_media_features" ->
      """WITH b AS (
        | SELECT doc_id, text,
        |  CASE WHEN text = '' THEN CAST([] AS INTEGER[])
        |   ELSE list_transform(string_split(text, ''), c -> ord(c)) END
        |   AS bytes
        | FROM documents)
        |SELECT doc_id AS media_id,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | md5(text) AS checksum,
        | array_to_string(list_transform(range(0, 8), j ->
        |   CAST(coalesce(list_sum(list_transform(
        |     range(1, len(bytes) + 1),
        |     i -> CASE WHEN (i - 1) % 8 = j THEN bytes[i] ELSE 0 END)),
        |     0) AS VARCHAR)), ',') AS features
        |FROM b""".stripMargin,

    // the q_media_frames slicing + q_media_features byte-sum slots per
    // FRAME, lag + L1 distance, threshold cut; frame 0 always opens
    "q_scene_changes" ->
      """WITH o AS (SELECT doc_id, text,
        |  octet_length(encode(text)) AS n FROM documents),
        |f AS (SELECT doc_id, text,
        |  unnest(range(0, CAST(floor((n - 1) / 32.0) AS BIGINT) + 1))
        |    AS g
        | FROM o WHERE n > 0),
        |fr AS (SELECT doc_id AS media_id, CAST(g AS BIGINT) AS frame_no,
        |  substring(text, CAST(1 + g * 32 AS INTEGER), 16) AS frame
        | FROM f),
        |ft AS (SELECT media_id, frame_no,
        |  CASE WHEN frame = '' THEN CAST([] AS INTEGER[])
        |   ELSE list_transform(string_split(frame, ''), c -> ord(c)) END
        |   AS bytes
        | FROM fr),
        |fe AS (SELECT media_id, frame_no,
        |  list_transform(range(0, 8), j ->
        |    coalesce(list_sum(list_transform(range(1, len(bytes) + 1),
        |      i -> CASE WHEN (i - 1) % 8 = j THEN bytes[i] ELSE 0 END)),
        |      0)) AS feat
        | FROM ft),
        |lg AS (SELECT media_id, frame_no, feat,
        |  lag(feat) OVER (PARTITION BY media_id ORDER BY frame_no)
        |    AS pf
        | FROM fe),
        |ds AS (SELECT media_id, frame_no,
        |  CASE WHEN pf IS NULL THEN NULL
        |   ELSE CAST(list_sum(list_transform(range(1, 9),
        |     i -> abs(feat[i] - pf[i]))) AS BIGINT) END AS dist
        | FROM lg)
        |SELECT media_id, frame_no, dist,
        | (frame_no = 0 OR dist > 150) AS scene_cut
        |FROM ds""".stripMargin,

    // exact all-pairs 5-shingle Jaccard (brute force is feasible at the
    // verify SF): proves the LSH candidate generation misses nothing on
    // this corpus AND the verification step admits nothing below
    // threshold — precision and recall both 1.0 against ground truth.
    // Shingle semantics mirror graft.functions.Shingles: whitespace
    // tokens, k-grams joined by ' ', <k tokens => one all-token shingle,
    // empty => [''].
    "q_minhash_pairs" ->
      s"""WITH $nearDupCorpusSql,
         |${shingleCteSql(5, "docs")}
         |SELECT id_a, id_b, round(jaccard, 4) AS jaccard FROM (
         | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |   (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
         |   AS jaccard
         | FROM sh a JOIN sh b ON a.doc_id < b.doc_id) p
         |WHERE jaccard >= 0.5""".stripMargin,

    // incremental probe ground truth: exact all-pairs Jaccard on the
    // same corpus, restricted to pairs TOUCHING the new batch (ids
    // >= 1000000) — pairs wholly inside staged history were reported
    // when their batches arrived and must not reappear
    "q_minhash_incremental" ->
      s"""WITH $nearDupCorpusSql,
         |${shingleCteSql(5, "docs")}
         |SELECT id_a, id_b, round(jaccard, 4) AS jaccard FROM (
         | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |   (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
         |   AS jaccard
         | FROM sh a JOIN sh b ON a.doc_id < b.doc_id) p
         |WHERE jaccard >= 0.5
         |  AND (id_a >= 1000000 OR id_b >= 1000000)""".stripMargin,

    // chained whole-partition window minima replay the funnel: step k's
    // earliest completion among events at-or-after step k-1's
    "q_funnel" ->
      """WITH e AS (
        | SELECT user_id, event_type,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ep
        | FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |s1 AS (SELECT *, min(CASE WHEN event_type = 'signup' THEN ep END)
        |  OVER (PARTITION BY user_id) AS t1 FROM e),
        |s2 AS (SELECT *, min(CASE WHEN event_type = 'view'
        |    AND ep >= t1 THEN ep END)
        |  OVER (PARTITION BY user_id) AS t2 FROM s1),
        |s3 AS (SELECT *, min(CASE WHEN event_type = 'click'
        |    AND ep >= t2 THEN ep END)
        |  OVER (PARTITION BY user_id) AS t3 FROM s2),
        |s4 AS (SELECT *, min(CASE WHEN event_type = 'purchase'
        |    AND ep >= t3 THEN ep END)
        |  OVER (PARTITION BY user_id) AS t4 FROM s3),
        |u AS (SELECT DISTINCT user_id, t1, t2, t3, t4 FROM s4),
        |agg AS (SELECT CAST(count(t1) AS BIGINT) AS c1,
        |  CAST(count(t2) AS BIGINT) AS c2,
        |  CAST(count(t3) AS BIGINT) AS c3,
        |  CAST(count(t4) AS BIGINT) AS c4 FROM u)
        |SELECT CAST(1 AS BIGINT) AS step, 'signup' AS step_name,
        |  c1 AS entities FROM agg
        |UNION ALL SELECT 2, 'view', c2 FROM agg
        |UNION ALL SELECT 3, 'click', c3 FROM agg
        |UNION ALL SELECT 4, 'purchase', c4 FROM agg""".stripMargin,

    "q_cohort_retention" ->
      """WITH w AS (
        | SELECT user_id,
        |  CAST(date_trunc('week', min(ts) OVER (PARTITION BY user_id))
        |    AS DATE) AS cohort,
        |  CAST(date_trunc('week', ts) AS DATE) AS bucket
        | FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
        |SELECT cohort,
        | CAST(floor(date_diff('day', cohort, bucket) / 7) AS BIGINT)
        |   AS week_no,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS entities
        |FROM w GROUP BY 1, 2""".stripMargin,

    "q_transitions" ->
      """WITH seq AS (
        | SELECT event_type AS to_type,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts ASC, event_id ASC) AS from_type
        | FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
        |SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2""".stripMargin,

    // gaps-and-islands → validity intervals; lead over collapsed
    // islands supplies valid_to (null = open interval)
    "q_scd2" ->
      """WITH flagged AS (
        | SELECT user_id, event_id, event_type AS state, ts,
        |  CASE WHEN lag(event_type) OVER w IS NULL
        |    OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0
        |  END AS chg
        | FROM events
        | WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |   AND event_type IS NOT NULL
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |islands AS (
        | SELECT user_id, state, ts,
        |  sum(chg) OVER (PARTITION BY user_id
        |    ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        | FROM flagged),
        |intervals AS (
        | SELECT user_id, island, min(state) AS state,
        |  min(ts) AS valid_from
        | FROM islands GROUP BY 1, 2)
        |SELECT user_id, state, valid_from,
        | lead(valid_from) OVER (PARTITION BY user_id
        |   ORDER BY island ASC) AS valid_to
        |FROM intervals""".stripMargin,

    // q_scd2's islands chain filtered to 'error' episodes, then the
    // lag-over-starts reliability aggregates; avg of exact BIGINT
    // second durations -> one double division, 6dp
    "q_reliability" ->
      """WITH flagged AS (
        | SELECT user_id, event_id, event_type AS state, ts,
        |  CASE WHEN lag(event_type) OVER w IS NULL
        |    OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0
        |  END AS chg
        | FROM events
        | WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |   AND event_type IS NOT NULL
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |islands AS (
        | SELECT user_id, state, ts,
        |  sum(chg) OVER (PARTITION BY user_id
        |    ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        | FROM flagged),
        |intervals AS (
        | SELECT user_id, island, min(state) AS state,
        |  min(ts) AS valid_from
        | FROM islands GROUP BY 1, 2),
        |hist AS (
        | SELECT user_id, state,
        |  CAST(epoch(date_trunc('second', valid_from)) AS BIGINT) AS f,
        |  CAST(epoch(date_trunc('second', lead(valid_from) OVER (
        |    PARTITION BY user_id ORDER BY island ASC))) AS BIGINT) AS t
        | FROM intervals),
        |downs AS (
        | SELECT user_id, f, t,
        |  lag(f) OVER (PARTITION BY user_id ORDER BY f ASC) AS pf
        | FROM hist WHERE state = 'error')
        |SELECT user_id, count(*) AS n_failures,
        | round(avg(t - f), 6) AS mttr_s,
        | round(avg(f - pf), 6) AS mtbf_s
        |FROM downs GROUP BY 1""".stripMargin,

    // the Nagios weighted-change integer chain replayed: num =
    // 114·S1 − 2·(rn·S1 − S_rn) over the trailing-20 window, strict
    // >380 / <95 threshold events, latest-non-null hysteresis fill
    "q_flap_detect" ->
      """WITH b AS (
        | SELECT user_id, event_type, ts,
        |  row_number() OVER w AS rn,
        |  CASE WHEN lag(event_type) OVER w IS NOT NULL
        |    AND lag(event_type) OVER w <> event_type
        |   THEN 1 ELSE 0 END AS chg
        | FROM events
        | WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |   AND event_type IS NOT NULL
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |s AS (
        | SELECT user_id, ts, event_type, rn,
        |  114 * sum(chg) OVER t
        |   - 2 * (rn * sum(chg) OVER t - sum(chg * rn) OVER t) AS num
        | FROM b
        | WINDOW t AS (PARTITION BY user_id ORDER BY rn ASC
        |   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
        |e AS (
        | SELECT user_id, ts, event_type, rn,
        |  round(CAST(num AS DOUBLE) * 100.0 / 1900.0, 6) AS pct,
        |  CASE WHEN CAST(num AS DOUBLE) > 380.0 THEN 1
        |       WHEN CAST(num AS DOUBLE) < 95.0 THEN 0 END AS evt
        | FROM s)
        |SELECT user_id, ts, event_type AS state, pct,
        | COALESCE(last_value(evt IGNORE NULLS) OVER (
        |   PARTITION BY user_id ORDER BY rn ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) = 1
        |  AS flapping
        |FROM e""".stripMargin,

    // the q_hard_state chain extended: hard_change islands over the
    // confirmed stream, elapsed-div-interval slots anchored on each
    // episode's first check, first check per slot notifies, ordinal
    // escalates from the first repeat
    "q_notifications" ->
      """WITH src AS (
        | SELECT user_id, ts, event_id,
        |  CASE WHEN value < 50 THEN 'ok' WHEN value < 80 THEN 'warn'
        |       ELSE 'crit' END AS state
        | FROM events
        | WHERE value IS NOT NULL AND user_id IS NOT NULL
        |   AND ts IS NOT NULL),
        |b AS (
        | SELECT user_id, state, ts, event_id, (state = 'ok') AS ok,
        |  row_number() OVER w AS rn,
        |  CASE WHEN lag(state = 'ok') OVER w IS NULL
        |    OR lag(state = 'ok') OVER w <> (state = 'ok')
        |   THEN row_number() OVER w END AS flip_rn
        | FROM src
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |st AS (
        | SELECT user_id, state, ts, event_id, rn, ok,
        |  rn - max(flip_rn) OVER r + 1 AS pos
        | FROM b
        | WINDOW r AS (PARTITION BY user_id ORDER BY rn ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |h AS (
        | SELECT user_id, state, ts, event_id, rn,
        |  (ok OR pos >= 3) AS hard
        | FROM st),
        |hs AS (
        | SELECT user_id, state, ts, event_id, rn,
        |  last_value(CASE WHEN hard THEN state END IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY rn ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS hard_state
        | FROM h),
        |hc AS (
        | SELECT user_id, ts, event_id, rn, hard_state,
        |  (hard_state IS NOT NULL AND
        |   CASE WHEN lag(hard_state) OVER v IS NULL
        |        THEN hard_state <> 'ok'
        |        ELSE lag(hard_state) OVER v <> hard_state END)
        |   AS hard_change
        | FROM hs
        | WINDOW v AS (PARTITION BY user_id ORDER BY rn ASC)),
        |ep AS (
        | SELECT user_id, ts, event_id, rn, hard_state,
        |  sum(CASE WHEN hard_change THEN 1 ELSE 0 END) OVER (
        |    PARTITION BY user_id ORDER BY rn ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS epi
        | FROM hc WHERE hard_state IS NOT NULL),
        |sl AS (
        | SELECT user_id, ts, event_id, rn, hard_state, epi,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS e,
        |  (CAST(epoch(date_trunc('second', ts)) AS BIGINT)
        |   - min(CAST(epoch(date_trunc('second', ts)) AS BIGINT))
        |     OVER (PARTITION BY user_id, epi)) // 21600 AS slot
        | FROM ep WHERE hard_state <> 'ok'),
        |fr AS (
        | SELECT user_id, ts, hard_state, epi, slot,
        |  row_number() OVER (PARTITION BY user_id, epi, slot
        |    ORDER BY e ASC, event_id ASC) AS srn
        | FROM sl),
        |nn AS (
        | SELECT user_id, ts, hard_state AS state, epi,
        |  CAST(row_number() OVER (PARTITION BY user_id, epi
        |    ORDER BY slot ASC) - 1 AS BIGINT) AS notification_no
        | FROM fr WHERE srn = 1)
        |SELECT user_id, ts, state, notification_no,
        | (notification_no >= 1) AS escalated
        |FROM nn""".stripMargin,

    // OK-flag gaps-and-islands (the q_sessionize recipe on the ok
    // flip): pos = rn − run_start + 1, attempt capped at 3 (1 on OK),
    // hard = ok OR pos >= 3, confirmed state = latest hard fill,
    // first-confirmed-OK fires nothing
    "q_hard_state" ->
      """WITH src AS (
        | SELECT user_id, ts, event_id,
        |  CASE WHEN value < 50 THEN 'ok' WHEN value < 80 THEN 'warn'
        |       ELSE 'crit' END AS state
        | FROM events
        | WHERE value IS NOT NULL AND user_id IS NOT NULL
        |   AND ts IS NOT NULL),
        |b AS (
        | SELECT user_id, state, ts, (state = 'ok') AS ok,
        |  row_number() OVER w AS rn,
        |  CASE WHEN lag(state = 'ok') OVER w IS NULL
        |    OR lag(state = 'ok') OVER w <> (state = 'ok')
        |   THEN row_number() OVER w END AS flip_rn
        | FROM src
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |st AS (
        | SELECT user_id, state, ts, rn, ok,
        |  rn - max(flip_rn) OVER r + 1 AS pos
        | FROM b
        | WINDOW r AS (PARTITION BY user_id ORDER BY rn ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |h AS (
        | SELECT user_id, state, ts, rn,
        |  CASE WHEN ok THEN 1 ELSE least(pos, 3) END AS attempt,
        |  (ok OR pos >= 3) AS hard
        | FROM st),
        |hs AS (
        | SELECT user_id, state, ts, rn, attempt, hard,
        |  last_value(CASE WHEN hard THEN state END IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY rn ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS hard_state
        | FROM h)
        |SELECT user_id, ts, state, CAST(attempt AS BIGINT) AS attempt,
        | CASE WHEN hard THEN 'HARD' ELSE 'SOFT' END AS state_type,
        | hard_state,
        | (hard_state IS NOT NULL AND
        |  CASE WHEN lag(hard_state) OVER v IS NULL
        |       THEN hard_state <> 'ok'
        |       ELSE lag(hard_state) OVER v <> hard_state END)
        |  AS hard_change
        |FROM hs
        |WINDOW v AS (PARTITION BY user_id ORDER BY rn ASC)"""
        .stripMargin,

    // exact interpolated medians on both sides (quantile_cont ==
    // Spark's percentile); two stats joins, then the robust cut
    "q_mad_outliers" ->
      """WITH f AS (
        | SELECT event_id, event_type, value FROM events
        | WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |med AS (SELECT event_type, quantile_cont(value, 0.5) AS m
        | FROM f GROUP BY 1),
        |mad AS (SELECT f.event_type, quantile_cont(abs(value - m), 0.5) AS d
        | FROM f JOIN med USING (event_type) GROUP BY 1)
        |SELECT event_id, f.event_type AS event_type
        |FROM f JOIN med USING (event_type) JOIN mad USING (event_type)
        |WHERE abs(value - m) > 3 * d""".stripMargin,

    // chunk i covers tokens [i*40+1, i*40+50]; short non-empty docs are
    // one chunk, empty docs none
    "q_chunk_text" ->
      """WITH t AS (
        | SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
        |   x -> len(x) > 0) AS toks
        | FROM documents),
        |n AS (
        | SELECT doc_id, toks,
        |  CASE WHEN len(toks) = 0 THEN 0
        |   ELSE greatest(CAST(ceil((len(toks) - 50.0) / 40) AS BIGINT),
        |     0) + 1 END AS nc
        | FROM t),
        |x AS (
        | SELECT doc_id, toks, unnest(range(0, nc)) AS i FROM n)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_no,
        | CAST(i * 40 + 1 AS BIGINT) AS tok_start,
        | array_to_string(list_slice(toks, CAST(i * 40 + 1 AS BIGINT),
        |   CAST(i * 40 + 50 AS BIGINT)), ' ') AS chunk
        |FROM x""".stripMargin,

    // sqrt is correctly-rounded IEEE (pow is not); the 9dp-rounded
    // weight rides DECIMAL so the total is order-independent; the
    // ratio is one double division of exactly-agreed inputs
    "q_mixture_weights" ->
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
        |FROM w""".stripMargin,

    // one UNION ALL branch per profiled column; min/max rendered
    // through the same portable forms as the Spark side (ints/strings
    // as-is, doubles via DECIMAL(28,6), timestamps via an explicit
    // second-precision format)
    // constraint-suite oracle: one SELECT per constraint, unioned;
    // "constraint" is quoted (SQL keyword); labels replicate the
    // Scala-side Double rendering (1.0, 50.0)
    "q_constraints" -> {
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
    },

    "q_profile" -> {
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
    },

    // latest change per key wins; 'D' tombstones remove the key even
    // when the base row exists; an update's NULL value overwrites
    // (whole-row semantics — the CASE picks the change side, never a
    // per-column coalesce)
    "q_merge_upsert" ->
      """WITH latest AS (
        | SELECT user_id, value, op FROM (
        |  SELECT user_id, value,
        |   CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |   row_number() OVER (PARTITION BY user_id
        |     ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t WHERE rn = 1),
        |base AS (
        | SELECT c_custkey AS user_id, c_acctbal AS value FROM customer)
        |SELECT COALESCE(b.user_id, l.user_id) AS user_id,
        | CASE WHEN l.user_id IS NOT NULL THEN l.value ELSE b.value END
        |   AS value
        |FROM base b FULL OUTER JOIN latest l ON b.user_id = l.user_id
        |WHERE l.op IS NULL OR l.op <> 'D'""".stripMargin,

    // SCD2 intervals rebuilt from the non-purchase stream (the q_scd2
    // CTE), then DuckDB's native ASOF picks the state valid at each
    // purchase's time — intervals tile the timeline, so as-of on
    // valid_from IS the validity lookup
    "q_scd2_lookup" ->
      """WITH flagged AS (
        | SELECT user_id, event_id, event_type AS state, ts,
        |  CASE WHEN lag(event_type) OVER w IS NULL
        |    OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0
        |  END AS chg
        | FROM events
        | WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |   AND event_type IS NOT NULL AND event_type <> 'purchase'
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |islands AS (
        | SELECT user_id, state, ts,
        |  sum(chg) OVER (PARTITION BY user_id
        |    ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        | FROM flagged),
        |hist AS (
        | SELECT user_id, min(state) AS state, min(ts) AS valid_from
        | FROM islands GROUP BY user_id, island),
        |probes AS (
        | SELECT event_id, user_id, ts FROM events
        | WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts, h.state AS as_of_state
        |FROM probes p ASOF LEFT JOIN hist h
        |  ON p.user_id = h.user_id AND p.ts >= h.valid_from""".stripMargin,

    // same anchored-class alternation on both engines (letter runs /
    // digit runs / single symbols — no lookarounds, no unicode
    // properties, so RE2 and java.util.regex agree)
    "q_pretokenize" ->
      """SELECT doc_id,
        | CAST(len(toks) AS BIGINT) AS n_tokens,
        | CAST(len(list_filter(toks,
        |   t -> regexp_matches(t, '^[A-Za-z]'))) AS BIGINT) AS n_word,
        | CAST(len(list_filter(toks,
        |   t -> regexp_matches(t, '^[0-9]'))) AS BIGINT) AS n_num,
        | CAST(len(toks)
        |   - len(list_filter(toks, t -> regexp_matches(t, '^[A-Za-z]')))
        |   - len(list_filter(toks, t -> regexp_matches(t, '^[0-9]')))
        |  AS BIGINT) AS n_punct
        |FROM (
        | SELECT doc_id,
        |  regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')
        |    AS toks
        | FROM documents) t""".stripMargin,

    // exact integer token counts; TTR and Simpson are each one IEEE
    // division of exactly-agreed integers — engine-portable without
    // any ln/pow
    "q_lexical_diversity" ->
      """WITH tok AS (
        | SELECT doc_id, unnest(list_filter(
        |   string_split_regex(text, '\s+'), t -> t <> '')) AS tok
        | FROM documents),
        |cnt AS (
        | SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
        |agg AS (
        | SELECT doc_id, sum(c) AS n, count(*) AS d, sum(c * c) AS sq
        | FROM cnt GROUP BY 1)
        |SELECT d0.doc_id,
        | CAST(COALESCE(n, 0) AS BIGINT) AS n_tokens,
        | CAST(COALESCE(d, 0) AS BIGINT) AS n_distinct_tokens,
        | round(CAST(d AS DOUBLE) / CAST(n AS DOUBLE), 9) AS ttr,
        | round(1 - CAST(sq AS DOUBLE) / CAST(n * n AS DOUBLE), 9)
        |   AS simpson
        |FROM documents d0 LEFT JOIN agg ON d0.doc_id = agg.doc_id""".stripMargin,

    // the sketch replayed exactly: 60-bit md5 hashes, bottom-64 per
    // group, estimate = (k-1)/R with R = kth-min normalized by 2^60
    // (63 * 2^60 is exactly representable in a double; the final
    // division is the single rounded step on both engines)
    "q_kmv_distinct" ->
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
        |FROM r WHERE rn <= 64 GROUP BY event_type""".stripMargin,

    // the HLL registers replayed exactly: same 60-bit md5 hash,
    // bucket = h mod 512, rho via integer bitlength (no float log),
    // register sum rescaled by 2^52 so it folds as an exact BIGINT;
    // the single long->double conversion and alpha*m^2*2^52/S division
    // round identically in both engines, as does the linear-counting
    // branch (one ln)
    "q_hll_distinct" ->
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
        |FROM e""".stripMargin,

    // BPE replayed from the SAME frozen merges list (single source of
    // truth: the SQL below is GENERATED from bpeMerges): distinct
    // words start as codepoint symbols + </w>; each merge is an
    // index-LOCAL list rewrite (fuse at i if (s[i],s[i+1])=(a,b);
    // drop i if (s[i-1],s[i])=(a,b)) — exact because self-merges are
    // excluded, so no overlap chain exists; then join back to the
    // positioned word stream
    "q_bpe_encode" -> {
      val stages = bpeMerges.zipWithIndex.map { case ((a, b), i) =>
        s"""v${i + 1} AS (SELECT word, list_filter(list_transform(s,
           |  (x, ii) -> CASE WHEN x = '$a' AND s[ii+1] = '$b'
           |      THEN '$a$b'
           |    WHEN ii > 1 AND s[ii-1] = '$a' AND x = '$b' THEN NULL
           |    ELSE x END), y -> y IS NOT NULL) AS s FROM v$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH w AS (SELECT doc_id, unnest(toks) AS word,
         |  unnest(range(0, len(toks))) AS word_pos
         | FROM (SELECT doc_id, list_filter(
         |   string_split_regex(text, '\\s+'), t -> len(t) > 0) AS toks
         |  FROM documents) t),
         |v0 AS (SELECT word, list_append(string_split(word, ''), '</w>')
         |   AS s
         | FROM (SELECT DISTINCT word FROM w) d),
         |$stages
         |SELECT w.doc_id, CAST(w.word_pos AS BIGINT) AS word_pos,
         | w.word, array_to_string(v.s, ' ') AS bpe,
         | CAST(len(v.s) AS BIGINT) AS n_bpe
         |FROM w JOIN v${bpeMerges.length} v USING (word)""".stripMargin
    },

    // the Luhn sum as list arithmetic (position 1 = rightmost, evens
    // doubled with 9-subtraction), check digit from the appended-0
    // sum, candidates re-extracted and reduce-replaced with word
    // boundaries — replacements are disjoint digit runs, so the
    // reduce order list_distinct happens to pick cannot matter
    "q_redact_cards" -> {
      val luhn = (c: String) =>
        s"""list_sum(list_transform(range(1, len($c) + 1), i ->
           |  CASE WHEN i % 2 = 1
           |   THEN ord(substr(reverse($c), i, 1)) - 48
           |   ELSE CASE WHEN (ord(substr(reverse($c), i, 1)) - 48) * 2 > 9
           |    THEN (ord(substr(reverse($c), i, 1)) - 48) * 2 - 9
           |    ELSE (ord(substr(reverse($c), i, 1)) - 48) * 2 END
           |  END))""".stripMargin
      s"""WITH f AS (
         | SELECT doc_id,
         |  CAST(400000000000000 + doc_id AS VARCHAR) AS b15
         | FROM documents),
         |chk AS (
         | SELECT doc_id, b15,
         |  (10 - ${luhn("(b15 || '0')")} % 10) % 10 AS d
         | FROM f),
         |t AS (
         | SELECT c.doc_id,
         |  d.text || ' ' || c.b15 || CAST(c.d AS VARCHAR) || ' ' ||
         |   c.b15 || CAST((c.d + 1) % 10 AS VARCHAR) AS t2
         | FROM chk c JOIN documents d ON c.doc_id = d.doc_id),
         |r AS (
         | SELECT doc_id, list_reduce(
         |  list_prepend(t2, list_filter(
         |    list_distinct(regexp_extract_all(t2, '\\b\\d{13,19}\\b')),
         |    c -> ${luhn("c")} % 10 = 0)),
         |  (acc, x) -> regexp_replace(acc, '\\b' || x || '\\b',
         |    '<CARD>', 'g')) AS redacted
         | FROM t)
         |SELECT doc_id, redacted,
         | CAST(len(regexp_extract_all(redacted, '<CARD>')) AS BIGINT)
         |   AS n_cards
         |FROM r""".stripMargin
    },

    // the q_bpe_encode merge stages shared, aggregated per language
    "q_tokenizer_fertility" -> {
      val stages = bpeMerges.zipWithIndex.map { case ((a, b), i) =>
        s"""v${i + 1} AS (SELECT word, list_filter(list_transform(s,
           |  (x, ii) -> CASE WHEN x = '$a' AND s[ii+1] = '$b'
           |      THEN '$a$b'
           |    WHEN ii > 1 AND s[ii-1] = '$a' AND x = '$b' THEN NULL
           |    ELSE x END), y -> y IS NOT NULL) AS s FROM v$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH w AS (SELECT doc_id, unnest(toks) AS word
         | FROM (SELECT doc_id, list_filter(
         |   string_split_regex(text, '\\s+'), t -> len(t) > 0) AS toks
         |  FROM documents) t),
         |v0 AS (SELECT word, list_append(string_split(word, ''), '</w>')
         |   AS s
         | FROM (SELECT DISTINCT word FROM w) d),
         |$stages
         |SELECT d2.lang, count(*) AS n_words,
         | CAST(sum(len(v.s)) AS BIGINT) AS n_subwords,
         | round(CAST(sum(len(v.s)) AS DOUBLE) / CAST(count(*) AS DOUBLE),
         |   6) AS fertility
         |FROM w JOIN v${bpeMerges.length} v USING (word)
         | JOIN documents d2 ON w.doc_id = d2.doc_id
         |GROUP BY 1""".stripMargin
    },

    // CDC boundaries replayed: candidate positions 2..n-7, boundary
    // iff leading-32-md5-bits of the 8-char window ≡ 0 mod 16; chunk
    // k runs from starts[k] to the next start (or n); md5 per chunk
    "q_cdc_chunks" ->
      """WITH o AS (SELECT doc_id, text, length(text) AS n
        |  FROM documents WHERE length(text) > 0),
        |b AS (SELECT doc_id, text, n,
        |  list_prepend(CAST(1 AS BIGINT), CASE WHEN n - 8 + 1 >= 2 THEN
        |    list_filter(range(2, n - 8 + 2), i ->
        |      CAST('0x' || substring(md5(substring(text,
        |        CAST(i AS INTEGER), 8)), 1, 8) AS BIGINT) % 16 = 0)
        |    ELSE CAST([] AS BIGINT[]) END) AS starts
        |  FROM o),
        |c AS (SELECT doc_id, text, n,
        |  unnest(list_transform(range(1, len(starts) + 1), k ->
        |    {'cn': k - 1, 'st': starts[CAST(k AS INTEGER)],
        |     'ln': COALESCE(starts[CAST(k + 1 AS INTEGER)], n + 1)
        |       - starts[CAST(k AS INTEGER)]})) AS ch
        |  FROM b)
        |SELECT doc_id, CAST(ch.cn AS BIGINT) AS chunk_no,
        | CAST(ch.st AS BIGINT) AS start,
        | CAST(ch.ln AS BIGINT) AS chunk_len,
        | md5(substring(text, CAST(ch.st AS INTEGER),
        |   CAST(ch.ln AS INTEGER))) AS chunk_md5
        |FROM c""".stripMargin,

    // CDC shared regions replayed: the q_cdc_chunks CTEs over the
    // injected near-dup corpus, distinct (doc, hash), hash self-join,
    // pair counts gated at 5 shared chunks of >= 4 chars
    "q_cdc_shared" ->
      s"""WITH $nearDupCorpusSql,
         |o AS (SELECT doc_id, text, length(text) AS n
         |  FROM docs WHERE length(text) > 0),
         |b AS (SELECT doc_id, text, n,
         |  list_prepend(CAST(1 AS BIGINT), CASE WHEN n - 8 + 1 >= 2 THEN
         |    list_filter(range(2, n - 8 + 2), i ->
         |      CAST('0x' || substring(md5(substring(text,
         |        CAST(i AS INTEGER), 8)), 1, 8) AS BIGINT) % 16 = 0)
         |    ELSE CAST([] AS BIGINT[]) END) AS starts
         |  FROM o),
         |c AS (SELECT doc_id, text, n,
         |  unnest(list_transform(range(1, len(starts) + 1), k ->
         |    {'st': starts[CAST(k AS INTEGER)],
         |     'ln': COALESCE(starts[CAST(k + 1 AS INTEGER)], n + 1)
         |       - starts[CAST(k AS INTEGER)]})) AS ch
         |  FROM b),
         |h AS (SELECT DISTINCT doc_id,
         |  md5(substring(text, CAST(ch.st AS INTEGER),
         |    CAST(ch.ln AS INTEGER))) AS chunk_md5
         | FROM c WHERE ch.ln >= 4)
         |SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
         | CAST(count(*) AS BIGINT) AS n_shared
         |FROM h a JOIN h b2 ON a.chunk_md5 = b2.chunk_md5
         |  AND a.doc_id < b2.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin,

    // the frozen-CMS novelty gate replayed: en-only sketch cells,
    // per-distinct-token min-over-rows estimates, then each doc's
    // occurrence-weighted share of sub-50-estimate tokens
    "q_rare_tokens" ->
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
        |GROUP BY tf.doc_id""".stripMargin,

    // CMS cells rebuilt from the same salted md5 family (leading 32
    // bits of md5(d || ':' || token) mod 512 per depth row d), top-50
    // tokens by exact count (ties token asc), estimate = min over the
    // token's 4 cells with absent cells as 0
    "q_cms_tokens" ->
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
        |FROM top JOIN est ON top.token = est.token""".stripMargin,

    // JL projection replayed: sign(k,j) = +1 iff the leading 32 md5
    // bits of "k:j" are even; per-term round(.,12) decimal sums are
    // order-independent, so y = round(sum/sqrt(16), 6) cast to float
    // is bit-identical across engines
    "q_random_project" ->
      """WITH v AS (SELECT vec_id, j.j AS j,
        |    CAST(embedding[j.j + 1] AS DOUBLE) AS x
        |  FROM embeddings, generate_series(0, 63) j(j)),
        |s AS (SELECT k.k AS k, j.j AS j,
        |    CASE WHEN CAST('0x' || substring(md5(CAST(k.k AS VARCHAR)
        |      || ':' || CAST(j.j AS VARCHAR)), 1, 8) AS BIGINT) % 2 = 0
        |      THEN 1.0 ELSE -1.0 END AS sgn
        |  FROM generate_series(0, 15) k(k), generate_series(0, 63) j(j))
        |SELECT v.vec_id, CAST(s.k AS BIGINT) AS k,
        |  CAST(round(CAST(sum(CAST(round(s.sgn * v.x, 12)
        |    AS DECIMAL(28,12))) AS DOUBLE) / sqrt(16.0), 6) AS FLOAT) AS y
        |FROM v JOIN s ON v.j = s.j
        |GROUP BY v.vec_id, s.k""".stripMargin,

    // running-weight axis in doc_id order; a row is kept iff it
    // straddles a 5000-char boundary — weight-proportional systematic
    // (PPS) sampling, fully deterministic
    "q_systematic_sample" ->
      """WITH r AS (
        | SELECT doc_id, n_chars,
        |  COALESCE(sum(n_chars) OVER (ORDER BY doc_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS run
        | FROM documents)
        |SELECT doc_id, n_chars FROM r
        |WHERE floor(run / 5000.0) < floor((run + n_chars) / 5000.0)""".stripMargin,

    // quantile_cont == Spark's exact interpolated percentile (parity
    // proven by q_mad_outliers); strictly-above-median keep rule
    "q_quality_gate_adaptive" ->
      """WITH scored AS (
        | SELECT doc_id, lang,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'),
        |    t -> t <> '')) AS BIGINT) AS n_tokens
        | FROM documents),
        |cuts AS (
        | SELECT lang, quantile_cont(n_tokens, 0.5) AS cut
        | FROM scored GROUP BY 1)
        |SELECT doc_id, s.lang AS lang, n_tokens
        |FROM scored s JOIN cuts c ON s.lang = c.lang
        |WHERE n_tokens > cut""".stripMargin,

    // IS NOT DISTINCT FROM == Spark's <=>; the null k5 group must
    // survive the join with its dim row
    "q_null_safe_join" ->
      """WITH k AS (
        | SELECT event_id, event_type,
        |  CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT)
        |    % 3 = 0 THEN NULL
        |   ELSE CAST(json_extract_string(props, '$.k') AS BIGINT) % 5
        |  END AS k5
        | FROM events),
        |dim AS (
        | SELECT DISTINCT event_type, k5,
        |  event_type || ':' || COALESCE(CAST(k5 AS VARCHAR), 'null')
        |    AS dim_tag
        | FROM k WHERE event_id % 10 = 0)
        |SELECT f.event_type AS event_type, f.k5 AS k5, dim_tag,
        | CAST(count(*) AS BIGINT) AS n
        |FROM k f JOIN dim d ON f.event_type = d.event_type
        |  AND f.k5 IS NOT DISTINCT FROM d.k5
        |GROUP BY 1, 2, 3""".stripMargin,

    // DuckDB ASOF with <= picks the EARLIEST build at-or-after each
    // probe — the forward mirror of q_asof_join's >=
    "q_asof_forward" ->
      """WITH build AS (
        | SELECT user_id, ts, event_type AS next_type,
        |  event_id AS next_event_id
        | FROM events WHERE event_type <> 'purchase'),
        |probes AS (
        | SELECT event_id, user_id, ts FROM events
        | WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts, b.next_type,
        | b.next_event_id
        |FROM probes p ASOF LEFT JOIN build b
        |  ON p.user_id = b.user_id AND p.ts <= b.ts""".stripMargin,

    // blocking-free all-pairs ground truth over the shared 3-shingle
    // definition; single-division Jaccard
    "q_jaccard_join" -> {
      s"""WITH ${shingleCteSql(3, "documents")},
         |pt AS (
         | SELECT doc_id AS probe_id, list_filter(
         |   string_split_regex(text || ' zq xq vq', '\\s+'),
         |   x -> len(x) > 0) AS toks
         | FROM documents WHERE doc_id % 9 = 0),
         |psh AS (
         | SELECT probe_id, list_distinct(${shingleSql(3)}) AS ps
         | FROM pt)
         |SELECT doc_id, probe_id,
         | CAST(len(list_intersect(sh, ps)) AS DOUBLE) /
         |   CAST(len(sh) + len(ps) - len(list_intersect(sh, ps))
         |     AS DOUBLE) AS jaccard
         |FROM sh CROSS JOIN psh
         |WHERE len(sh) > 0 AND len(ps) > 0
         |  AND CAST(len(list_intersect(sh, ps)) AS DOUBLE) /
         |   CAST(len(sh) + len(ps) - len(list_intersect(sh, ps))
         |     AS DOUBLE) >= 0.6""".stripMargin
    },

    // DuckDB's ordered string_agg == WITHIN GROUP listagg
    "q_listagg" ->
      """SELECT n_regionkey,
        | string_agg(n_name, ',' ORDER BY n_name) AS names
        |FROM nation GROUP BY n_regionkey""".stripMargin,

    // all 6 middle-bucket argmax stages unrolled; decimal-chain
    // averages, IEEE-double areas, lowest-index ties
    "q_lttb" -> lttbOracleSql(8),

    // exact frame-set Jaccard over md5'd 32-byte slices — the
    // brute-force oracle for the banded pipeline (banding recall 1 on
    // this corpus, the q_minhash_pairs convention); intersection-join
    // completeness: any pair at jaccard >= 0.7 shares a frame
    "q_frame_dedup" ->
      s"""WITH $nearDupCorpusSql,
         |o AS (SELECT doc_id, text,
         |  octet_length(encode(text)) AS n FROM docs),
         |fr AS (SELECT doc_id,
         |  md5(substring(text,
         |    CAST(1 + g * 32 AS INTEGER), 32)) AS fh
         | FROM (SELECT doc_id, text,
         |   unnest(range(0, CAST(floor((n - 1) / 32.0) AS BIGINT) + 1))
         |     AS g
         |  FROM o WHERE n > 0) t),
         |fs AS (SELECT DISTINCT doc_id, fh FROM fr),
         |sz AS (SELECT doc_id, count(*) AS n FROM fs GROUP BY 1),
         |inter AS (
         | SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         | FROM fs a JOIN fs b ON a.fh = b.fh AND a.doc_id < b.doc_id
         | GROUP BY 1, 2)
         |SELECT id_a, id_b,
         | round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jaccard
         |FROM inter
         |JOIN sz sa ON sa.doc_id = id_a
         |JOIN sz sb ON sb.doc_id = id_b
         |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.7"""
        .stripMargin,

    // the whole perceptual chain replayed: mod-65 byte-sum features
    // (the q_media_features CTE), adjacent-comparison bits as two
    // 32-bit sums, 16-bit band blocking, xor/bit_count hamming
    "q_media_neardup" ->
      s"""WITH $nearDupCorpusSql,
         |byt AS (
         | SELECT doc_id, CASE WHEN text = '' THEN CAST([] AS INTEGER[])
         |   ELSE list_transform(string_split(text, ''), c -> ord(c))
         |  END AS bytes
         | FROM docs),
         |f AS (
         | SELECT doc_id, list_transform(range(0, 65), j ->
         |   coalesce(list_sum(list_transform(
         |     range(1, len(bytes) + 1),
         |     i -> CASE WHEN (i - 1) % 65 = j THEN bytes[i] ELSE 0
         |     END)), 0)) AS fv
         | FROM byt),
         |h AS (
         | SELECT doc_id,
         |  CAST(coalesce(list_sum(list_transform(range(0, 32), k ->
         |    CASE WHEN fv[k + 1] > fv[k + 2]
         |     THEN CAST(pow(2, k) AS BIGINT) ELSE 0 END)), 0)
         |   AS BIGINT) AS lo,
         |  CAST(coalesce(list_sum(list_transform(range(0, 32), k ->
         |    CASE WHEN fv[k + 33] > fv[k + 34]
         |     THEN CAST(pow(2, k) AS BIGINT) ELSE 0 END)), 0)
         |   AS BIGINT) AS hi
         | FROM f),
         |banded AS (
         | SELECT doc_id, lo, hi, t.bi,
         |  CASE t.bi WHEN 0 THEN lo % 65536 WHEN 1 THEN lo // 65536
         |   WHEN 2 THEN hi % 65536 ELSE hi // 65536 END AS bv
         | FROM h, (SELECT unnest(range(0, 4)) AS bi) t),
         |cand AS (
         | SELECT DISTINCT x.doc_id AS media_a, y.doc_id AS media_b,
         |  x.lo AS la, x.hi AS ha, y.lo AS lb, y.hi AS hb
         | FROM banded x JOIN banded y
         |  ON x.bi = y.bi AND x.bv = y.bv AND x.doc_id < y.doc_id)
         |SELECT media_a, media_b,
         | CAST(bit_count(xor(la, lb)) + bit_count(xor(ha, hb))
         |   AS BIGINT) AS hamming
         |FROM cand
         |WHERE bit_count(xor(la, lb)) + bit_count(xor(ha, hb)) <= 8"""
        .stripMargin,

    // bucket arithmetic replayed in integers; first/last via
    // (e, tb, v)-ordered row_number — the struct-min/max tie rule
    "q_m4" ->
      """WITH base AS (
        | SELECT user_id, CAST(epoch(date_trunc('second', ts))
        |   AS BIGINT) AS e, CAST(event_id AS BIGINT) AS tb,
        |  CAST(value AS DOUBLE) AS v
        | FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  AND value IS NOT NULL),
        |bounds AS (
        | SELECT user_id, min(e) AS emin, max(e) AS emax FROM base
        | GROUP BY 1),
        |bucketed AS (
        | SELECT b.user_id, b.e, b.tb, b.v,
        |  CAST(floor(CAST((b.e - o.emin) * 16 AS DOUBLE)
        |    / (o.emax - o.emin + 1)) AS BIGINT) AS bucket
        | FROM base b JOIN bounds o USING (user_id)),
        |ordered AS (
        | SELECT user_id, bucket, v,
        |  row_number() OVER (PARTITION BY user_id, bucket
        |    ORDER BY e ASC, tb ASC, v ASC) AS rf,
        |  row_number() OVER (PARTITION BY user_id, bucket
        |    ORDER BY e DESC, tb DESC, v DESC) AS rl
        | FROM bucketed)
        |SELECT g.user_id, g.bucket, g.n, g.v_min, g.v_max,
        | f.v AS v_first, l.v AS v_last
        |FROM (
        | SELECT user_id, bucket, count(*) AS n, min(v) AS v_min,
        |  max(v) AS v_max
        | FROM bucketed GROUP BY 1, 2) g
        |JOIN (SELECT user_id, bucket, v FROM ordered WHERE rf = 1) f
        | USING (user_id, bucket)
        |JOIN (SELECT user_id, bucket, v FROM ordered WHERE rl = 1) l
        | USING (user_id, bucket)""".stripMargin,

    // the availability chain instantiated per window (suffixed CTEs),
    // burn = (1 - covered/window) / 0.01, inner-joined
    "q_burn_rate" -> {
      def chain(sfx: String, lo: Long, hi: Long): String = {
        val win = hi - lo + 1
        s"""iv$sfx AS (
           | SELECT user_id,
           |  greatest(CAST(epoch(date_trunc('second', ts)) AS BIGINT),
           |    $lo) AS lo,
           |  least(CAST(epoch(date_trunc('second', ts)) AS BIGINT) + 600,
           |    $hi) AS hi
           | FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
           |cl$sfx AS (SELECT * FROM iv$sfx WHERE lo <= hi),
           |m$sfx AS (
           | SELECT user_id, lo, hi, max(hi) OVER (
           |   PARTITION BY user_id ORDER BY lo, hi
           |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
           | FROM cl$sfx),
           |g$sfx AS (
           | SELECT user_id, lo, hi, sum(
           |   CASE WHEN pm IS NULL OR lo > pm THEN 1 ELSE 0 END) OVER (
           |   PARTITION BY user_id ORDER BY lo, hi
           |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           | FROM m$sfx),
           |mg$sfx AS (
           | SELECT user_id, island, min(lo) AS lo, max(hi) AS hi
           | FROM g$sfx GROUP BY 1, 2),
           |av$sfx AS (
           | SELECT user_id, CAST(
           |   (1000000 - (sum(hi - lo + 1) * 2000000 + $win)
           |     // (2 * $win)) * 100
           |   AS BIGINT) AS burn$sfx
           | FROM mg$sfx GROUP BY 1)""".stripMargin
      }
      s"""WITH ${chain("_long_ppm", 1704412800L, 1705708799L)},
         |${chain("_short_ppm", 1705017600L, 1705103999L)}
         |SELECT a.user_id, a.burn_long_ppm, b.burn_short_ppm,
         | (a.burn_long_ppm > 1000000 AND b.burn_short_ppm > 1000000)
         |   AS page
         |FROM av_long_ppm a JOIN av_short_ppm b
         | ON a.user_id = b.user_id""".stripMargin
    },

    // same islands chain as q_merge_intervals on the window-clamped
    // intervals, then closed-length sum over merged islands / window
    "q_availability" ->
      """WITH iv AS (
        | SELECT user_id,
        |  greatest(CAST(epoch(date_trunc('second', ts)) AS BIGINT),
        |    1704412800) AS lo,
        |  least(CAST(epoch(date_trunc('second', ts)) AS BIGINT) + 600,
        |    1705708799) AS hi
        | FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |cl AS (SELECT * FROM iv WHERE lo <= hi),
        |m AS (
        | SELECT user_id, lo, hi, max(hi) OVER (
        |   PARTITION BY user_id ORDER BY lo, hi
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        | FROM cl),
        |g AS (
        | SELECT user_id, lo, hi, sum(
        |   CASE WHEN pm IS NULL OR lo > pm THEN 1 ELSE 0 END) OVER (
        |   PARTITION BY user_id ORDER BY lo, hi
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        | FROM m),
        |mg AS (
        | SELECT user_id, island, min(lo) AS lo, max(hi) AS hi
        | FROM g GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(hi - lo + 1) AS BIGINT) AS covered_s,
        | CAST(1296000 AS BIGINT) AS window_s,
        | CAST((sum(hi - lo + 1) * 2000000 + 1296000) // (2 * 1296000)
        |   AS BIGINT) AS availability_ppm
        |FROM mg GROUP BY 1""".stripMargin,

    // window-minus-activity: the subtract sweep with one whole-window
    // A interval per active user
    "q_coverage_gaps" ->
      """WITH act AS (
        | SELECT user_id,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS lo,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) + 600 AS hi
        | FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |win AS (SELECT DISTINCT user_id, 1704412800 AS lo,
        |  1705708799 AS hi FROM act),
        |ev AS (
        | SELECT user_id, lo AS t, 1 AS da, 0 AS db FROM win
        | UNION ALL SELECT user_id, hi + 1, -1, 0 FROM win
        | UNION ALL SELECT user_id, lo, 0, 1 FROM act
        | UNION ALL SELECT user_id, hi + 1, 0, -1 FROM act),
        |sw AS (
        | SELECT user_id, t,
        |  sum(da) OVER (PARTITION BY user_id ORDER BY t, da, db
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
        |  sum(db) OVER (PARTITION BY user_id ORDER BY t, da, db
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
        |  lead(t) OVER (PARTITION BY user_id ORDER BY t, da, db) AS tn
        | FROM ev),
        |frag AS (
        | SELECT user_id, t AS lo, tn - 1 AS hi FROM sw
        | WHERE tn IS NOT NULL AND tn > t AND ca > 0 AND cb = 0),
        |m AS (
        | SELECT user_id, lo, hi, max(hi) OVER (
        |   PARTITION BY user_id ORDER BY lo, hi
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        | FROM frag),
        |g AS (
        | SELECT user_id, lo, hi, sum(
        |   CASE WHEN pm IS NULL OR lo > pm + 1 THEN 1 ELSE 0 END) OVER (
        |   PARTITION BY user_id ORDER BY lo, hi
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        | FROM m)
        |SELECT user_id, CAST(min(lo) AS BIGINT) AS lo,
        | CAST(max(hi) AS BIGINT) AS hi
        |FROM g GROUP BY user_id, island""".stripMargin,

    // the same sweep emitting FRAGMENTS: segments where A covers and
    // B does not, coalesced by the closed-integer adjacency rule
    // (lo > prior hi + 1 starts an island)
    "q_subtract_intervals" ->
      """WITH up AS (
        | SELECT user_id,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS lo,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) + 600 AS hi
        | FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |dn AS (
        | SELECT user_id,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS lo,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) + 1800 AS hi
        | FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |  AND event_type = 'error'),
        |ev AS (
        | SELECT user_id, lo AS t, 1 AS da, 0 AS db FROM up
        | UNION ALL SELECT user_id, hi + 1, -1, 0 FROM up
        | UNION ALL SELECT user_id, lo, 0, 1 FROM dn
        | UNION ALL SELECT user_id, hi + 1, 0, -1 FROM dn),
        |sw AS (
        | SELECT user_id, t,
        |  sum(da) OVER (PARTITION BY user_id ORDER BY t, da, db
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
        |  sum(db) OVER (PARTITION BY user_id ORDER BY t, da, db
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
        |  lead(t) OVER (PARTITION BY user_id ORDER BY t, da, db) AS tn
        | FROM ev),
        |frag AS (
        | SELECT user_id, t AS lo, tn - 1 AS hi FROM sw
        | WHERE tn IS NOT NULL AND tn > t AND ca > 0 AND cb = 0),
        |m AS (
        | SELECT user_id, lo, hi, max(hi) OVER (
        |   PARTITION BY user_id ORDER BY lo, hi
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        | FROM frag),
        |g AS (
        | SELECT user_id, lo, hi, sum(
        |   CASE WHEN pm IS NULL OR lo > pm + 1 THEN 1 ELSE 0 END) OVER (
        |   PARTITION BY user_id ORDER BY lo, hi
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        | FROM m)
        |SELECT user_id, CAST(min(lo) AS BIGINT) AS lo,
        | CAST(max(hi) AS BIGINT) AS hi
        |FROM g GROUP BY user_id, island""".stripMargin,

    // same boundary sweep as the engine: ±1 events at lo / hi+1 for
    // both interval sets, per-key running covers, segment sums; ppm
    // over the downtime-adjusted window, all-integer
    "q_downtime_adjusted" ->
      """WITH up AS (
        | SELECT user_id,
        |  greatest(CAST(epoch(date_trunc('second', ts)) AS BIGINT),
        |    1704412800) AS lo,
        |  least(CAST(epoch(date_trunc('second', ts)) AS BIGINT) + 600,
        |    1705708799) AS hi
        | FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |dn AS (
        | SELECT user_id,
        |  greatest(CAST(epoch(date_trunc('second', ts)) AS BIGINT),
        |    1704412800) AS lo,
        |  least(CAST(epoch(date_trunc('second', ts)) AS BIGINT) + 1800,
        |    1705708799) AS hi
        | FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |  AND event_type = 'error'),
        |ev AS (
        | SELECT user_id, lo AS t, 1 AS da, 0 AS db FROM up WHERE lo <= hi
        | UNION ALL
        | SELECT user_id, hi + 1, -1, 0 FROM up WHERE lo <= hi
        | UNION ALL
        | SELECT user_id, lo, 0, 1 FROM dn WHERE lo <= hi
        | UNION ALL
        | SELECT user_id, hi + 1, 0, -1 FROM dn WHERE lo <= hi),
        |sw AS (
        | SELECT user_id, t,
        |  sum(da) OVER (PARTITION BY user_id ORDER BY t, da, db
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
        |  sum(db) OVER (PARTITION BY user_id ORDER BY t, da, db
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
        |  lead(t) OVER (PARTITION BY user_id ORDER BY t, da, db) AS tn
        | FROM ev),
        |ag AS (
        | SELECT user_id,
        |  sum(CASE WHEN ca > 0 THEN tn - t ELSE 0 END) AS uptime_raw_s,
        |  sum(CASE WHEN ca > 0 AND cb = 0 THEN tn - t ELSE 0 END)
        |    AS covered_s,
        |  sum(CASE WHEN cb > 0 THEN tn - t ELSE 0 END) AS downtime_s
        | FROM sw WHERE tn IS NOT NULL AND tn > t
        | GROUP BY 1)
        |SELECT user_id, CAST(covered_s AS BIGINT) AS covered_s,
        | CAST(downtime_s AS BIGINT) AS downtime_s,
        | CAST(1296000 AS BIGINT) AS window_s,
        | CAST(1296000 - downtime_s AS BIGINT) AS adjusted_window_s,
        | CAST(CASE WHEN 1296000 - downtime_s >= 1
        |   THEN (covered_s * 2000000 + (1296000 - downtime_s))
        |     // (2 * (1296000 - downtime_s))
        |   ELSE 0 END AS BIGINT) AS availability_ppm
        |FROM ag WHERE uptime_raw_s >= 1""".stripMargin,

    // level/trend recursion replayed row by row; 0.75 and 0.5 are the
    // EXACT complements of the engine's alpha/beta, so every literal
    // matches the fold's doubles bit-for-bit
    "q_holt" ->
      """WITH RECURSIVE t AS (
        | SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS value,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts ASC, event_id ASC) AS rn
        | FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |r AS (
        | SELECT user_id, ts, event_id, rn, value,
        |  value AS l, CAST(0.0 AS DOUBLE) AS b
        | FROM t WHERE rn = 1
        | UNION ALL
        | SELECT t.user_id, t.ts, t.event_id, t.rn, t.value,
        |  0.25 * t.value + 0.75 * (r.l + r.b),
        |  0.5 * ((0.25 * t.value + 0.75 * (r.l + r.b)) - r.l) + 0.5 * r.b
        | FROM t JOIN r ON t.user_id = r.user_id AND t.rn = r.rn + 1)
        |SELECT user_id, ts, event_id, value, l AS level, b AS trend,
        | l + b AS forecast
        |FROM r""".stripMargin,

    // warmup pivoted to explicit left-to-right sums (((x1+x2)+x3)+x4
    // — the fold's exact IEEE order), then the recursion carries the
    // 4-slot seasonal ring as a LIST, rewriting one slot per step;
    // forecast reads the NEXT slot, untouched this step for m >= 2
    "q_holt_winters" ->
      """WITH RECURSIVE t AS (
        | SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS value,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts ASC, event_id ASC) AS rn
        | FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |w AS (
        | SELECT user_id,
        |  MAX(CASE WHEN rn = 1 THEN value END) AS x1,
        |  MAX(CASE WHEN rn = 2 THEN value END) AS x2,
        |  MAX(CASE WHEN rn = 3 THEN value END) AS x3,
        |  MAX(CASE WHEN rn = 4 THEN value END) AS x4
        | FROM t WHERE rn <= 4 GROUP BY 1 HAVING count(*) = 4),
        |seed AS (
        | SELECT user_id, x1, x2, x3, x4,
        |  (((x1 + x2) + x3) + x4) / 4 AS l0
        | FROM w),
        |r AS (
        | SELECT user_id, CAST(4 AS BIGINT) AS rn,
        |  CAST(NULL AS TIMESTAMP) AS ts, CAST(NULL AS BIGINT)
        |    AS event_id, CAST(NULL AS DOUBLE) AS value,
        |  l0 AS l, CAST(0.0 AS DOUBLE) AS b,
        |  [x1 - l0, x2 - l0, x3 - l0, x4 - l0] AS ring,
        |  CAST(NULL AS DOUBLE) AS s, CAST(NULL AS DOUBLE) AS f
        | FROM seed
        | UNION ALL
        | SELECT t.user_id, t.rn, t.ts, t.event_id, t.value,
        |  0.25 * (t.value - r.ring[((t.rn - 1) % 4) + 1])
        |    + 0.75 * (r.l + r.b),
        |  0.5 * ((0.25 * (t.value - r.ring[((t.rn - 1) % 4) + 1])
        |      + 0.75 * (r.l + r.b)) - r.l) + 0.5 * r.b,
        |  list_transform(r.ring, (sv, j) -> CASE
        |    WHEN j = ((t.rn - 1) % 4) + 1 THEN
        |     0.25 * (t.value - (0.25 * (t.value
        |        - r.ring[((t.rn - 1) % 4) + 1])
        |       + 0.75 * (r.l + r.b)))
        |      + 0.75 * r.ring[((t.rn - 1) % 4) + 1]
        |    ELSE sv END),
        |  0.25 * (t.value - (0.25 * (t.value
        |      - r.ring[((t.rn - 1) % 4) + 1])
        |     + 0.75 * (r.l + r.b)))
        |   + 0.75 * r.ring[((t.rn - 1) % 4) + 1],
        |  ((0.25 * (t.value - r.ring[((t.rn - 1) % 4) + 1])
        |     + 0.75 * (r.l + r.b))
        |   + (0.5 * ((0.25 * (t.value - r.ring[((t.rn - 1) % 4) + 1])
        |       + 0.75 * (r.l + r.b)) - r.l) + 0.5 * r.b))
        |  + r.ring[(t.rn % 4) + 1]
        | FROM t JOIN r ON t.user_id = r.user_id AND t.rn = r.rn + 1)
        |SELECT user_id, ts, event_id, value, l AS level, b AS trend,
        | s AS season, f AS forecast
        |FROM r WHERE rn > 4""".stripMargin,

    // the ewma pattern: recursive CTE replaying the per-key fold row
    // by row; every step the same (subtract, subtract, add, max)
    // double sequence, alarm = the PRE-reset statistics' threshold
    // test, reset applied when deriving the next row's carry
    "q_cusum" ->
      """WITH RECURSIVE t AS (
        | SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS value,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts ASC, event_id ASC) AS rn
        | FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |r AS (
        | SELECT user_id, ts, event_id, rn, value,
        |  greatest(0.0, (value - 50.0) - 5.0) AS sp,
        |  greatest(0.0, (50.0 - value) - 5.0) AS sn
        | FROM t WHERE rn = 1
        | UNION ALL
        | SELECT t.user_id, t.ts, t.event_id, t.rn, t.value,
        |  greatest(0.0, (CASE WHEN r.sp > 200.0 OR r.sn > 200.0
        |    THEN 0.0 ELSE r.sp END) + ((t.value - 50.0) - 5.0)),
        |  greatest(0.0, (CASE WHEN r.sp > 200.0 OR r.sn > 200.0
        |    THEN 0.0 ELSE r.sn END) + ((50.0 - t.value) - 5.0))
        | FROM t JOIN r ON t.user_id = r.user_id AND t.rn = r.rn + 1)
        |SELECT user_id, ts, event_id, value,
        | sp AS cusum_pos, sn AS cusum_neg,
        | (sp > 200.0 OR sn > 200.0) AS alarm
        |FROM r""".stripMargin,

    // fixed-width twin: epoch-aligned daily buckets — floor on the
    // second-truncated e equals the engine's micros-aligned window()
    // because floor(floor(x)/W) == floor(x/W) for integer W
    "q_m4_fixed" ->
      """WITH base AS (
        | SELECT user_id, CAST(epoch(date_trunc('second', ts))
        |   AS BIGINT) AS e, CAST(event_id AS BIGINT) AS tb,
        |  CAST(value AS DOUBLE) AS v
        | FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  AND value IS NOT NULL),
        |bucketed AS (
        | SELECT user_id, (e // 86400) * 86400 AS bucket_start,
        |  e, tb, v
        | FROM base),
        |ordered AS (
        | SELECT user_id, bucket_start, v,
        |  row_number() OVER (PARTITION BY user_id, bucket_start
        |    ORDER BY e ASC, tb ASC, v ASC) AS rf,
        |  row_number() OVER (PARTITION BY user_id, bucket_start
        |    ORDER BY e DESC, tb DESC, v DESC) AS rl
        | FROM bucketed)
        |SELECT g.user_id, g.bucket_start, g.n, g.v_min, g.v_max,
        | f.v AS v_first, l.v AS v_last
        |FROM (
        | SELECT user_id, bucket_start, count(*) AS n, min(v) AS v_min,
        |  max(v) AS v_max
        | FROM bucketed GROUP BY 1, 2) g
        |JOIN (SELECT user_id, bucket_start, v FROM ordered
        |  WHERE rf = 1) f USING (user_id, bucket_start)
        |JOIN (SELECT user_id, bucket_start, v FROM ordered
        |  WHERE rl = 1) l USING (user_id, bucket_start)""".stripMargin,

    // the same lag/reset/ratio chain term for term; epoch gaps from
    // second-truncated timestamps (the engine's unix_timestamp)
    "q_counter_rate" ->
      """WITH base AS (
        | SELECT user_id, event_type, ts, event_id,
        |  CAST(value AS DOUBLE) AS value,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS e
        | FROM events
        | WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |  AND ts IS NOT NULL AND value IS NOT NULL),
        |lagged AS (
        | SELECT user_id, event_type, ts, value, e,
        |  lag(value) OVER w AS pv, lag(e) OVER w AS pe
        | FROM base
        | WINDOW w AS (PARTITION BY user_id, event_type
        |   ORDER BY ts ASC, event_id ASC))
        |SELECT user_id, event_type, ts, value,
        | round(CASE WHEN value >= pv THEN value - pv ELSE value END,
        |   6) AS increase,
        | round((CASE WHEN value >= pv THEN value - pv ELSE value END)
        |   / (e - pe), 6) AS rate_per_s
        |FROM lagged WHERE pv IS NOT NULL AND e > pe""".stripMargin,

    // both medians replayed as rank ceil(n/2) row_number picks; the
    // residual pass uses the 6dp-rounded slope, closing the chain
    "q_theil_sen" ->
      """WITH pts AS (
        | SELECT user_id,
        |  CAST(epoch(date_trunc('second', ts)) AS DOUBLE) AS x,
        |  CAST(value AS DOUBLE) AS y
        | FROM events
        | WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  AND value IS NOT NULL),
        |p AS (
        | SELECT a.user_id, (b.y - a.y) / (b.x - a.x) AS m
        | FROM pts a JOIN pts b
        |  ON a.user_id = b.user_id AND a.x < b.x),
        |s AS (
        | SELECT user_id, m,
        |  row_number() OVER (PARTITION BY user_id ORDER BY m) AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS n
        | FROM p),
        |sl AS (
        | SELECT user_id, CAST(n AS BIGINT) AS n_pairs,
        |  round(m, 6) + 0.0 AS slope
        | FROM s
        | WHERE rn = CAST(ceil(CAST(n AS DOUBLE) / 2.0) AS BIGINT)),
        |r AS (
        | SELECT pts.user_id, sl.n_pairs, sl.slope,
        |  pts.y - sl.slope * pts.x AS res
        | FROM pts JOIN sl ON pts.user_id = sl.user_id),
        |rr AS (
        | SELECT user_id, n_pairs, slope, res,
        |  row_number() OVER (PARTITION BY user_id ORDER BY res) AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS n
        | FROM r)
        |SELECT user_id, n_pairs, slope, round(res, 6) + 0.0 AS intercept
        |FROM rr
        |WHERE rn = CAST(ceil(CAST(n AS DOUBLE) / 2.0) AS BIGINT)""".stripMargin,

    // the exact chain plus the oversize pair filter: np per series,
    // pairs of >64-point series kept only when the portable md5
    // bucket over 'tspair:user:x_a:x_b' lands on 0 mod 7 — the
    // engine's conv(substring(md5)) == DuckDB's CAST('0x'||substr
    // convention, established by q_rebalance_lang
    "q_theil_sen_sampled" ->
      """WITH pts AS (
        | SELECT user_id,
        |  CAST(epoch(date_trunc('second', ts)) AS DOUBLE) AS x,
        |  CAST(CAST(epoch(date_trunc('second', ts)) AS BIGINT)
        |    AS VARCHAR) AS xs,
        |  CAST(value AS DOUBLE) AS y,
        |  count(*) OVER (PARTITION BY user_id) AS np
        | FROM events
        | WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  AND value IS NOT NULL),
        |p AS (
        | SELECT a.user_id, (b.y - a.y) / (b.x - a.x) AS m
        | FROM pts a JOIN pts b
        |  ON a.user_id = b.user_id AND a.x < b.x
        | WHERE a.np <= 64 OR
        |  (CAST(('0x' || substr(md5('tspair:' ||
        |     CAST(a.user_id AS VARCHAR) || ':' || a.xs || ':' || b.xs),
        |     1, 8)) AS BIGINT) % 7) = 0),
        |s AS (
        | SELECT user_id, m,
        |  row_number() OVER (PARTITION BY user_id ORDER BY m) AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS n
        | FROM p),
        |sl AS (
        | SELECT user_id, CAST(n AS BIGINT) AS n_pairs,
        |  round(m, 6) + 0.0 AS slope
        | FROM s
        | WHERE rn = CAST(ceil(CAST(n AS DOUBLE) / 2.0) AS BIGINT)),
        |r AS (
        | SELECT pts.user_id, sl.n_pairs, sl.slope,
        |  pts.y - sl.slope * pts.x AS res
        | FROM pts JOIN sl ON pts.user_id = sl.user_id),
        |rr AS (
        | SELECT user_id, n_pairs, slope, res,
        |  row_number() OVER (PARTITION BY user_id ORDER BY res) AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS n
        | FROM r)
        |SELECT user_id, n_pairs, slope, round(res, 6) + 0.0 AS intercept
        |FROM rr
        |WHERE rn = CAST(ceil(CAST(n AS DOUBLE) / 2.0) AS BIGINT)""".stripMargin,

    // all three lags replayed off one window pass; Pearson moments as
    // exact decimal sums, the combination formula in the same IEEE
    // op order as the operator
    "q_acf" ->
      """WITH ev AS (
        | SELECT event_type, ts, event_id, value FROM events
        | WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  AND event_id IS NOT NULL AND value IS NOT NULL),
        |l AS (
        | SELECT event_type, value AS x,
        |  lead(value, 1) OVER w AS y1,
        |  lead(value, 2) OVER w AS y2,
        |  lead(value, 3) OVER w AS y3
        | FROM ev
        | WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
        |p AS (
        | SELECT event_type, x, 1 AS lag, y1 AS y FROM l
        |  WHERE y1 IS NOT NULL
        | UNION ALL SELECT event_type, x, 2, y2 FROM l
        |  WHERE y2 IS NOT NULL
        | UNION ALL SELECT event_type, x, 3, y3 FROM l
        |  WHERE y3 IS NOT NULL),
        |m AS (
        | SELECT event_type, CAST(lag AS BIGINT) AS lag,
        |  CAST(count(*) AS DOUBLE) AS n,
        |  CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(y AS DECIMAL(28,10))) AS DOUBLE) AS sy,
        |  CAST(sum(CAST(x * y AS DECIMAL(28,10))) AS DOUBLE) AS sxy,
        |  CAST(sum(CAST(x * x AS DECIMAL(28,10))) AS DOUBLE) AS sxx,
        |  CAST(sum(CAST(y * y AS DECIMAL(28,10))) AS DOUBLE) AS syy
        | FROM p GROUP BY 1, 2)
        |SELECT event_type, lag, CAST(n AS BIGINT) AS n_pairs,
        | round((n * sxy - sx * sy)
        |   / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS acf
        |FROM m
        |WHERE n >= 2 AND (n * sxx - sx * sx) > 0
        |  AND (n * syy - sy * sy) > 0""".stripMargin,

    "q_apdex" ->
      """SELECT event_type,
        | CAST(sum(CASE WHEN value <= 50.0 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_satisfied,
        | CAST(sum(CASE WHEN value > 50.0 AND value <= 200.0
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_tolerating,
        | CAST(count(*) AS BIGINT) AS n_total,
        | round((CAST(sum(CASE WHEN value <= 50.0 THEN 1 ELSE 0 END)
        |     AS DOUBLE)
        |   + CAST(sum(CASE WHEN value > 50.0 AND value <= 200.0
        |     THEN 1 ELSE 0 END) AS DOUBLE) * 0.5)
        |  / CAST(count(*) AS DOUBLE), 4) AS apdex
        |FROM events
        |WHERE event_type IS NOT NULL AND value IS NOT NULL
        |GROUP BY 1""".stripMargin,

    // pooled center line, per-day widths, flag on the UNROUNDED
    // proportion — the same one fixed IEEE order as the operator
    "q_pchart" ->
      """WITH per AS (
        | SELECT strftime(ts, '%Y-%m-%d') AS day,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS x
        | FROM events
        | WHERE ts IS NOT NULL AND event_type IS NOT NULL
        | GROUP BY 1),
        |tot AS (
        | SELECT sum(n) AS nn, sum(x) AS xx FROM per)
        |SELECT day, n, x,
        | round(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p,
        | round(CAST(xx AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS p_bar,
        | round(greatest(CAST(xx AS DOUBLE) / CAST(nn AS DOUBLE)
        |   - 3.0 * sqrt(CAST(xx AS DOUBLE) / CAST(nn AS DOUBLE)
        |     * (1.0 - CAST(xx AS DOUBLE) / CAST(nn AS DOUBLE))
        |     / CAST(n AS DOUBLE)), 0.0), 6) AS lcl,
        | round(least(CAST(xx AS DOUBLE) / CAST(nn AS DOUBLE)
        |   + 3.0 * sqrt(CAST(xx AS DOUBLE) / CAST(nn AS DOUBLE)
        |     * (1.0 - CAST(xx AS DOUBLE) / CAST(nn AS DOUBLE))
        |     / CAST(n AS DOUBLE)), 1.0), 6) AS ucl,
        | CAST(CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
        |    > least(CAST(xx AS DOUBLE) / CAST(nn AS DOUBLE)
        |      + 3.0 * sqrt(CAST(xx AS DOUBLE) / CAST(nn AS DOUBLE)
        |        * (1.0 - CAST(xx AS DOUBLE) / CAST(nn AS DOUBLE))
        |        / CAST(n AS DOUBLE)), 1.0)
        |   OR CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
        |    < greatest(CAST(xx AS DOUBLE) / CAST(nn AS DOUBLE)
        |      - 3.0 * sqrt(CAST(xx AS DOUBLE) / CAST(nn AS DOUBLE)
        |        * (1.0 - CAST(xx AS DOUBLE) / CAST(nn AS DOUBLE))
        |        / CAST(n AS DOUBLE)), 0.0) AS BIGINT)
        |  AS out_of_control
        |FROM per, tot""".stripMargin,

    // same moments, same segment fold, same breakpoint CASE chain —
    // every z comparison replays on an identical double
    "q_sax" ->
      """WITH ev AS (
        | SELECT event_type, ts, event_id, value FROM events
        | WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  AND event_id IS NOT NULL AND value IS NOT NULL),
        |stats AS (
        | SELECT event_type,
        |  CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS s1,
        |  CAST(sum(CAST(value * value AS DECIMAL(28,10)))
        |    AS DOUBLE) AS s2,
        |  CAST(count(*) AS DOUBLE) AS cnt
        | FROM ev GROUP BY 1),
        |k AS (
        | SELECT event_type, s1 / cnt AS mu,
        |  sqrt(greatest(s2 / cnt - (s1 / cnt) * (s1 / cnt), 0))
        |    AS sigma
        | FROM stats
        | WHERE greatest(s2 / cnt - (s1 / cnt) * (s1 / cnt), 0) > 0),
        |r AS (
        | SELECT event_type, value,
        |  CAST(row_number() OVER (PARTITION BY event_type
        |     ORDER BY ts, event_id) - 1 AS BIGINT) // 64 AS segment
        | FROM ev),
        |g AS (
        | SELECT event_type, segment,
        |  CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sv,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM r GROUP BY 1, 2)
        |SELECT g.event_type, g.segment, g.n,
        | round((sv / CAST(n AS DOUBLE) - mu) / sigma, 6) AS paa_z,
        | CASE
        |  WHEN (sv / CAST(n AS DOUBLE) - mu) / sigma < -0.6745 THEN 'a'
        |  WHEN (sv / CAST(n AS DOUBLE) - mu) / sigma < 0.0 THEN 'b'
        |  WHEN (sv / CAST(n AS DOUBLE) - mu) / sigma < 0.6745 THEN 'c'
        |  ELSE 'd' END AS symbol
        |FROM g JOIN k ON g.event_type = k.event_type""".stripMargin,

    // the recursive CTE replays the exact (multiply, multiply, add)
    // step sequence — bit-identical smoothed values
    "q_ewma" ->
      """WITH RECURSIVE t AS (
        | SELECT user_id, event_id, value,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts ASC, event_id ASC) AS rn
        | FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |r AS (
        | SELECT user_id, event_id, rn, value AS y FROM t WHERE rn = 1
        | UNION ALL
        | SELECT t.user_id, t.event_id, t.rn,
        |  0.25 * t.value + 0.75 * r.y
        | FROM t JOIN r ON t.user_id = r.user_id AND t.rn = r.rn + 1)
        |SELECT user_id, event_id, y AS ewma FROM r""".stripMargin,

    // the same 32 shift/mask terms, generated for DuckDB's >> and &;
    // x/y mirror Spark's pmod — DuckDB % keeps the dividend's sign, so
    // plain `user_id % 65536` would silently diverge on any negative
    // input (and arithmetic >> on a negative y would compound it)
    "q_zorder" -> {
      val terms = (0 until 16).map { i =>
        s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})"
      }.mkString(" + ")
      s"""SELECT event_id, $terms AS z
         |FROM (
         | SELECT event_id,
         |  ((user_id % 65536) + 65536) % 65536 AS x,
         |  ((CAST(floor(value * 100) AS BIGINT) % 65536) + 65536) % 65536
         |    AS y
         | FROM events WHERE value IS NOT NULL) t""".stripMargin
    },

    // risk sets from a DESC cumulative sum over (cohort, duration)
    // counts, the survival product replayed by the recursive CTE in
    // event-time order — base 1·(1−d/n) == Spark's 1.0 seed exactly
    "q_kaplan_meier" ->
      """WITH RECURSIVE e AS (
        | SELECT user_id, event_id, event_type,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS e
        | FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |per AS (
        | SELECT user_id, min(e) AS t0,
        |  min(CASE WHEN event_type = 'error' THEN e END) AS terr,
        |  max(e) AS tend
        | FROM e GROUP BY 1),
        |fe AS (
        | SELECT user_id, event_type AS cohort FROM (
        |  SELECT user_id, event_type, row_number() OVER (
        |    PARTITION BY user_id ORDER BY e ASC, event_id ASC) AS rn
        |  FROM e) x WHERE rn = 1),
        |subj AS (
        | SELECT f.cohort,
        |  CASE WHEN p.terr IS NOT NULL THEN p.terr - p.t0
        |       ELSE p.tend - p.t0 END AS duration,
        |  (p.terr IS NOT NULL) AS ev
        | FROM per p JOIN fe f ON p.user_id = f.user_id),
        |pd AS (
        | SELECT cohort, duration,
        |  sum(CASE WHEN ev THEN 1 ELSE 0 END) AS d, count(*) AS w
        | FROM subj GROUP BY 1, 2),
        |ar AS (
        | SELECT cohort, duration, d,
        |  sum(w) OVER (PARTITION BY cohort ORDER BY duration DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS n_at_risk
        | FROM pd),
        |et AS (
        | SELECT cohort, duration, d, n_at_risk,
        |  row_number() OVER (PARTITION BY cohort
        |    ORDER BY duration ASC) AS rn
        | FROM ar WHERE d > 0),
        |r AS (
        | SELECT cohort, duration, d, n_at_risk, rn,
        |  1.0 * (1.0 - CAST(d AS DOUBLE) / CAST(n_at_risk AS DOUBLE))
        |   AS s
        | FROM et WHERE rn = 1
        | UNION ALL
        | SELECT t.cohort, t.duration, t.d, t.n_at_risk, t.rn,
        |  r.s * (1.0 - CAST(t.d AS DOUBLE) / CAST(t.n_at_risk
        |    AS DOUBLE))
        | FROM et t JOIN r ON t.cohort = r.cohort AND t.rn = r.rn + 1)
        |SELECT cohort, duration, CAST(d AS BIGINT) AS d,
        | CAST(n_at_risk AS BIGINT) AS n_at_risk,
        | round(s, 6) AS survival
        |FROM r""".stripMargin,

    // four conditional-count cells, the same fixed double formula
    "q_ab_test" ->
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
        |FROM f""".stripMargin,

    // tie-collapsed (key, value) counts, running ECDF sums, the
    // integer gap maximum, one double division + the squared
    // significance comparison — every step the Spark chain verbatim
    "q_ks_drift" ->
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
        |FROM g""".stripMargin,

    // conditional counts per bin, window totals, one IEEE-op chain
    // per output — ln-free drift term
    "q_dist_drift" ->
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
        | FROM counts) t""".stripMargin,

    // the variant path extraction mirrored with DuckDB's JSON readers
    "q_variant" ->
      """SELECT event_id,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        | json_extract_string(props, '$.k') AS k_str
        |FROM events""".stripMargin,

    // same fixpoint in DuckDB's WITH RECURSIVE
    "q_recursive_cte" ->
      """WITH RECURSIVE anc AS (
        | SELECT c_custkey AS node,
        |  CAST(floor(c_custkey / 10.0) AS BIGINT) AS anc,
        |  1 AS depth
        | FROM customer WHERE c_custkey > 0
        | UNION ALL
        | SELECT node, CAST(floor(anc / 10.0) AS BIGINT), depth + 1
        | FROM anc WHERE anc > 0)
        |SELECT node, anc, CAST(depth AS BIGINT) AS depth FROM anc""".stripMargin,

    // quantile_cont == Spark percentile; LEAST/GREATEST clipping
    "q_winsorize" ->
      """WITH f AS (
        | SELECT event_id, event_type, value FROM events
        | WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |cuts AS (
        | SELECT event_type, quantile_cont(value, 0.05) AS p05,
        |  quantile_cont(value, 0.95) AS p95
        | FROM f GROUP BY 1)
        |SELECT event_id, f.event_type AS event_type,
        | least(greatest(value, p05), p95) AS value_w
        |FROM f JOIN cuts c ON f.event_type = c.event_type""".stripMargin,

    // brute-force all-pairs levenshtein — the blocking-free ground
    // truth the prefix-filtered join must reproduce exactly
    "q_fuzzy_join" ->
      """WITH v AS (
        | SELECT p_partkey AS variant_id,
        |  substr(p_name, 1, 2) || 'q' || substr(p_name, 4) AS v_name
        | FROM part WHERE p_partkey % 10 = 0)
        |SELECT p.p_partkey AS part_id, v.variant_id,
        | CAST(levenshtein(p.p_name, v.v_name) AS BIGINT) AS dist
        |FROM part p CROSS JOIN v
        |WHERE abs(length(p.p_name) - length(v.v_name)) <= 1
        |  AND levenshtein(p.p_name, v.v_name) <= 1""".stripMargin,

    // ER oracle: exact cross-product match graph + recursive min-label
    // closure (the q_minhash_dedup_cc reach idiom); unmatched records
    // resolve to themselves
    "q_entity_resolution" ->
      """WITH RECURSIVE recs AS (
        | SELECT p_partkey AS rec_id, p_name AS name FROM part
        | UNION ALL
        | SELECT p_partkey + 10000000,
        |  substr(p_name, 1, 2) || 'q' || substr(p_name, 4)
        | FROM part WHERE p_partkey % 10 = 0),
        |pairs AS (
        | SELECT a.rec_id AS u, b.rec_id AS v
        | FROM recs a JOIN recs b ON a.rec_id < b.rec_id
        | WHERE abs(length(a.name) - length(b.name)) <= 1
        |  AND levenshtein(a.name, b.name) <= 1),
        |edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
        |reach(id, r) AS (
        | SELECT DISTINCT u, u FROM edges
        | UNION
        | SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
        |SELECT r.rec_id, r.name,
        | coalesce(c.component, r.rec_id) AS entity_id
        |FROM recs r LEFT JOIN comp c ON r.rec_id = c.id""".stripMargin,

    // serving oracle: the ER closure CTEs rebuild the frozen registry,
    // the batch cross-joins it under the same levenshtein predicate,
    // min entity per batch name; unmatched names fall back to the
    // batch's min id for that exact string
    "q_entity_resolution_incremental" ->
      """WITH RECURSIVE recs AS (
        | SELECT p_partkey AS rec_id, p_name AS name FROM part
        | UNION ALL
        | SELECT p_partkey + 10000000,
        |  substr(p_name, 1, 2) || 'q' || substr(p_name, 4)
        | FROM part WHERE p_partkey % 10 = 0),
        |pairs AS (
        | SELECT a.rec_id AS u, b.rec_id AS v
        | FROM recs a JOIN recs b ON a.rec_id < b.rec_id
        | WHERE abs(length(a.name) - length(b.name)) <= 1
        |  AND levenshtein(a.name, b.name) <= 1),
        |edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
        |reach(id, r) AS (
        | SELECT DISTINCT u, u FROM edges
        | UNION
        | SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |reg AS (
        | SELECT r.name, min(coalesce(c.component, r.rec_id)) AS ent
        | FROM recs r LEFT JOIN comp c ON r.rec_id = c.id
        | GROUP BY r.name),
        |b AS (
        | SELECT p_partkey + 20000000 AS rec_id,
        |  substr(p_name, 1, 1) || 'x' || substr(p_name, 3) AS name
        | FROM part WHERE p_partkey % 25 = 0
        | UNION ALL
        | SELECT p_partkey + 30000000,
        |  'novel entity ' || CAST(p_partkey % 7 AS VARCHAR)
        | FROM part WHERE p_partkey % 50 = 0),
        |asg AS (
        | SELECT b.name, min(reg.ent) AS best
        | FROM b JOIN reg ON abs(length(b.name) - length(reg.name)) <= 1
        |  AND levenshtein(b.name, reg.name) <= 1
        | GROUP BY b.name),
        |fb AS (SELECT name, min(rec_id) AS self FROM b GROUP BY name)
        |SELECT b.rec_id, b.name,
        | coalesce(a.best, fb.self) AS entity_id
        |FROM b LEFT JOIN asg a ON b.name = a.name
        |JOIN fb ON b.name = fb.name""".stripMargin,

    // identical three-valued NOT IN semantics: nulled probe keys never
    // qualify
    "q_not_in" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE CASE WHEN c_custkey % 7 = 0 THEN NULL
        |           ELSE c_custkey END NOT IN (
        |  SELECT o_custkey FROM orders
        |  WHERE o_orderstatus = 'F')""".stripMargin,

    // same second-resolution gap rule (funnel's epoch convention);
    // ROWS vs RANGE framing is immaterial because a tie-group's break
    // flag can only sit on its first row
    "q_sessions" ->
      """WITH e AS (
        | SELECT user_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT)
        |   AS ep
        | FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |f AS (SELECT user_id, ep,
        |  CASE WHEN lag(ep) OVER w IS NULL
        |      OR ep - lag(ep) OVER w > 1800 THEN 1 ELSE 0 END AS brk
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ep)),
        |g AS (SELECT user_id, ep, CAST(sum(brk) OVER (
        |   PARTITION BY user_id ORDER BY ep
        |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
        | FROM f)
        |SELECT user_id, session_no, min(ep) AS start_ep,
        | max(ep) AS end_ep, count(*) AS n_events
        |FROM g GROUP BY 1, 2""".stripMargin,

    // the oriented-wedge enumeration replayed: same canonical edges,
    // same (degree, node) total order, same close condition — every
    // triangle appears exactly once in both engines, so per-node
    // participation counts hash-match
    "q_triangles" ->
      s"""WITH $coPurchaseEdgesSql,
        |deg AS (
        | SELECT node, count(*) AS d FROM (
        |  SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0) n
        | GROUP BY 1),
        |o AS (
        | SELECT
        |  CASE WHEN du.d < dv.d OR (du.d = dv.d AND e0.u < e0.v)
        |   THEN e0.u ELSE e0.v END AS a,
        |  CASE WHEN du.d < dv.d OR (du.d = dv.d AND e0.u < e0.v)
        |   THEN e0.v ELSE e0.u END AS b,
        |  CASE WHEN du.d < dv.d OR (du.d = dv.d AND e0.u < e0.v)
        |   THEN dv.d ELSE du.d END AS db
        | FROM e0 JOIN deg du ON e0.u = du.node
        |  JOIN deg dv ON e0.v = dv.node),
        |w AS (
        | SELECT e1.a, e1.b, e2.b AS c
        | FROM o e1 JOIN o e2 ON e1.a = e2.a
        |  AND (e1.db < e2.db OR (e1.db = e2.db AND e1.b < e2.b))),
        |t AS (
        | SELECT w.a, w.b, w.c
        | FROM w JOIN o e3 ON w.b = e3.a AND w.c = e3.b)
        |SELECT node, CAST(count(*) AS BIGINT) AS triangles
        |FROM (SELECT unnest([a, b, c]) AS node FROM t) x
        |GROUP BY 1""".stripMargin,

    // the peel unrolled to 14 rounds — at the fixpoint every further
    // round is the identity, so any R >= the data's shell depth (11
    // at sf0.01, 1 at sf0.001) replays the operator exactly. Each
    // round's CTEs are MATERIALIZED: DuckDB inlines CTEs by default,
    // and e_i references e_{i-1} three times — unmaterialized, the
    // 14-round chain expands to 3^14 base-table scans
    "q_kcore" -> {
      val rounds = (1 to 14).map { i =>
        s"""deg$i AS MATERIALIZED (
           | SELECT node, count(*) AS d FROM (
           |  SELECT u AS node FROM e${i - 1}
           |  UNION ALL SELECT v FROM e${i - 1}) n$i
           | GROUP BY 1),
           |keep$i AS MATERIALIZED (SELECT node FROM deg$i WHERE d >= 3),
           |e$i AS MATERIALIZED (
           | SELECT u, v FROM e${i - 1}
           | WHERE u IN (SELECT node FROM keep$i)
           |   AND v IN (SELECT node FROM keep$i))""".stripMargin
      }.mkString(",\n")
      // fixpoint ASSERTION (ADVICE r9): the unroll is only correct
      // while the data's shell depth is <= 14 (11 at sf0.01) — at a
      // larger SF an under-peeled oracle would silently report a
      // spurious hash-FAIL against the correct operator. If round 14
      // still removed edges, the oracle now ERRORS loudly instead of
      // comparing a wrong answer.
      s"""WITH $coPurchaseEdgesSql,
         |$rounds,
         |chk AS (SELECT CASE
         |  WHEN (SELECT count(*) FROM e14) = (SELECT count(*) FROM e13)
         |  THEN 1 ELSE error('q_kcore oracle: edge set still shrinking '
         |    || 'after 14 peel rounds - raise the unroll depth for '
         |    || 'this SF') END AS ok)
         |SELECT node, count(*) AS core_degree FROM (
         | SELECT u AS node FROM e14 UNION ALL SELECT v FROM e14) f
         |CROSS JOIN chk
         |GROUP BY 1""".stripMargin
    },

    // the power iteration unrolled: 3 chained CTEs, each the same
    // round/decimal-sum/round contribution chain the Spark operator
    // uses, so every intermediate is bit-identical
    "q_pagerank" ->
      s"""WITH pairs AS (SELECT DISTINCT
         |  'O' || CAST(l_orderkey AS VARCHAR) AS o,
         |  'S' || CAST(l_suppkey AS VARCHAR) AS p FROM lineitem),
         |e AS (SELECT o AS src, p AS dst FROM pairs
         |  UNION ALL SELECT p, o FROM pairs),
         |nodes AS (SELECT src AS node FROM e
         |  UNION SELECT dst FROM e),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         |pr0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS pr FROM nodes),
         |${pageRankIterCtesSql(3, "e")}
         |SELECT node, round(pr, 6) AS pagerank FROM pr3""".stripMargin,

    // seeded restart: r = 1 on every-10th supplier node, 0 elsewhere;
    // pr0 = r; otherwise the exact q_pagerank iteration replay
    "q_personalized_pagerank" ->
      s"""WITH pairs AS (SELECT DISTINCT
         |  'O' || CAST(l_orderkey AS VARCHAR) AS o,
         |  'S' || CAST(l_suppkey AS VARCHAR) AS p FROM lineitem),
         |e AS (SELECT o AS src, p AS dst FROM pairs
         |  UNION ALL SELECT p, o FROM pairs),
         |seeds AS (SELECT DISTINCT 'S' || CAST(l_suppkey AS VARCHAR)
         |  AS node FROM lineitem WHERE l_suppkey % 10 = 0),
         |nodes AS (SELECT n.node,
         |  CASE WHEN s.node IS NOT NULL THEN CAST(1.0 AS DOUBLE)
         |       ELSE CAST(0.0 AS DOUBLE) END AS r
         |  FROM (SELECT src AS node FROM e
         |    UNION SELECT dst FROM e) n
         |  LEFT JOIN seeds s ON n.node = s.node),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         |pr0 AS (SELECT node, r, r AS pr FROM nodes),
         |${personalizedPrIterCtesSql(3, "e")}
         |SELECT node, round(pr, 6) AS pagerank FROM pr3""".stripMargin,

    "q_inverted_index" ->
      """WITH tk AS (SELECT doc_id, unnest(list_filter(
        |  string_split_regex(text, '\s+'), x -> len(x) > 0)) AS token
        | FROM documents),
        |toks AS (SELECT DISTINCT doc_id, token FROM tk),
        |p AS (SELECT token, doc_id % 8 AS block,
        |  count(*) AS n_docs,
        |  array_to_string(list_sort(list(doc_id)), ',') AS postings
        | FROM toks GROUP BY 1, 2),
        |d AS (SELECT token, CAST(sum(n_docs) AS BIGINT) AS df FROM p
        | GROUP BY 1)
        |SELECT p.token, p.block, d.df, p.n_docs, p.postings
        |FROM p JOIN d USING (token) WHERE d.df >= 5""".stripMargin,

    // rank semantics: value at 1-based rank ceil(q*n) of the ascending
    // sort; row_number ties are harmless (equal values at equal ranks)
    "q_rank_select" ->
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
        .stripMargin,

    // interval semantics: the row whose (cum−w, cum] catches q·W;
    // tie rows share the value so the window's tie order is harmless
    "q_rank_select_weighted" ->
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
        .stripMargin,

    // the deterministic md5 bottom-k sample is replayed literally
    // (ORDER BY hash LIMIT k), then the same rank arithmetic as
    // q_rank_select over the ≤k sampled rows
    "q_sample_quantiles" ->
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
        .stripMargin,

    // per-language replay of the deterministic bottom-64 sample; the
    // sample is data-determined, so even the approximate regime (en
    // has > 64 docs) hash-matches
    "q_sample_quantiles_by_lang" ->
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
        .stripMargin,

    // exact regime (16 counters ≥ 5 distinct priorities): the MG
    // summary equals the plain per-group counts
    "q_freq_items" ->
      """SELECT o_orderstatus, CAST(o_orderpriority AS VARCHAR) AS item,
        | count(*) AS cnt
        |FROM orders
        |WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,

    // boundary i = value at rank ceil((i/8)*n); bin = 1 + #boundaries
    // strictly below the value (ties stable by construction)
    "q_equidepth" ->
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
        |FROM a GROUP BY 1""".stripMargin,

    // the CC-closure oracle's pair CTEs + a 3-round unrolled decimal
    // PageRank + per-component argmax (pr desc, id asc)
    "q_dup_representatives" ->
      s"""WITH RECURSIVE $nearDupCorpusSql,
         |${shingleCteSql(5, "docs")},
         |pairs AS (
         | SELECT a.doc_id AS u, b.doc_id AS v
         | FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         | WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |   (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
         |   >= 0.5),
         |edges AS (SELECT u AS src, v AS dst FROM pairs
         |  UNION ALL SELECT v, u FROM pairs),
         |-- DISTINCT subquery, not a bare UNION: under WITH RECURSIVE
         |-- the engine leaves this UNION undeduplicated, and duplicate
         |-- node rows would multiply PageRank mass every iteration
         |nodes AS (SELECT DISTINCT node FROM (
         |  SELECT src AS node FROM edges
         |  UNION ALL SELECT dst FROM edges) t),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |pr0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS pr FROM nodes),
         |${pageRankIterCtesSql(3, "edges")},
         |reach(id, r) AS (
         | SELECT DISTINCT src, src FROM edges
         | UNION
         | SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         |j AS (SELECT c.component, c.id AS doc_id,
         |  round(p.pr, 6) AS pagerank
         | FROM comp c JOIN pr3 p ON p.node = CAST(c.id AS VARCHAR))
         |SELECT component, n_members, representative, pagerank FROM (
         | SELECT component, doc_id AS representative, pagerank,
         |  count(*) OVER (PARTITION BY component) AS n_members,
         |  row_number() OVER (PARTITION BY component
         |   ORDER BY pagerank DESC, doc_id ASC) AS rn
         | FROM j) t WHERE rn = 1""".stripMargin,

    // the GD fit unrolled: per step, one decimal gradient sum per
    // weight, then the same round(w - lr*round(sum/n,12), 12) driver
    // arithmetic — weights bit-identical at every step
    "q_linear_fit" ->
      s"""WITH $linearFitCtes
         |SELECT * FROM (
         | SELECT 'bias' AS feature, wb AS weight FROM w3
         | UNION ALL SELECT 'x_tokens', w1 FROM w3
         | UNION ALL SELECT 'x_chars', w2 FROM w3) t""".stripMargin,

    // score with the TRAINED weights (bit-identical to the fit
    // oracle's w3 row) and keep the docs above the corpus-mean score
    // — train-then-serve in one statement
    "q_trained_gate" ->
      s"""WITH $linearFitCtes,
         |sc AS (SELECT f.doc_id,
         |  round(w.wb + w.w1 * f.x1 + w.w2 * f.x2, 6) AS score
         | FROM f2 f CROSS JOIN w3 w),
         |m AS (SELECT round(CAST(sum(CAST(score AS DECIMAL(38,6)))
         |    AS DOUBLE) / count(*), 6) AS m FROM sc)
         |SELECT sc.doc_id, sc.score FROM sc CROSS JOIN m
         |WHERE sc.score > m.m""".stripMargin,

    "q_shuffle_order" ->
      """SELECT doc_id, row_number() OVER (
        | ORDER BY md5('shuf:epoch1:' || CAST(doc_id AS VARCHAR))) AS pos
        |FROM documents WHERE doc_id IS NOT NULL""".stripMargin,

    // shuffle rank + exclusive prefix sum of token counts in that
    // order, floor-divided into 4096-token sequences
    "q_epoch_pack" ->
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
        |FROM o""".stripMargin,

    // the hashing trick replayed: md5 bucket, decimal tf-idf sums,
    // one sqrt, 6dp components
    "q_hashed_embedding" ->
      s"""WITH ${hashedEmbeddingCteSql("documents", 16)}
         |SELECT doc_id, k, v FROM unit""".stripMargin,

    // hashed-embedding similarity replayed: same chain over the
    // injected corpus's probe subset, then exact pairwise decimal dot
    // products
    "q_hashed_neardup" ->
      s"""WITH $nearDupCorpusSql,
         |sub AS (SELECT * FROM docs
         | WHERE doc_id < 600 OR doc_id >= 1000000),
         |${hashedEmbeddingCteSql("sub", 16)}
         |SELECT id_a, id_b, cosine FROM (
         | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  round(CAST(sum(CAST(round(a.v * b.v, 12) AS DECIMAL(38,12)))
         |    AS DOUBLE), 6) AS cosine
         | FROM unit a JOIN unit b
         |  ON a.k = b.k AND a.doc_id < b.doc_id
         | GROUP BY 1, 2) t
         |WHERE cosine >= 0.95""".stripMargin
  )

  /** Frozen-en-LM per-document surprisal oracle chain ending in CTE
    * `sref` (doc_id, n_tokens, surprisal_ref) — ONE definition shared
    * by `q_surprisal_ref` and the domain-reweighting composition.
    */
  private val surprisalRefCteSql: String =
    """toks AS (SELECT doc_id, unnest(list_filter(
      |  string_split_regex(text, '\s+'), x -> len(x) > 0)) AS token
      |  FROM documents),
      |m AS (SELECT token, count(*) AS c
      |  FROM (SELECT unnest(list_filter(
      |    string_split_regex(text, '\s+'), x -> len(x) > 0)) AS token
      |    FROM documents WHERE lang = 'en')
      |  GROUP BY token),
      |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n,
      |  CAST(count(*) AS DOUBLE) AS v FROM m),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
      |  GROUP BY doc_id, token),
      |sref AS (SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
      | round(-sum(tf.tf * ln((COALESCE(m.c, 0) + 1.0) /
      |   (tot.n + tot.v))) / CAST(sum(tf.tf) AS DOUBLE), 6)
      |   AS surprisal_ref
      |FROM tf LEFT JOIN m USING (token) CROSS JOIN tot
      |GROUP BY tf.doc_id)""".stripMargin

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

  /** Unrolled decimal-PageRank iteration CTEs pr1..pr`iters` over
    * `edgeTable` (src, dst), assuming CTEs `nodes`, `deg` and `pr0`
    * are already defined — ONE definition of the
    * round/decimal-sum/round contribution chain for every oracle
    * replaying [[operators.Behavior.pageRank]].
    */
  /** [[pageRankIterCtesSql]] with the restart mass on a seed column:
    * expects a `nodes` CTE carrying (node, r) with r ∈ {0.0, 1.0} and
    * a `pr0` CTE of (node, pr = r). Same interpolated exact doubles.
    */
  private def personalizedPrIterCtesSql(iters: Int,
      edgeTable: String): String = {
    val d = 0.85
    val teleport = 1.0 - d
    (1 to iters).map { i =>
      s"""pr$i AS (SELECT n.node, n.r,
         | round(CAST($teleport AS DOUBLE) * n.r + CAST($d AS DOUBLE) *
         |   COALESCE(CAST(c.m AS DOUBLE), 0.0), 12) AS pr
         | FROM nodes n LEFT JOIN (
         |  SELECT e.dst AS node,
         |    sum(CAST(round(p.pr / g.deg, 12) AS DECIMAL(38,12))) AS m
         |  FROM $edgeTable e JOIN pr${i - 1} p ON e.src = p.node
         |   JOIN deg g ON e.src = g.src
         |  GROUP BY e.dst) c ON n.node = c.node)""".stripMargin
    }.mkString(",\n")
  }

  private def pageRankIterCtesSql(iters: Int, edgeTable: String): String = {
    val d = 0.85
    val teleport = 1.0 - d // interpolated so both engines parse the
                           // exact double (0.15000000000000002)
    (1 to iters).map { i =>
      s"""pr$i AS (SELECT n.node,
         | round(CAST($teleport AS DOUBLE) + CAST($d AS DOUBLE) *
         |   COALESCE(CAST(c.m AS DOUBLE), 0.0), 12) AS pr
         | FROM nodes n LEFT JOIN (
         |  SELECT e.dst AS node,
         |    sum(CAST(round(p.pr / g.deg, 12) AS DECIMAL(38,12))) AS m
         |  FROM $edgeTable e JOIN pr${i - 1} p ON e.src = p.node
         |   JOIN deg g ON e.src = g.src
         |  GROUP BY e.dst) c ON n.node = c.node)""".stripMargin
    }.mkString(",\n")
  }

  /** Hashed-tfidf-embedding oracle chain over source relation `src`
    * (must have doc_id, text): CTEs toks → tf → df → n → g → ks →
    * vec → nrm → unit, where `unit` is the L2-normalized
    * (doc_id, k, v) row form — ONE definition for every query that
    * replays [[operators.TextOps.hashedTfidfEmbedding]], the
    * [[shingleCteSql]] convention.
    */
  private def hashedEmbeddingCteSql(src: String, dim: Int): String =
    s"""toks AS (
       | SELECT doc_id, unnest(list_filter(
       |   string_split_regex(text, '\\s+'), x -> len(x) > 0)) AS token
       | FROM $src),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
       |  GROUP BY doc_id, token),
       |df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tf
       |  GROUP BY token),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM $src),
       |g AS (SELECT tf.doc_id,
       |  CAST('0x' || substring(md5(tf.token), 1, 8) AS BIGINT) % $dim
       |    AS b,
       |  CAST(sum(CAST(round(CAST(tf.tf AS DOUBLE)
       |      * round(ln(n.n / df.df), 6), 6)
       |    AS DECIMAL(38,6))) AS DOUBLE) AS v
       | FROM tf JOIN df USING (token) CROSS JOIN n
       | GROUP BY 1, 2),
       |ks AS (SELECT d.doc_id, CAST(s.k AS BIGINT) AS k
       | FROM (SELECT DISTINCT doc_id FROM tf) d
       |  CROSS JOIN generate_series(0, ${dim - 1}) s(k)),
       |vec AS (SELECT ks.doc_id, ks.k, COALESCE(g.v, 0.0) AS v
       | FROM ks LEFT JOIN g ON g.doc_id = ks.doc_id AND g.b = ks.k),
       |nrm AS (SELECT doc_id,
       |  round(sqrt(CAST(sum(CAST(round(v * v, 12) AS DECIMAL(38,12)))
       |    AS DOUBLE)), 6) AS nrm
       | FROM vec GROUP BY doc_id),
       |unit AS (SELECT vec.doc_id, vec.k,
       |  CASE WHEN nrm.nrm > 0 THEN round(vec.v / nrm.nrm, 6)
       |   ELSE 0.0 END AS v
       | FROM vec JOIN nrm USING (doc_id))""".stripMargin

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
}
