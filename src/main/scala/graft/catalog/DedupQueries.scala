package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TextOps}
import graft.sources.Tables

import Fragments.{nearDupCorpus, nearDupCorpusSql, shingleSql, shingleCteSql,
  nearDupPairsShared, pageRankIterCtesSql}

/** Deduplication queries ([[operators.Dedup]]): exact, line, substring,
  * boilerplate, minhash/simhash, semantic and embedding near-dups,
  * entity resolution, decontamination and their incremental forms.
  */
object DedupQueries {

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

  /** Repeated-span table of [[substrCorpus]], computed ONCE per
    * (session, dir) and shared by `q_repeated_spans` /
    * `q_substring_dedup` — the corpus-wide window pass is the
    * expensive step, and production stages its output per corpus
    * version exactly like the minhash pair table
    * ([[Fragments.nearDupPairsShared]]). Eager localCheckpoint = the
    * staging holds materialized data, not a plan to re-execute per
    * consumer.
    */
  private def repeatedSpansShared(s: SparkSession, dir: String): DataFrame =
    Staged(s, "repeated_spans", dir)(
      Dedup.repeatedSpans(substrCorpus(s, dir), "doc_id", "text", k = 8)
        .localCheckpoint(true))

  /** SemDeDup verified pairs per (session, dir), shared by
    * `q_semdedup_pairs` / `q_semdedup` — the same staged-pair pattern
    * as [[Fragments.nearDupPairsShared]] / [[repeatedSpansShared]]: the
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

  /** The oracled and bench-only queries, then the forced-distributed
    * twins (see [[Query.distTwins]]). */
  lazy val all: Seq[Query] = queries ++ Query.distTwins(queries)(
    "q_minhash_dedup_cc" -> ((s, dir) =>
      Dedup.dedupByComponents(nearDupCorpus(s, dir), "doc_id",
          nearDupPairsShared(s, dir), localMaxEdges = 0)
        .select(col("doc_id")))
  )

  private lazy val queries: Seq[Query] = Seq(
    // benchmark decontamination: docs sharing any distinct 3-shingle
    // with the eval subset (doc_id % 97 = 0) get flagged; eval shingle
    // set broadcasts, corpus text never shuffles
    // decontamination oracle: shared shingle definition at k=3; hit
    // count = distinct doc shingles present in the eval shingle set
    Query("q_decontaminate", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val evalSet = docs.filter(col("doc_id") % 97 === 0)
      Dedup.contaminationReport(docs, evalSet, "doc_id", "text", k = 3)
    }, oracle = {
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
    }),

    // decontamination scale path: Bloom-sketch prefilter (codegen
    // might_contain at scan speed) + exact semi-join verify of the
    // sketch survivors — output identical to the broadcast-set form,
    // proven by an exact oracle; the corpus side never broadcasts or
    // shuffles more than the sketch hits
    // the Bloom path is exact after its verify step, so the oracle is
    // the same exact-overlap relation — false positives surviving to
    // the output would hash-mismatch here
    Query("q_decontaminate_bloom", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val evalSet = docs.filter(col("doc_id") % 89 === 0)
      Dedup.contaminationReportBloom(docs, evalSet, "doc_id", "text", k = 3)
    }, oracle = {
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
    }),

    // SEMANTIC decontamination: the embedding-space pass n-gram
    // overlap can't see — corpus vectors within cosine 0.3 of any
    // frozen benchmark vector (vec_id < 50, broadcast) are dropped;
    // cosines stay map-side (fused kernel), only contaminated ids
    // shuffle
    Query("q_decontaminate_semantic", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.semanticDecontaminate(
        emb.filter(col("vec_id") >= 50),
        emb.filter(col("vec_id") < 50),
        "vec_id", "embedding", threshold = 0.3)
        .select(col("vec_id"), col("label").cast("long").as("label"))
    }, oracle =
      // semantic decontamination oracle: same double cosine (sequential
      // list_sum over DOUBLE[] casts, zero-norm -> 0) as the engine's
      // fused kernel — the q_semdedup threshold-parity contract — over
      // the corpus x benchmark cross product
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
        |  AND vec_id NOT IN (SELECT vec_id FROM bad)""".stripMargin),

    // URL-level exact dedup (C4's one-page-one-document rule):
    // scheme/www/tracking-param/fragment variants of the same page —
    // injected deterministically per doc_id — collapse to one
    // canonical form; one survivor (min doc_id) per canonical URL
    // URL-dedup oracle: the same injected URL variants and the same
    // canonicalization regexp passes in the same order (RE2-safe,
    // no group refs), then min-doc_id per canonical form
    Query("q_url_dedup", (s, dir) => {
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
    }, oracle = {
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
    }),

    // corpus-level line dedup: injected boilerplate lines (every doc
    // gets a header, every 3rd a footer) occur in >10 docs and are
    // removed; each doc's own body line survives in place
    // line-dedup oracle: zipped parallel unnests give (pos, line);
    // occurrence count per md5(line), rebuild with ORDER BY pos
    Query("q_dedup_lines", (s, dir) => {
      val corpus = Tables.documents(s, dir).select(col("doc_id"),
        concat(lit("subscribe to our newsletter\n"), col("text"),
          when(col("doc_id") % 3 === 0, lit("\nthis site uses cookies"))
            .otherwise(lit(""))).as("text"))
      Dedup.dedupCorpusLines(corpus, "doc_id", "text",
        maxOccurrences = 10L)
    }, oracle = {
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
    }),

    // DOMAIN-scoped boilerplate removal (the CCNet template scrubber,
    // relative-threshold sibling of q_dedup_lines): every doc gets its
    // source's own banner line (100% of the domain -> killed), every
    // 4th doc a per-source promo line (~25% < 50% threshold -> kept),
    // and the body line is unique per doc (kept)
    Query("q_boilerplate", (s, dir) =>
      Dedup.stripDomainBoilerplate(boilerCorpus(s, dir), "doc_id",
        "source", "text", minDomainDocs = 5L, minFraction = 0.5), oracle =
      // domain-scoped boilerplate oracle: per-(source, line) doc counts
      // against per-source doc totals at the exact integer ppm
      // threshold the engine uses (n * 10^6 >= ceil(f * 10^6) * dn)
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
         |JOIN total t ON c.doc_id = t.doc_id""".stripMargin),

    // the SERVING arm (frozen-artifact convention — staged bands /
    // frozen BPE / staged spans / ER registry): a fresh tick of docs
    // scrubs against the corpus version's STAGED kill list without
    // recounting domains. Known-domain banners are killed by the
    // frozen list; sub-threshold promos survive; docs from a domain
    // the staging never saw ('freshsource', every 7th) pass through
    // untouched via the same anti-join
    Query("q_boilerplate_incremental", (s, dir) => {
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
    }, oracle =
      // serving-arm oracle: the kill list is replayed over the HISTORY
      // corpus only (exactly what the staging froze), then the batch is
      // scrubbed against it — batch lines never feed the counts
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
         |JOIN total t ON c.doc_id = t.doc_id""".stripMargin),

    // corpus-wide exact substring dedup (Lee et al. 2022 suffix-array
    // pass, relational form): every 5th doc carries a shared 13-token
    // boilerplate tail, so its 8-token windows repeat corpus-wide;
    // every occurrence except the globally first is masked, and
    // overlapping masked windows merge into one maximal span per doc.
    // Both queries read the shared per-(session, dir) span staging —
    // the production mode, where the corpus-wide pass is paid once
    Query("q_repeated_spans", (s, dir) => repeatedSpansShared(s, dir), oracle =
      // substring-dedup oracle: 8-token windows hashed per position
      // (1-based inclusive list slice), first occurrence = min packed
      // (doc*2^21 + pos) key exactly as the operator computes it, then
      // the same gaps-and-islands merge
      s"""WITH $substrCorpusSql,
         |$substrSpanSql
         |SELECT doc_id, min(pos) AS span_start, max(pos) + 8 AS span_end
         |FROM grp GROUP BY doc_id, island""".stripMargin),

    // the applied form: the same spans cut out of the text, remaining
    // tokens rejoined — whole-corpus repeated boilerplate survives
    // exactly once, in its min-(doc, pos) occurrence
    Query("q_substring_dedup", (s, dir) =>
      Dedup.substringDedupBySpans(substrCorpus(s, dir), "doc_id", "text",
        k = 8, repeatedSpansShared(s, dir)), oracle =
      // applied form: zipped parallel unnests give (i, token); tokens
      // inside any merged span are dropped, the rest rejoin by ' '
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
         |GROUP BY c.doc_id""".stripMargin),

    // the curation SIGNAL form (RefinedWeb/Gopher duplicate-text
    // fraction): per doc, tokens inside merged repeated spans over
    // total tokens — the number a quality gate thresholds on; same
    // shared span staging, one more narrow join
    Query("q_dup_text_fraction", (s, dir) => {
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
    }, oracle =
      // duplicate-text fraction — the RefinedWeb/Gopher curation gate's
      // signal: per doc, tokens inside corpus-repeated merged spans over
      // total tokens (docs with no repeated span read 0)
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
         |FROM tok t LEFT JOIN dupt d USING (doc_id)""".stripMargin),

    Query("q_dedup_exact", (s, dir) => {
      Tables.documents(s, dir)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n"))
        .select("doc_id", "n")
    }, oracle =
      """SELECT min(doc_id) AS doc_id, count(*) AS n
        |FROM documents GROUP BY text""".stripMargin),

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
    // md5-based simhash replayed step by step: token explode, leading-
    // 60-bit hash (first 15 hex chars), per-bit ±1 multiset votes,
    // strictly-positive majority packs the bit
    Query("q_simhash_md5", (s, dir) => {
      Dedup.simhash60Portable(Tables.documents(s, dir), "doc_id", "text")
    }, oracle = {
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
    }),

    // oracle-checkable minhash signature: md5 base hash + affine
    // permutations mod 2^31-1, minima per permutation
    Query("q_minhash_sig_md5", (s, dir) => {
      Dedup.minhashSignaturePortable(Tables.documents(s, dir), "doc_id",
        "text", shingleK = 5, numHashes = 32)
    }, oracle =
      // shared shingle CTE (list_distinct is harmless: the minimum over
      // a multiset equals the minimum over its support), leading-32-bit
      // md5 base hash, 32 affine permutations replayed per shingle
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
         |GROUP BY doc_id, p.i""".stripMargin),

    Query("q_minhash_pairs", (s, dir) => {
      // raw corpus has no near-dups; the injected-near-dup corpus makes
      // the operator's full path (sig -> bands -> bucket join ->
      // verify) run and return rows. 32 bands × 2 rows: candidate
      // probability at jaccard 0.5 is 1-(1-0.25)^32 ≈ 0.9999, so the
      // verified output equals the exact all-pairs oracle on this
      // corpus (exactness asserted by the DuckDB brute-force oracle).
      nearDupPairsShared(s, dir)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    }, oracle =
      // exact all-pairs 5-shingle Jaccard (brute force is feasible at the
      // verify SF): proves the LSH candidate generation misses nothing on
      // this corpus AND the verification step admits nothing below
      // threshold — precision and recall both 1.0 against ground truth.
      // Shingle semantics mirror graft.functions.Shingles: whitespace
      // tokens, k-grams joined by ' ', <k tokens => one all-token shingle,
      // empty => [''].
      s"""WITH $nearDupCorpusSql,
         |${shingleCteSql(5, "docs")}
         |SELECT id_a, id_b, round(jaccard, 4) AS jaccard FROM (
         | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |   (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
         |   AS jaccard
         | FROM sh a JOIN sh b ON a.doc_id < b.doc_id) p
         |WHERE jaccard >= 0.5""".stripMargin),

    // exact variant (q_knn_ivf_full pattern): planes = 0 degenerates
    // the LSH bucket join to a provably lossless all-pairs candidate
    // set, so the exact-cosine verification step — the part that
    // decides pair membership — is hash-proven end to end (the
    // planes > 0 query above measures the real scale path)
    Query("q_neardup_embedding_full", (s, dir) => {
      Dedup.embeddingNearDupPairs(Tables.embeddings(s, dir), "vec_id",
          "embedding", threshold = 0.2, planes = 0)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
    }, oracle =
      // all-pairs exact-cosine near-dup membership: the DuckDB side
      // mirrors the engine's CosineSimilarity loop exactly — sequential
      // double accumulation in element order, dot / (sqrt(na) * sqrt(nb))
      // — so the rounded score and the 0.2 boundary membership both
      // hash-match
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
        |FROM p WHERE dot / (na * nb) >= 0.2""".stripMargin),

    // SemDeDup: cluster-scoped exact-cosine pairs (assignment to the
    // deterministic 8-centroid seed is part of what the oracle
    // replays — argmax cosine with ties to the lowest centroid index).
    // Both queries read the shared per-(session, dir) pair staging
    Query("q_semdedup_pairs", (s, dir) => {
      semdedupPairsShared(s, dir)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
    }, oracle =
      // SemDeDup oracles: the centroid seed (8 lowest-id vectors), the
      // argmax-cosine assignment (ties to the lowest centroid index —
      // CentroidTopIds' strict-> scan), and the within-cluster exact
      // pair cosines are all replayed in SQL
      s"""WITH $semdedupAsgSql
         |SELECT id_a, id_b, round(cosine, 4) AS cosine
         |FROM p WHERE cosine >= 0.2""".stripMargin),

    // the curation step: survivors after greedy min-id semantic dedup
    Query("q_semdedup", (s, dir) => {
      Dedup.dedupGreedyByPairs(Tables.embeddings(s, dir), "vec_id",
          semdedupPairsShared(s, dir))
        .select(col("vec_id"))
    }, oracle =
      s"""WITH $semdedupAsgSql
         |SELECT vec_id FROM embeddings WHERE vec_id NOT IN
         |  (SELECT id_b FROM p WHERE cosine >= 0.2)""".stripMargin),

    // end-to-end near-dup REMOVAL (the corpus-level generalization of
    // the reference's dedup-by-content): survivors = corpus minus
    // higher-id members of verified near-dup pairs. Same injected
    // near-dup corpus as q_minhash_pairs, so the exact all-pairs
    // Jaccard oracle determines the surviving id set exactly.
    Query("q_minhash_dedup", (s, dir) => {
      Dedup.dedupGreedyByPairs(nearDupCorpus(s, dir), "doc_id",
          nearDupPairsShared(s, dir))
        .select(col("doc_id"))
    }, oracle =
      // survivors = corpus \ higher-id members of exact near-dup pairs
      s"""WITH $nearDupCorpusSql,
         |${shingleCteSql(5, "docs")},
         |losers AS (
         | SELECT DISTINCT b.doc_id AS doc_id
         | FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         | WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |   (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
         |   >= 0.5)
         |SELECT d.doc_id FROM docs d
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin),

    // incremental near-dup: the history corpus's band keys come from
    // the staged parquet (written once per dir by stagedHistoryBands);
    // the batch — suffix-edited copies of the first 20 docs — probes
    // those buckets without re-hashing a single history document. Same
    // lossless band config as q_minhash_pairs, so the exact
    // touching-the-batch oracle pins the output.
    Query("q_minhash_incremental", (s, dir) => {
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
    }, oracle =
      // incremental probe ground truth: exact all-pairs Jaccard on the
      // same corpus, restricted to pairs TOUCHING the new batch (ids
      // >= 1000000) — pairs wholly inside staged history were reported
      // when their batches arrived and must not reappear
      s"""WITH $nearDupCorpusSql,
         |${shingleCteSql(5, "docs")}
         |SELECT id_a, id_b, round(jaccard, 4) AS jaccard FROM (
         | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |   (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
         |   AS jaccard
         | FROM sh a JOIN sh b ON a.doc_id < b.doc_id) p
         |WHERE jaccard >= 0.5
         |  AND (id_a >= 1000000 OR id_b >= 1000000)""".stripMargin),

    // incremental substring dedup (the streaming twin's batch body):
    // a synthetic batch — novel 4-token heads prepended to the first
    // 20 history texts — probes the STAGED span hashes; every window
    // already present in the staged corpus is cut, so each batch doc
    // keeps its novel head (and any sub-8-token body). With batch ids
    // after all history ids this equals the full repeatedSpans pass
    // over (corpus ∪ batch) restricted to batch ids — which is
    // exactly what the oracle computes.
    Query("q_substring_incremental", (s, dir) => {
      val batch = Tables.documents(s, dir).filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("batch item "), col("doc_id").cast("string"),
            lit(" says "), col("text")).as("text"))
      Dedup.substringDedupIncremental(batch, "doc_id", "text", 8,
        stagedSpanHashes(s, dir))
    }, oracle =
      // incremental oracle = the full pass over (corpus ∪ batch)
      // restricted to batch ids: with every batch id after every
      // history id, first occurrences stay in history, so the full-pass
      // mask equals the staged-probe mask by construction
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
         |GROUP BY c.doc_id""".stripMargin),

    // transitive-closure survivor rule: min-id representative per
    // connected component of the verified pair graph (the
    // corpus-curation semantics; the greedy rule above can keep chain
    // members whose only neighbors were themselves dropped). Oracle =
    // DuckDB recursive CTE computing the same closure.
    Query("q_minhash_dedup_cc", (s, dir) => {
      Dedup.dedupByComponents(nearDupCorpus(s, dir), "doc_id",
          nearDupPairsShared(s, dir))
        .select(col("doc_id"))
    }, oracle =
      // closure dedup: min-id representative per connected component of
      // the exact verified pair graph, via recursive min-propagation
      // (reach holds every (node, reachable-label) pair; components here
      // are small dup clusters, so the closure is tiny)
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
         |  WHERE c.id = d.doc_id AND c.component <> d.doc_id)""".stripMargin),

    // curation audit: the dup-CLUSTER size histogram over the verified
    // near-dup graph — how much duplicate mass sits in big boilerplate
    // components vs simple pairs; composed from the shared pair
    // staging + the CC closure
    Query("q_dup_clusters", (s, dir) => {
      Dedup.connectedComponents(nearDupPairsShared(s, dir))
        .groupBy(col("component")).agg(count(lit(1)).as("size"))
        .groupBy(col("size")).agg(count(lit(1)).as("n_clusters"))
    }, oracle =
      // cluster-size histogram over the same exact closure
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
         |GROUP BY size""".stripMargin),

    // the exact pairwise verifier standalone: explicit (consecutive-id)
    // pair list, 3-shingle set Jaccard — fully ANSI-expressible, so the
    // verification arithmetic shared by the whole near-dup family gets
    // its own hash-matched row
    Query("q_ngram_jaccard", (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val pairs = docs.filter(col("doc_id") < 30)
        .select(col("doc_id").as("id_a"),
          (col("doc_id") + 1).as("id_b"))
      Dedup.ngramJaccard(pairs, docs, "doc_id", "text", k = 3)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 4).as("jaccard"))
    }, oracle =
      // 3-shingle set Jaccard over explicit consecutive-id pairs; shingle
      // semantics mirror graft.functions.Shingles (see q_minhash_pairs)
      s"""WITH ${shingleCteSql(3, "documents")}
         |SELECT p.id_a, p.id_b,
         | round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |  (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4)
         |  AS jaccard
         |FROM (SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents
         |  WHERE doc_id < 30) p
         |JOIN sh a ON a.doc_id = p.id_a
         |JOIN sh b ON b.doc_id = p.id_b""".stripMargin),

    // content-defined chunking (window 8, divisor 16): boundaries
    // where the md5 of the 8-char context hits 0 mod 16, so shared
    // regions chunk identically across documents regardless of
    // offset shifts — chunk hashes are the cross-snapshot shared-
    // region join key
    Query("q_cdc_chunks", (s, dir) => {
      operators.Dedup.cdcChunks(Tables.documents(s, dir), "doc_id",
          "text", window = 8, divisor = 16)
        .select(col("doc_id"), col("chunk_no").cast("long"),
          col("start").cast("long"), col("chunk_len").cast("long"),
          col("chunk_md5"))
    }, oracle =
      // CDC boundaries replayed: candidate positions 2..n-7, boundary
      // iff leading-32-md5-bits of the 8-char window ≡ 0 mod 16; chunk
      // k runs from starts[k] to the next start (or n); md5 per chunk
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
        |FROM c""".stripMargin),

    // CDC shared-region pairs over the injected near-dup corpus: the
    // original and its suffixed copy share every chunk before the
    // suffix despite the edit — the shift-invariant near-dup signal;
    // min 5 shared chunks of >= 4 chars
    Query("q_cdc_shared", (s, dir) => {
      operators.Dedup.cdcSharedRegions(nearDupCorpus(s, dir), "doc_id",
        "text", window = 8, divisor = 16, minShared = 5,
        minChunkLen = 4)
    }, oracle =
      // CDC shared regions replayed: the q_cdc_chunks CTEs over the
      // injected near-dup corpus, distinct (doc, hash), hash self-join,
      // pair counts gated at 5 shared chunks of >= 4 chars
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
         |GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin),

    // exact Jaccard set-similarity join (AllPairs prefix filtering)
    // over 3-SHINGLE sets: probes are appended-junk variants of every
    // 9th document, so each matches (only) its source at J ≈ 0.97.
    // Shingles, not tokens, are the honest workload: the shingle
    // space is vast, so prefixes are genuinely rare and the blocking
    // prunes (the word-salad corpus shares one small vocabulary —
    // token-set similarity there is a quadratic OUTPUT, not a
    // blocking failure). The oracle is the cross product, so
    // losslessness is what hash-matches
    // blocking-free all-pairs ground truth over the shared 3-shingle
    // definition; single-division Jaccard
    Query("q_jaccard_join", (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.shingles(col("text"), 3).as("toks"))
      val probes = Tables.documents(s, dir)
        .filter(col("doc_id") % 9 === 0)
        .select(col("doc_id").as("probe_id"),
          TextOps.shingles(concat(col("text"), lit(" zq xq vq")), 3)
            .as("probe_toks"))
      Dedup.jaccardJoin(docs, probes, "doc_id", "probe_id",
        "toks", "probe_toks", minJaccard = 0.6)
    }, oracle = {
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
    }),

    // edit-distance similarity join (ED-Join prefix filtering over
    // globally-ordered q-grams): parts fuzzy-matched against typo'd
    // variants within 1 edit — candidate generation is a rare-gram
    // hash equi-join, never a cross product; the oracle IS the cross
    // product, proving the blocking lossless
    Query("q_fuzzy_join", (s, dir) => {
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
    }, oracle =
      // brute-force all-pairs levenshtein — the blocking-free ground
      // truth the prefix-filtered join must reproduce exactly
      """WITH v AS (
        | SELECT p_partkey AS variant_id,
        |  substr(p_name, 1, 2) || 'q' || substr(p_name, 4) AS v_name
        | FROM part WHERE p_partkey % 10 = 0)
        |SELECT p.p_partkey AS part_id, v.variant_id,
        | CAST(levenshtein(p.p_name, v.v_name) AS BIGINT) AS dist
        |FROM part p CROSS JOIN v
        |WHERE abs(length(p.p_name) - length(v.v_name)) <= 1
        |  AND levenshtein(p.p_name, v.v_name) <= 1""".stripMargin),

    // entity resolution: the record-linkage capstone — parts plus a
    // typo'd twin of every 10th resolve into entities via the fuzzy
    // self-join (prefix-filtered blocking) and FastSV transitive
    // closure; the oracle's cross-product + recursive closure proves
    // BOTH stages lossless at once
    Query("q_entity_resolution", (s, dir) => {
      val base = Tables.part(s, dir)
        .select(col("p_partkey").as("rec_id"), col("p_name").as("name"))
      val twins = Tables.part(s, dir)
        .filter(col("p_partkey") % 10 === 0)
        .select((col("p_partkey") + 10000000L).as("rec_id"),
          concat(substring(col("p_name"), 1, 2), lit("q"),
            substring(col("p_name"), 4, 10000)).as("name"))
      Dedup.resolveEntities(base.unionByName(twins), "rec_id", "name",
        maxDist = 1, q = 3)
    }, oracle =
      // ER oracle: exact cross-product match graph + recursive min-label
      // closure (the q_minhash_dedup_cc reach idiom); unmatched records
      // resolve to themselves
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
        |FROM recs r LEFT JOIN comp c ON r.rec_id = c.id""".stripMargin),

    // incremental entity assignment — the serving arm of the staged
    // family (staged bands / frozen BPE / staged spans): a batch of
    // typo'd newcomers plus genuinely novel names assigns against the
    // FROZEN resolved registry; matches take the registry's min
    // entity within 1 edit, novel names become provisional entities
    // (min batch id per exact string), no batch-internal fuzzy links
    Query("q_entity_resolution_incremental", (s, dir) => {
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
    }, oracle =
      // serving oracle: the ER closure CTEs rebuild the frozen registry,
      // the batch cross-joins it under the same levenshtein predicate,
      // min entity per batch name; unmatched names fall back to the
      // batch's min id for that exact string
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
        |JOIN fb ON b.name = fb.name""".stripMargin),

    // centrality-based dup-cluster representatives: the survivor
    // policy between greedy min-id and full closure — keep each
    // component's most CENTRAL member (the best-connected, least
    // fringe duplicate; Lee et al. keep-first is arbitrary under
    // crawl reordering, centrality is not). Composes the shared
    // verified pair table → 3-round decimal PageRank on the dup graph
    // → CC labels → per-component argmax (pr desc, id asc)
    Query("q_dup_representatives", (s, dir) => {
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
    }, oracle =
      // the CC-closure oracle's pair CTEs + a 3-round unrolled decimal
      // PageRank + per-component argmax (pr desc, id asc)
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
         | FROM j) t WHERE rn = 1""".stripMargin),

    Query.benchOnly("q_neardup_embedding", (s, dir) => {
      Dedup.embeddingNearDupPairs(Tables.embeddings(s, dir), "vec_id",
          "embedding", threshold = 0.2, planes = 4)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
    })
  )
}
