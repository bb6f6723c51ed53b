package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions
import graft.operators.{Dedup, TextOps}
import graft.sources.Tables

import Fragments.{dsum, nearDupCorpus, nearDupCorpusSql, shingleSql,
  shingleCteSql}

/** Text queries ([[operators.TextOps]]): document statistics, quality
  * and language gates, tokenizers, surprisal, BM25, DSIR, PII
  * redaction, hashed embeddings and the composed curation pipelines.
  */
object TextQueries {

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

  private val enStop = TextOps.langProfiles("en")

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

  /** Hashed-tfidf-embedding oracle chain over source relation `src`
    * (must have doc_id, text): CTEs toks → tf → df → n → g → ks →
    * vec → nrm → unit, where `unit` is the L2-normalized
    * (doc_id, k, v) row form — ONE definition for every query that
    * replays [[operators.TextOps.hashedTfidfEmbedding]], the
    * [[Fragments.shingleCteSql]] convention.
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

  lazy val all: Seq[Query] = Seq(
    // corpus-wide heavy hitters: top word-3-grams by document
    // frequency — partial+final agg, TakeOrderedAndProject top-N
    Query("q_top_ngrams", (s, dir) => {
      operators.TextOps.topNgrams(
        Tables.documents(s, dir), "text", k = 3, topN = 50)
    }, oracle = {
      s"""WITH ${shingleCteSql(3, "documents")},
         |dg AS (SELECT doc_id, unnest(sh) AS gram FROM sh)
         |SELECT gram, count(*) AS n_docs FROM dg GROUP BY gram
         |ORDER BY n_docs DESC, gram ASC LIMIT 50""".stripMargin
    }),

    // C4-style URL/domain filtering: two injected URLs per doc (host
    // varies with doc_id), docs referencing a blocklisted host get
    // flagged; hosts surfaced as a sorted joined string
    // URL-filter oracle: same RE2-safe patterns; hosts via
    // list_transform + regexp_extract group 1
    Query("q_url_filter", (s, dir) => {
      val corpus = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" see https://site"), col("doc_id") % 20,
          lit(".example.com/p?x=1 and http://cdn"), col("doc_id") % 5,
          lit(".example.net/a.js")).as("text"))
      val blocklist = Seq("site3.example.com", "site7.example.com",
        "cdn1.example.net")
      corpus.select(col("doc_id"),
        concat_ws(",", TextOps.hostsOf(col("text"))).as("hosts"),
        TextOps.hasBlockedHost(col("text"), blocklist).as("blocked"))
    }, oracle = {
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
    }),

    // curation v2: the round-3 text ops composed in ONE plan —
    // corpus-level line dedup (boilerplate header/footer) → domain
    // blocklist drop (%11 docs carry a blocked tracker URL) →
    // repetition gate (%13 docs carry 40x spam; top-2-gram coverage
    // > 0.2 rejected) → PII redaction — output fingerprints the
    // surviving redacted text
    // curation v2 oracle: the proven per-op CTEs chained — line-dedup
    // rebuild, host blocklist, repetition gate (rounded like the Spark
    // struct field), then the piiPatterns redaction chain
    Query("q_curation_v2", (s, dir) => curationV2Shared(s, dir),
      oracle = curationV2Sql),

    // unigram-LM surprisal (CCNet's quality signal): mean −ln p(token)
    // per document under the corpus's own unigram model
    Query("q_surprisal", (s, dir) =>
      TextOps.surprisal(Tables.documents(s, dir), "doc_id", "text"),
      oracle = surprisalSql),

    // bigram conditional surprisal: the word-order-aware sibling
    // (add-1 smoothed p(cur|prev) under the corpus's own bigram model)
    Query("q_surprisal_bigram", (s, dir) =>
      TextOps.surprisalBigram(Tables.documents(s, dir), "doc_id", "text"),
      oracle =
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
        |GROUP BY tf.doc_id""".stripMargin),

    // the surprisal head-vocab FLOOR path under test: a deliberately
    // tiny head (64 tokens) so most of the corpus scores through the
    // long-tail floor — the approximation that makes the operator
    // scale-free at 100 TB, oracled exactly (DuckDB replays the same
    // top-64 + floor semantics)
    Query("q_surprisal_head", (s, dir) =>
      TextOps.surprisal(Tables.documents(s, dir), "doc_id", "text",
        headVocab = 64), oracle =
      // head-vocab floor path: DuckDB replays the exact top-64-by-count
      // head (ties broken by token — same deterministic order as the
      // Spark TakeOrdered) with the ln(1)=0 tail floor
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
        |GROUP BY tf.doc_id, n.n""".stripMargin),

    // bigram head/floor path: top-64 pair and context tables, tail
    // pairs priced by the add-1 floor alone
    Query("q_surprisal_bigram_head", (s, dir) =>
      TextOps.surprisalBigram(Tables.documents(s, dir), "doc_id", "text",
        headVocab = 64), oracle =
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
        |GROUP BY tf.doc_id""".stripMargin),

    // PMI collocation mining: top-50 adjacent pairs by pointwise
    // mutual information (min pair count 5 gates the hapax-PMI
    // artifact) — the multiword-expression detector; margins are
    // joins over the pair table, top-k is TakeOrderedAndProject
    Query("q_pmi_collocations", (s, dir) =>
      TextOps.pmiCollocations(Tables.documents(s, dir), "text",
        minCount = 5L, k = 50), oracle =
      // margins and N over the pair table; the a·N/(b·c) double chain
      // mirrors the Spark expression term-for-term before the 6dp round
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
        |ORDER BY pmi DESC, prev, cur LIMIT 50""".stripMargin),

    // RAKE keyphrases: stopword-delimited candidate runs, word score
    // deg/freq rounded to decimal before the phrase sum (order-
    // independent), scoring join explodes only distinct >=5-occurrence
    // phrase texts
    Query("q_rake_keywords", (s, dir) =>
      TextOps.rakeKeywords(Tables.documents(s, dir), "doc_id", "text",
        TextOps.langProfiles("en"), minOcc = 5L, maxWords = 6), oracle =
      // RAKE replayed: same boundary marks, same running-sum phrase
      // numbering, word deg/freq rounded to DECIMAL(28,9) before the
      // order-independent phrase sum
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
        |GROUP BY dpw.phrase, dpw.n_occurrences""".stripMargin),

    // BM25 ranked retrieval: 4-token query probes (every 101st doc's
    // prefix) against the corpus — token equi-join candidates, exact
    // decimal per-(query,doc) sums, bounded topKByScore per query
    // formula replayed operand-for-operand (identical parenthesized
    // double chain before the 12dp round), exact decimal sums, same
    // (score desc, doc asc) tie order at the k-cut
    Query("q_bm25_topk", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val queries = docs.filter(col("doc_id") % 101 === 0)
        .select(col("doc_id").as("query_id"),
          array_join(slice(TextOps.tokens(col("text")), 1, 4), " ")
            .as("qtext"))
      TextOps.bm25SearchTopK(bm25IndexShared(s, dir), queries,
        "query_id", "qtext", k1 = 1.2, b = 0.75, k = 10)
    }, oracle = bm25OracleSql(dfGate = "")),

    // the SCALE path: df-ceiling pruning drops near-zero-idf head
    // terms from candidate generation (df > 79% of the corpus) — the
    // stopword prune every retrieval engine applies, exactly gated on
    // both sides so it stays hash-oracled
    // same chain with the df ceiling applied where the engine applies
    // it: before a term generates candidates
    Query("q_bm25_pruned", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val queries = docs.filter(col("doc_id") % 101 === 0)
        .select(col("doc_id").as("query_id"),
          array_join(slice(TextOps.tokens(col("text")), 1, 4), " ")
            .as("qtext"))
      TextOps.bm25SearchTopK(bm25IndexShared(s, dir), queries,
        "query_id", "qtext", k1 = 1.2, b = 0.75, k = 10,
        maxDfFraction = 0.79)
    }, oracle = bm25OracleSql(
      dfGate = " AND CAST(dft.df AS DOUBLE) <= 0.79 * st.n")),

    // the serving arm: the frozen phrase table applied greedily to
    // every document — row-local, no shuffle, list order = merge
    // order (chained phrases resolve sequentially, deterministic)
    Query("q_phrase_merge", (s, dir) =>
      TextOps.mergePhrases(Tables.documents(s, dir), "doc_id", "text",
        phraseTable), oracle =
      // GENERATED from the same frozen phraseTable (single source of
      // truth, the q_bpe_encode convention): each stage replays one
      // index-local (a,b)→a_b rewrite over the document token lists
      s"""WITH v0 AS (SELECT doc_id, list_filter(
         |  string_split_regex(text, '\\s+'), x -> len(x) > 0) AS s
         |  FROM documents),
         |$phraseStagesSql
         |SELECT v0.doc_id, array_to_string(vf.s, ' ') AS text_merged,
         | CAST(len(v0.s) AS BIGINT) AS n_tokens,
         | CAST(len(v0.s) - len(vf.s) AS BIGINT) AS n_merged
         |FROM v0 JOIN v${phraseTable.length} vf USING (doc_id)"""
        .stripMargin),

    // frozen-reference-model surprisal: every doc scored against the
    // English-subcorpus unigram LM (OOV smoothed to the 1/(N+V) floor)
    Query("q_surprisal_ref", (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextOps.surprisalAgainst(docs, "doc_id", "text",
        TextOps.unigramModel(docs.filter(col("lang") === "en"), "text"))
    }, oracle =
      s"""WITH $surprisalRefCteSql
         |SELECT doc_id, n_tokens, surprisal_ref FROM sref""".stripMargin),

    // DSIR importance log-weights: every raw doc scored toward the
    // English-target hashed-unigram distribution
    Query("q_dsir_weights", (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextOps.dsirLogWeights(docs, docs.filter(col("lang") === "en"),
        "doc_id", "text")
    }, oracle = dsirWeightsSql),

    // the resampling step: the 100 most target-like raw documents,
    // deterministic on the rounded weight with doc_id tie-break
    // (plans TakeOrderedAndProject — no full sort-shuffle)
    Query("q_dsir_select", (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextOps.dsirLogWeights(docs, docs.filter(col("lang") === "en"),
          "doc_id", "text")
        .orderBy(desc("dsir_logw"), asc("doc_id")).limit(100)
    }, oracle =
      s"""WITH w AS ($dsirWeightsSql)
         |SELECT * FROM w
         |ORDER BY dsir_logw DESC, doc_id LIMIT 100""".stripMargin),

    // frozen-model DSIR: the log-ratio table built ONCE from a 10%
    // raw sample + the English target, every doc scored against it —
    // the streaming-ready split (model rebuilt per corpus version,
    // not per scoring run); sample-absent buckets exercise the
    // complete-table floor
    Query("q_dsir_score_ref", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val model = TextOps.dsirModel(docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("lang") === "en"), "text")
      TextOps.dsirScoreAgainst(docs, "doc_id", "text", model)
    }, oracle =
      // frozen DSIR model: complete 1024-bucket log-ratio table from the
      // 10% raw sample + en target (generate_series materializes the
      // bucket domain — unseen buckets carry the doubly-smoothed floor),
      // then every doc scored via an inner join on its hashed buckets
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
        |GROUP BY tf.doc_id""".stripMargin),

    // curation v3 = v2's structural gates ∩ a CCNet-style surprisal
    // band on the raw text: drops both tails (very low = boilerplate,
    // very high = gibberish/rare-token soup); band constants picked
    // from the corpus distribution (p10 ≈ 3.396, p90 ≈ 3.410)
    Query("q_curation_v3", (s, dir) => {
      val quality = TextOps
        .surprisal(Tables.documents(s, dir), "doc_id", "text")
        .filter(col("surprisal").between(3.39, 3.41))
        .select(col("doc_id"), col("surprisal"))
      curationV2Shared(s, dir).join(quality, "doc_id")
        .select(col("doc_id"), col("fp"), col("surprisal"))
    }, oracle =
      s"""WITH v2 AS ($curationV2Sql),
         |surp AS ($surprisalSql)
         |SELECT v2.doc_id, v2.fp, surp.surprisal
         |FROM v2 JOIN surp ON v2.doc_id = surp.doc_id
         |WHERE surp.surprisal BETWEEN 3.39 AND 3.41""".stripMargin),

    // C4-style cleaning: control chars -> space, whitespace collapsed,
    // trimmed; engine-portable semantics proven by the oracle
    Query("q_clean_text", (s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
        TextOps.cleanText(concat(lit("  x\t\ty "), col("text"),
          lit("\u0001 z  "))).as("cleaned"))
    }, oracle =
      """SELECT doc_id,
        | trim(regexp_replace(regexp_replace(
        |   '  x' || chr(9) || chr(9) || 'y ' || text || chr(1) || ' z  ',
        |   '[[:cntrl:]]', ' ', 'g'), '\s+', ' ', 'g')) AS cleaned
        |FROM documents""".stripMargin),

    // PII redaction: deterministic PII spans injected from doc_id on
    // both sides (the corpus is synthetic word salad with no natural
    // PII), then the regexp chain + per-category counts are proven
    // engine-portable by the oracle
    // PII redaction oracle: the SAME regex strings as
    // TextOps.piiPatterns (referenced directly — one definition), with
    // counts taken on the progressively-redacted text exactly like
    // piiCounts' fold
    Query("q_redact_pii", (s, dir) => {
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
    }, oracle = {
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
    }),

    // Gopher-style repetition stats: boost every 7th doc with a
    // repeated phrase, then duplicate-token fraction + top-2-gram
    // coverage — all row-local array expressions
    // repetition stats oracle: shared shingle definition at k=2; the
    // mode count is definitional here (unnest + group + max) — the
    // Spark side's sort/run-length fold must agree with it exactly
    Query("q_repetition", (s, dir) => {
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
    }, oracle = {
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
    }),

    Query("q_explode_tokens", (s, dir) => {
      Tables.documents(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 20)
    }, oracle =
      """SELECT token, count(*) AS n FROM (
        | SELECT unnest(list_filter(string_split_regex(text, '\s+'),
        |   x -> len(x) > 0)) AS token FROM documents) t
        |GROUP BY token HAVING count(*) >= 20""".stripMargin),

    // TF-IDF over the document corpus: classic training-data scoring;
    // log rounded to 6dp for cross-engine float parity.
    // Single-pass shape: tf rows are unique per (doc_id, token), so
    // df(token) is a window count over tf — the explode+agg chain runs
    // ONCE and tf→df needs one exchange on token, not a groupBy + join
    // (two exchanges + a re-executed upstream). N folds in via a 1-row
    // broadcast aggregate instead of a separate driver-side count job.
    // df via aggregate+join, not a token-keyed window — the same
    // Zipf-straggler reasoning as the surprisal family (TextOps.tfidf)
    Query("q_tfidf", (s, dir) =>
      TextOps.tfidf(Tables.documents(s, dir), "doc_id", "text"), oracle =
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
        |WHERE tf.tf >= 3""".stripMargin),

    // Fused single-pass TextStats expression computes every counter in
    // one string scan (struct materialized in its own projection so
    // each derived ratio reads a field instead of re-running the scan).
    Query("q_doc_stats", (s, dir) => {
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
    }, oracle = {
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
    }),

    Query("q_quality", (s, dir) => {
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
    }, oracle = {
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
    }),

    // model-scored filtering: linear quality classifier over the fused
    // TextStats features (fasttext-shaped; the sigmoid is omitted by
    // design — thresholding the linear score selects the same rows).
    // The score ships UNROUNDED: both engines run the identical IEEE
    // op sequence, so the doubles are bit-equal — while rounding to N
    // decimals can land on a half-way point the engines break
    // differently (observed at 6dp on this corpus)
    // quality-model oracle: the q_doc_stats feature replays UNROUNDED,
    // then the identical left-associated linear combination; keep is
    // thresholded on the unrounded score exactly as the Spark side
    Query("q_quality_model", (s, dir) => {
      val score = TextOps.qualityModelScore(col("st"))
      Tables.documents(s, dir)
        .select(col("doc_id"), graft.functions.TextStatsExpression
          .textStats(col("text"), enStop).as("st"))
        .select(col("doc_id"), score.as("quality_score"),
          (score > 0).as("keep"))
    }, oracle = {
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
    }),

    // the canonical LLM corpus-curation composition — exact dedup →
    // language-ID → quality gate → per-language token budget — all in
    // one declarative plan: one content-hash exchange (dedup), then
    // pure map-side scoring (fused TextStats + langId), then a
    // languages-cardinality aggregation. Proves the operators compose.
    // dedup ∘ langid ∘ quality ∘ token budget, assembled from the same
    // fragments the single-operator oracles use
    Query("q_curation", (s, dir) => {
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
    }, oracle = {
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
    }),

    // winnowing fingerprint: the shared shingle definition, md5 each,
    // distinct, sort, keep the 8 smallest — fixed-width lowercase hex
    // sorts identically in both engines
    Query("q_fingerprint", (s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
        concat_ws(",", TextOps.fingerprint(col("text"), 3, 8)).as("fp"))
    }, oracle = {
      val toks = """list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)"""
      s"""SELECT doc_id,
         | array_to_string(list_slice(list_sort(list_distinct(
         |   list_transform(${shingleSql(3)}, s -> md5(s)))), 1, 8), ',')
         |   AS fp
         |FROM (SELECT doc_id, $toks AS toks FROM documents) t""".stripMargin
    }),

    // langId = argmax over per-language stopword-ratio scores (zh:
    // char-containment hits / profile size); ties resolve to the
    // lexicographically largest language (struct max semantics), so the
    // CASE tests langs in reverse-lexicographic order.
    Query("q_langid", (s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
        TextOps.langId(col("text")).as("predicted_lang"))
    }, oracle = {
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
    }),

    // overlapping token-window chunking (size 50, stride 40): the
    // long-document split step feeding q_pack_sequences' packer
    Query("q_chunk_text", (s, dir) => {
      TextOps.chunkText(Tables.documents(s, dir), "doc_id", "text",
          size = 50, stride = 40)
        .select(col("doc_id"), col("chunk_no").cast("long"),
          col("tok_start").cast("long"), col("chunk"))
    }, oracle =
      // chunk i covers tokens [i*40+1, i*40+50]; short non-empty docs are
      // one chunk, empty docs none
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
        |FROM x""".stripMargin),

    // curation v4 = the sampling-side composition: exact dedup →
    // sqrt-temperature language rebalance → token-weighted A-ES draw
    // of the final 100 — the "balance then sample" half of a training
    // mix, deterministic end to end
    // curation v4: the three oracled stages chained — min-id text
    // dedup, sqrt-temperature keep set, A-ES token-weighted draw
    Query("q_curation_v4", (s, dir) => {
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
    }, oracle = {
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
    }),

    // curation v5 — the round-7 capstone: exact-dedup representatives
    // ∩ CCNet surprisal band (v3's quality gate) → sqrt-temperature
    // language rebalance → token-weighted top-100 (v4's selection) →
    // the frozen phrase table applied to the survivors' text (the
    // tokenizer-prep last mile). Every stage individually oracled;
    // this pins the COMPOSITION end to end
    // v4's selection chain with the band gate spliced into dd and the
    // phrase stages applied to the selected 100 — every constant and
    // rounding identical to the per-stage oracles
    Query("q_curation_v5", (s, dir) => {
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
    }, oracle = {
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
    }),

    // Unicode NFC normalization over the corpus with a decomposed
    // 'café' injected per doc (the testdata is ASCII — the injection
    // makes the composition path observable): every row must change,
    // and the normalized text must be the composed form
    Query("q_normalize_text", (s, dir) => {
      // DECOMPOSED e + U+0301 combining acute (written as escapes —
      // a raw combining char in source survives poorly): NFC
      // composes it to the single codepoint \u00e9
      val injected = concat(col("text"),
        lit(" caf" + "\u0065" + "\u0301"))
      Tables.documents(s, dir).select(col("doc_id"),
        TextOps.normalizeNfc(injected).as("norm_text"),
        (TextOps.normalizeNfc(injected) =!= injected).as("changed"))
    }, oracle =
      // NFC replay: DuckDB's utf8proc and the JDK implement the same
      // Unicode conformance clause; chr(101)||chr(769) is the
      // decomposed e + combining acute the Spark side injects
      """SELECT doc_id,
        | nfc_normalize(text || ' caf' || chr(101) || chr(769))
        |   AS norm_text,
        | nfc_normalize(text || ' caf' || chr(101) || chr(769))
        |   <> (text || ' caf' || chr(101) || chr(769)) AS changed
        |FROM documents""".stripMargin),

    // GPT-2-shaped pre-tokenizer classes: letter runs / digit runs /
    // symbol marks — the honest token-budget accounting pass
    Query("q_pretokenize", (s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.preTokenize(col("text")).as("p"))
        .select(col("doc_id"), col("p.n_tokens").as("n_tokens"),
          col("p.n_word").as("n_word"), col("p.n_num").as("n_num"),
          col("p.n_punct").as("n_punct"))
    }, oracle =
      // same anchored-class alternation on both engines (letter runs /
      // digit runs / single symbols — no lookarounds, no unicode
      // properties, so RE2 and java.util.regex agree)
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
        | FROM documents) t""".stripMargin),

    // lexical diversity: type-token ratio + Simpson index from exact
    // integer token counts (one IEEE division each — no libm variance)
    Query("q_lexical_diversity", (s, dir) => {
      TextOps.lexicalDiversity(Tables.documents(s, dir), "doc_id",
        "text")
    }, oracle =
      // exact integer token counts; TTR and Simpson are each one IEEE
      // division of exactly-agreed integers — engine-portable without
      // any ln/pow
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
        |FROM documents d0 LEFT JOIN agg ON d0.doc_id = agg.doc_id""".stripMargin),

    // BPE subword encoding against the frozen merges artifact: one
    // row per (doc, word position), encode computed once per DISTINCT
    // word (the tokenizer word-cache) and broadcast back — the real
    // token-count accounting a budget-packed pretraining mix needs
    // BPE replayed from the SAME frozen merges list (single source of
    // truth: the SQL below is GENERATED from bpeMerges): distinct
    // words start as codepoint symbols + </w>; each merge is an
    // index-LOCAL list rewrite (fuse at i if (s[i],s[i+1])=(a,b);
    // drop i if (s[i-1],s[i])=(a,b)) — exact because self-merges are
    // excluded, so no overlap chain exists; then join back to the
    // positioned word stream
    Query("q_bpe_encode", (s, dir) => {
      TextOps.bpeEncode(Tables.documents(s, dir), "doc_id", "text",
          bpeMerges)
        .select(col("doc_id"), col("word_pos").cast("long"),
          col("word"), concat_ws(" ", col("bpe_tokens")).as("bpe"),
          size(col("bpe_tokens")).cast("long").as("n_bpe"))
    }, oracle = {
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
    }),

    // Luhn-gated card redaction: every doc gets one VALID card (check
    // digit computed from the Luhn sum) and one INVALID sibling (check
    // digit +1) appended — the valid one must redact, the invalid one
    // must survive (the precision regex-only scrubbing can't deliver)
    // the Luhn sum as list arithmetic (position 1 = rightmost, evens
    // doubled with 9-subtraction), check digit from the appended-0
    // sum, candidates re-extracted and reduce-replaced with word
    // boundaries — replacements are disjoint digit runs, so the
    // reduce order list_distinct happens to pick cannot matter
    Query("q_redact_cards", (s, dir) => {
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
    }, oracle = {
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
    }),

    // tokenizer fertility per language: mean subwords per word under
    // the frozen merges — the tokenizer-QA readout that decides
    // whether a language needs its own merges before its token budget
    // silently doubles (fertility ≈ 2× means half the effective
    // context window)
    // the q_bpe_encode merge stages shared, aggregated per language
    Query("q_tokenizer_fertility", (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextOps.bpeEncode(docs, "doc_id", "text", bpeMerges)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"),
          sum(size(col("bpe_tokens")).cast("long")).as("n_subwords"))
        .select(col("lang"), col("n_words"), col("n_subwords"),
          round(col("n_subwords").cast("double") /
            col("n_words").cast("double"), 6).as("fertility"))
    }, oracle = {
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
    }),

    // adaptive quality gate: keep documents strictly above their own
    // language's median token count — thresholds move with the data
    // (per-language corpora differ wildly), unlike a fixed cutoff.
    // Exact interpolated percentile keeps the cut engine-portable;
    // the |langs|-row stats side stays unpinned (AQE broadcasts while
    // it fits — same policy as q_zscore_outliers/q_mad_outliers)
    Query("q_quality_gate_adaptive", (s, dir) => {
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      val cuts = scored.groupBy(col("lang"))
        .agg(percentile(col("n_tokens"), lit(0.5)).as("cut"))
      scored.join(cuts, "lang")
        .filter(col("n_tokens") > col("cut"))
        .select(col("doc_id"), col("lang"), col("n_tokens"))
    }, oracle =
      // quantile_cont == Spark's exact interpolated percentile (parity
      // proven by q_mad_outliers); strictly-above-median keep rule
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
        |WHERE n_tokens > cut""".stripMargin),

    // blocked inverted index: token -> sorted doc-id postings split
    // over doc_id%8 blocks (the salted-aggregate trick — the head
    // token's list never lands on one reducer or in one row); df >= 5
    // drops the hapax tail. Postings render comma-joined (the hosts-
    // column convention) for engine-portable hashing
    Query("q_inverted_index", (s, dir) => {
      operators.TextOps.invertedIndex(Tables.documents(s, dir),
          "doc_id", "text", nBlocks = 8, minDf = 5L)
        .select(col("token"), col("block"), col("df"), col("n_docs"),
          array_join(col("postings"), ",").as("postings"))
    }, oracle =
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
        |FROM p JOIN d USING (token) WHERE d.df >= 5""".stripMargin),

    // domain-difficulty mixture reweighting (DoReMi-flavored
    // heuristic): mean frozen-en-LM surprisal per language, normalized
    // — domains unfamiliar to the reference upweight, so the mixture
    // spends budget where the model has most to learn. Bounded
    // aggregates only (|langs| rows), decimal means for portability
    Query("q_domain_reweight", (s, dir) => {
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
    }, oracle =
      // mean surprisal per language over the same sref chain, decimal
      // means, normalized at 6dp
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
         |FROM b CROSS JOIN t""".stripMargin),

    // feature hashing: every doc becomes a fixed 16-dim L2-normalized
    // hashed tf-idf vector with no trained model — the bridge from
    // the text family into the embedding family (cosine/k-means/ANN
    // on text-only corpora); exploded rows per the random_project
    // convention
    Query("q_hashed_embedding", (s, dir) =>
      operators.TextOps.hashedTfidfEmbedding(
        Tables.documents(s, dir), "doc_id", "text", dim = 16), oracle =
      // the hashing trick replayed: md5 bucket, decimal tf-idf sums,
      // one sqrt, 6dp components
      s"""WITH ${hashedEmbeddingCteSql("documents", 16)}
         |SELECT doc_id, k, v FROM unit""".stripMargin),

    // the bridge end to end: TEMPLATE/BOILERPLATE pairs from TEXT
    // ONLY via hashed embeddings — exact pairwise cosine (decimal dot
    // products) over the 16-dim vectors, keep ≥ 0.95: near-identical
    // and same-template documents, the curation signal tf-idf cosine
    // actually carries (a short doc with a high-idf suffix scores
    // ~0.6-0.8 — suffix-dup recovery is the minhash family's job; the
    // quadratic join is the exactness-oracle class, the production
    // path being the bucketed/ANN family over these same vectors)
    Query("q_hashed_neardup", (s, dir) => {
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
    }, oracle =
      // hashed-embedding similarity replayed: same chain over the
      // injected corpus's probe subset, then exact pairwise decimal dot
      // products
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
         |WHERE cosine >= 0.95""".stripMargin)
  )
}
