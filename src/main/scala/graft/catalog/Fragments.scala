package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.Tables

/** SQL and DataFrame fragments that several query families share.
  * Refers to no family, so no family object can see one of these
  * `val`s uninitialized.
  */
object Fragments {

  /** Exact, order-independent sum of a double measure: through decimal,
    * out as double.
    */
  private[catalog] def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  /** The injected-near-dup corpus shared by the minhash pair/dedup
    * queries: documents plus a shifted-id, suffix-edited copy of the
    * first 20 docs. ONE definition on each side (Scala here, SQL in
    * [[nearDupCorpusSql]]) — the oracle ground truth depends on the
    * two staying identical.
    */
  private[catalog] def nearDupCorpus(s: SparkSession,
      dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    docs.unionByName(docs.filter(col("doc_id") < 20)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" near dup suffix")).as("text")))
  }

  private[catalog] val nearDupCorpusSql: String =
    """docs AS (
      | SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 1000000 AS doc_id,
      |   text || ' near dup suffix' AS text
      | FROM documents WHERE doc_id < 20)""".stripMargin

  /** DuckDB k-shingle expression over a `toks` list column; mirrors
    * `graft.functions.Shingles` exactly (whitespace tokens, k-grams
    * joined by ' ', <k tokens ⇒ one all-token shingle, empty ⇒ ['']).
    * One definition for every shingle-based oracle.
    */
  private[catalog] def shingleSql(k: Int): String =
    s"""CASE WHEN len(toks) = 0 THEN ['']
       |   WHEN len(toks) < $k THEN [array_to_string(toks, ' ')]
       |   ELSE list_transform(range(1, len(toks) - ${k - 2}),
       |     i -> array_to_string(list_slice(toks, i, i + ${k - 1}), ' ')) END""".stripMargin

  /** `sh` CTE: doc_id → distinct k-shingle set from table/CTE `src`. */
  private[catalog] def shingleCteSql(k: Int, src: String): String =
    s"""sh AS (
       | SELECT doc_id, list_distinct(${shingleSql(k)}) AS sh
       | FROM (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
       |   x -> len(x) > 0) AS toks FROM $src) t)""".stripMargin

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
  private[catalog] def nearDupPairsShared(s: SparkSession,
      dir: String): DataFrame =
    Staged(s, "near_dup_pairs", dir)(
      Dedup.minhashNearDupPairs(nearDupCorpus(s, dir), "doc_id", "text",
        numHashes = 64, bands = 32, threshold = 0.5))

  /** Unrolled decimal-PageRank iteration CTEs pr1..pr`iters` over
    * `edgeTable` (src, dst), assuming CTEs `nodes`, `deg` and `pr0`
    * are already defined — ONE definition of the
    * round/decimal-sum/round contribution chain for every oracle
    * replaying [[operators.Behavior.pageRank]].
    */
  private[catalog] def pageRankIterCtesSql(iters: Int,
      edgeTable: String): String = {
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
}
