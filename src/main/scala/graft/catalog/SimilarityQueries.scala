package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.Tables

/** Similarity and vector queries ([[operators.Similarity]]): exact and
  * approximate k-NN (LSH, IVF, PQ), Gram/PCA, k-means, k-center and
  * random projection.
  */
object SimilarityQueries {

  /** The embedding gram matrix and its derived PCA direction, staged
    * once per (session, dir): four queries (gram, power, project,
    * whiten) share one Θ(dim²)-per-row pass — the "build the second-
    * moment artifact once per corpus version" production shape.
    */
  private def gramShared(s: SparkSession, dir: String): DataFrame =
    Staged(s, "gram", dir)(
      Similarity.gramMatrix(Tables.embeddings(s, dir), "embedding", 64)
        .localCheckpoint(true))

  private def pcaWeightsShared(s: SparkSession, dir: String): Array[Double] =
    Staged(s, "pca_weights", dir)(
      Similarity.pcaTopComponentFromGram(gramShared(s, dir), 64, steps = 3))

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

  lazy val all: Seq[Query] = Seq(
    // per-label class centroids in long form — label-cluster statistics
    // over the embedding corpus; decimal-exact means hash-match
    Query("q_label_centroids", (s, dir) => {
      Similarity.labelCentroids(
        Tables.embeddings(s, dir).filter(col("label").isNotNull),
        "label", "embedding")
        // 6 dp: the decimal sums are exact on both sides, but the
        // decimal->double conversion can differ by an ulp between
        // engines; an 8-dp round sat on that boundary for 31/640 rows
        .select(col("label"), col("dim"), round(col("mean"), 6).as("mean"))
    }, oracle =
      // decimal-exact per-(label, dim) means; DuckDB explodes each
      // vector to (dim, x) structs since it has no posexplode
      """SELECT label, CAST(u.dim AS BIGINT) AS dim,
        | round(CAST(sum(CAST(u.x AS DECIMAL(28,12))) AS DOUBLE)
        |   / count(u.x), 6) AS mean
        |FROM (
        | SELECT label, unnest(list_transform(range(1, len(embedding) + 1),
        |   i -> struct_pack(dim := i, x := embedding[i]))) AS u
        | FROM embeddings WHERE label IS NOT NULL) t
        |GROUP BY 1, 2""".stripMargin),

    // knn outputs are exploded to one row per (query, rank): scalar
    // columns the comparator can sort, and — for brute force — the
    // shape an exact ANSI oracle (window rank over all pair scores) can
    // reproduce.
    // exact brute-force cosine top-k: same double accumulation (DOUBLE[]
    // cast), same ordering (score desc, id asc), same self-exclusion —
    // upgrades the strongest ANN claim from rows-only to hash-matched
    Query("q_knn_bruteforce", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding"))
      Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
          "qid", k = 10)
        .select(col("query_id"),
          posexplode(col("neighbors")).as(Seq("pos", "nb")))
        .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
          col("nb.id").as("neighbor_id"))
    }, oracle = knnExactTopKSql),

    // exact-mode LSH (planes = 0, lossless single bucket): the whole
    // lshTopK pipeline — bucket join, post-score dedup, bounded top-k
    // — at recall 1, pinned by the brute-force oracle
    // planes = 0 LSH degenerates to the same exact ground truth — the
    // lossless configuration proves the LSH pipeline end to end
    Query("q_knn_lsh_full", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding"))
      Similarity.lshTopK(emb, queries, "vec_id", "embedding", "qid",
          k = 10, planes = 0)
        .select(col("query_id"),
          posexplode(col("neighbors")).as(Seq("pos", "nb")))
        .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
          col("nb.id").as("neighbor_id"))
    }, oracle = knnExactTopKSql),

    // int8 scalar quantization of the embedding column: per-vector
    // scale + codes, bit-portable arithmetic (floor(x*scale+0.5)) so
    // the codes hash-match the oracle; codes projected to a string
    // (array cells crash the comparator)
    Query("q_quantize_embedding", (s, dir) => {
      Similarity.withQuantizedInt8(Tables.embeddings(s, dir), "embedding")
        .select(col("vec_id"), round(col("q_scale"), 6).as("q_scale"),
          concat_ws(",", col("q_codes").cast("array<string>")).as("codes"))
    }, oracle =
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
        | FROM embeddings) t""".stripMargin),

    // Gram matrix of the embedding corpus: dim(dim+1)/2 cells forever
    // (the bounded-artifact class), exact-decimal cells bit-identical
    // across partitionings and engines; surfaced as double. The gram
    // job is staged per (session, dir) — production builds it once
    // per corpus version and derives every PCA artifact from it
    Query("q_gram_matrix", (s, dir) =>
      gramShared(s, dir)
        .select(col("i"), col("j"), col("g").cast("double").as("g")), oracle =
      // i/j index columns cast to INTEGER: the engine emits IntegerType
      // and DuckDB's generators type BIGINT — int-width drift the driver
      // hash happens to tolerate today but the local type gate
      // (oracle_check.py, VERDICT r10 task 2) correctly flags
      s"""WITH $gramOracleCtes
         |SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
         | CAST(g AS DOUBLE) AS g FROM gr""".stripMargin),

    // top principal direction: 3 power-iteration steps over the
    // collected gram matrix (driver state = model-sized), every step
    // engine-replayed by the oracle's chained CTEs
    Query("q_pca_power", (s, dir) => {
      import s.implicits._
      pcaWeightsShared(s, dir)
        .zipWithIndex.map { case (w, j) => (j, w) }.toSeq
        .toDF("j", "w")
    }, oracle =
      s"""WITH ${pcaOracleCtes(3)}
         |SELECT CAST(j AS INTEGER) AS j, w FROM wout""".stripMargin),

    // the serving arm: every vector's scalar projection onto the
    // learned direction (whitening / dominant-component strip) —
    // row-local, weights as literals, exact-decimal fold
    Query("q_pca_project", (s, dir) =>
      Similarity.pcaProject(Tables.embeddings(s, dir), "vec_id",
        "embedding", pcaWeightsShared(s, dir).toSeq), oracle =
      s"""WITH ${pcaOracleCtes(3)}
         |SELECT e.vec_id,
         | round(CAST(sum(CAST(round(e.v[wout.j + 1] * wout.w, 12)
         |   AS DECIMAL(38,12))) AS DOUBLE), 6) AS proj
         |FROM e CROSS JOIN wout
         |GROUP BY e.vec_id""".stripMargin),

    // the capstone: rank-1 strip v' = v - (v·w)w per vector — the
    // SemDeDup preprocessing pass, exploded to (vec_id, j, wv) rows
    // so every whitened component hash-compares
    Query("q_pca_whiten", (s, dir) =>
      Similarity.pcaWhiten(Tables.embeddings(s, dir), "vec_id",
          "embedding", pcaWeightsShared(s, dir).toSeq)
        .select(col("vec_id"),
          posexplode(col("whitened")).as(Seq("j", "wv"))), oracle =
      s"""WITH ${pcaOracleCtes(3)},
         |p AS (SELECT e.vec_id,
         |  round(CAST(sum(CAST(round(e.v[wout.j + 1] * wout.w, 12)
         |    AS DECIMAL(38,12))) AS DOUBLE), 6) AS proj
         | FROM e CROSS JOIN wout
         | GROUP BY e.vec_id)
         |SELECT e.vec_id, CAST(wout.j AS INTEGER) AS j,
         | round(e.v[wout.j + 1] - round(p.proj * wout.w, 12), 6) AS wv
         |FROM e JOIN p USING (vec_id) CROSS JOIN wout""".stripMargin),

    // IVF with nprobe = nlist probes every inverted list — exact by
    // construction, so the whole IVF machinery (assignment, Lloyd
    // refinement, probe join, bounded top-k) is proven against the
    // same brute-force oracle as q_knn_bruteforce
    // nprobe = nlist probes every list => exact; identical ground truth
    Query("q_knn_ivf_full", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding"))
      Similarity.ivfTopK(emb, queries, "vec_id", "embedding", "qid",
          k = 10, nlist = 8, nprobe = 8, refineIters = 1)
        .select(col("query_id"),
          posexplode(col("neighbors")).as(Seq("pos", "nb")))
        .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
          col("nb.id").as("neighbor_id"))
    }, oracle = knnExactTopKSql),

    // greedy k-center coreset: 5 farthest-first exemplars — k−1
    // passes, each one row-local distance to the single new center
    // (literal vector) + a TakeOrdered(1) argmax; never pairwise
    // all 5 farthest-first rounds replayed: per-element decimal
    // distances, running min, (d desc, id) argmax per round
    Query("q_kcenter_coreset", (s, dir) =>
      Similarity.kCenterCoreset(Tables.embeddings(s, dir), "vec_id",
        "embedding", dim = 64, k = 5), oracle = kcenterOracleSql(5)),

    // product-quantization encode: 64-dim embeddings → 8 codes from a
    // deterministic 16-entry seed codebook; decimal-exact distances
    // make the argmin portable across engines
    Query("q_pq_encode", (s, dir) =>
      Similarity.pqEncode(Tables.embeddings(s, dir), "vec_id",
        "embedding", dim = 64, subspaces = 8, codebookSize = 16), oracle =
      // PQ encode: 16 seed codebook entries (smallest vec_ids, 0-based
      // codes in id order), per-(vector, subspace) squared-L2 argmin;
      // each squared diff is a bit-exact double both engines round()
      // identically to 12dp and carry as DECIMAL(28,12), so the
      // distance sum is exact/order-independent and the argmin (ties →
      // smaller code) replays without float boundaries
      s"""WITH $pqCtesSql
         |SELECT vec_id, CAST(j AS INT) AS subspace, code
         |FROM codes""".stripMargin),

    // Johnson-Lindenstrauss random projection 64 → 16 dims: the
    // deterministic md5 sign matrix needs no storage or seed, and the
    // decimal-exact accumulation makes every projected value replay
    // at 6dp; long form for the oracle
    Query("q_random_project", (s, dir) => {
      Similarity.randomProject(Tables.embeddings(s, dir), "vec_id",
          "embedding", dimIn = 64, dimOut = 16)
        .select(col("vec_id"),
          posexplode(col("projected")).as(Seq("k", "y")))
        .select(col("vec_id"), col("k").cast("long").as("k"), col("y"))
    }, oracle =
      // JL projection replayed: sign(k,j) = +1 iff the leading 32 md5
      // bits of "k:j" are even; per-term round(.,12) decimal sums are
      // order-independent, so y = round(sum/sqrt(16), 6) cast to float
      // is bit-identical across engines
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
        |GROUP BY v.vec_id, s.k""".stripMargin),

    // per-label centroid-distance outliers: the embedding
    // contamination/drift detector — squared L2 to the class mean,
    // z-scored within the label at 4dp, flagged at z > 2
    Query("q_embedding_outliers", (s, dir) =>
      Similarity.centroidOutliers(Tables.embeddings(s, dir),
        "vec_id", "label", "embedding"), oracle =
      // centroid outliers replayed: 6dp decimal centroid means → float,
      // pqSqDist per-position round(·,12)→decimal distances → 6dp,
      // label moments via DECIMAL(28,6) sums with every derived moment
      // rounded to 6dp before use, z at 4dp, flag on the rounded z
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
        | FROM d JOIN mo USING (label)) t""".stripMargin),

    // ADC top-10 over the PQ codes (the IVF-PQ search arm): corpus
    // touched only as (id, subspace, code); approximate metric,
    // deterministic computation — exactly replayed by the oracle
    Query("q_pq_search", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding"))
      Similarity.pqSearchTopK(emb, queries, "vec_id", "embedding",
          "qid", dim = 64, subspaces = 8, codebookSize = 16, k = 10)
        .select(col("query_id"),
          posexplode(col("neighbors")).as(Seq("pos", "nb")))
        .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
          col("nb.id").as("neighbor_id"))
    }, oracle =
      // ADC search over the PQ codes: per-query lookup table of
      // subspace distances (same decimal-exact trick), summed along
      // each vector's codes; neighbor order = double-cast distance asc,
      // ties id asc — the engine's TopKByScore contract replayed
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
         |WHERE rank <= 10""".stripMargin),

    // composed IVF-PQ with a PARTIAL probe (nprobe 2 of nlist 8) that
    // is still fully oracled: the coarse quantizer is a 1-subspace PQ
    // codebook, so assignment and probe order are decimal-exact and
    // the probe FILTER itself replays in the oracle — the first
    // partial-probe ANN configuration inside the correctness artifact
    // (the float-path partials stay benchOnly)
    Query("q_ivfpq_search", (s, dir) => {
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
    }, oracle =
      // composed IVF-PQ, partial probe REPLAYED: the coarse quantizer is
      // a 1-subspace PQ codebook (8 smallest-id seeds), so corpus
      // assignment is the decimal argmin (ties → smaller list id), each
      // query probes its 2 nearest lists by double-cast decimal distance
      // (ties → smaller list id — the TopKByScore contract), and the ADC
      // runs only over candidates whose bucket is probed
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
         |WHERE rank <= 10""".stripMargin),

    // decimal-exact K-means (Lloyd, k=8, 2 update rounds + final
    // assignment): frozen first-k seeds, pqSqDist argmin with ties to
    // the smaller cluster, per-dim exact-decimal centroid means — the
    // whole clustering replays in the oracle, unlike float-avg built-ins
    // Lloyd unrolled: per round an argmin CTE (same decimal distance,
    // same tie rule) and an exact-decimal mean CTE with empty-cluster
    // coalesce — every centroid double is bit-identical, so the final
    // assignment and distances hash-match
    Query("q_kmeans", (s, dir) =>
      Similarity.kmeansLloyd(Tables.embeddings(s, dir), "vec_id",
        "embedding", k = 8, iters = 2), oracle = {
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
    }),

    Query.benchOnly("q_knn_lsh", (s, dir) => {
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

    Query.benchOnly("q_knn_ivf", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding"))
      Similarity.ivfTopK(emb, queries, "vec_id", "embedding", "qid",
          k = 10, nlist = 16, nprobe = 4)
        .select(col("query_id"),
          posexplode(col("neighbors")).as(Seq("pos", "nb")))
        .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
          col("nb.id").as("neighbor_id"))
    })
  )
}
