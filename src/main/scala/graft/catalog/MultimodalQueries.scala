package graft
package catalog

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal}
import graft.sources.Tables

import Fragments.{nearDupCorpus, nearDupCorpusSql}

/** Multimodal queries ([[operators.Multimodal]]): media features,
  * checksums, frames, scene changes and frame/media near-dups.
  */
object MultimodalQueries {

  lazy val all: Seq[Query] = Seq(
    // the full codec path — mapPartitions decode, feature vector and
    // all — is hash-oracled: the stub codec's outputs are portable by
    // design (md5 checksum; features = exact integer byte sums per
    // mod-8 slot, emitted as ints), so DuckDB replays byte-for-byte
    Query("q_media_features", (s, dir) => {
      val media = Multimodal.fromBinary(Tables.documents(s, dir),
        "doc_id", "text", "text/plain")
      Multimodal.extractFeatures(media, dim = 8)
        .select(col("media_id"), col("n_bytes").cast("long").as("n_bytes"),
          col("checksum"),
          concat_ws(",", col("features").cast("array<int>")
            .cast("array<string>")).as("features"))
    }, oracle =
      // full stub-codec replay: features = per-(position mod 8) integer
      // byte sums. ord(char) == byte value holds because the corpus is
      // pure ASCII (verified across SFs; a multi-byte corpus would need
      // blob byte access instead) — the empty-text guard keeps ord off
      // the empty string
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
        |FROM b""".stripMargin),

    // oracle-backed slice of the multimodal surface: byte length and
    // md5 over the binary payload are engine-portable, so the
    // binary-column plumbing (cast, column pruning past the payload)
    // gets a hash-matched row, complementing the rows-only
    // mapPartitions codec path above
    Query("q_media_checksum", (s, dir) => {
      val media = Multimodal.fromBinary(Tables.documents(s, dir),
        "doc_id", "text", "text/plain")
      media.select(col("media_id"),
        length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("checksum"))
    }, oracle =
      // engine-portable checksum over the binary payload: DuckDB's
      // md5(VARCHAR) hashes the UTF-8 bytes, which is exactly Spark's
      // md5(cast(text AS binary))
      """SELECT doc_id AS media_id,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | md5(text) AS checksum
        |FROM documents""".stripMargin),

    // frame extraction as rows (stride 32, frame length 16): the
    // video-pipeline shape — one row per sampled frame carrying its
    // byte slice, entirely row-local; frames rendered as length + md5
    // (the corpus is pure ASCII, so the oracle can slice text where
    // Spark slices the UTF-8 payload bytes)
    Query("q_media_frames", (s, dir) => {
      val media = Multimodal.fromBinary(Tables.documents(s, dir),
        "doc_id", "text", "text/plain")
      Multimodal.explodeFrames(media, stride = 32, frameLen = 16)
        .select(col("media_id"), col("frame_no").cast("long"),
          col("frame_offset").cast("long"),
          length(col("frame")).cast("long").as("frame_len"),
          md5(col("frame")).as("frame_md5"))
    }, oracle =
      // frame rows replayed on the text (ASCII corpus: char offsets ==
      // byte offsets — the q_media_features precedent): offsets 1,
      // 1+32, ... <= n, frame = 16-char slice, short tail kept
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
        |FROM f""".stripMargin),

    // shot-boundary detection over the sampled frames: per-frame
    // codec features (exact integer byte sums), L1 distance to the
    // previous frame, cut where it exceeds the threshold — the frame
    // selector a video pipeline runs instead of stride-blind sampling
    Query("q_scene_changes", (s, dir) => {
      val media = Multimodal.fromBinary(Tables.documents(s, dir),
        "doc_id", "text", "text/plain")
      Multimodal.sceneChanges(media, stride = 32, frameLen = 16,
        dim = 8, threshold = 150L)
    }, oracle =
      // the q_media_frames slicing + q_media_features byte-sum slots per
      // FRAME, lag + L1 distance, threshold cut; frame 0 always opens
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
        |FROM ds""".stripMargin),

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
    Query("q_frame_dedup", (s, dir) => {
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
    }, oracle =
      // exact frame-set Jaccard over md5'd 32-byte slices — the
      // brute-force oracle for the banded pipeline (banding recall 1 on
      // this corpus, the q_minhash_pairs convention); intersection-join
      // completeness: any pair at jaccard >= 0.7 shares a frame
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
        .stripMargin),

    // perceptual-hash media near-dup: dHash over the codec feature
    // vectors (64 gradient bits as two 32-bit halves), 4×16-bit band
    // blocking (equi-join candidates, never all pairs), true-hamming
    // verify at ≤8 — the plateau separating byte-edited copies from
    // unrelated payloads on this corpus (measured 46 vs 61 at ≤20)
    Query("q_media_neardup", (s, dir) =>
      Multimodal.mediaNearDup(
        Multimodal.fromBinary(nearDupCorpus(s, dir), "doc_id", "text",
          "text/plain"), maxHamming = 8), oracle =
      // the whole perceptual chain replayed: mod-65 byte-sum features
      // (the q_media_features CTE), adjacent-comparison bits as two
      // 32-bit sums, 16-bit band blocking, xor/bit_count hamming
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
        .stripMargin)
  )
}
