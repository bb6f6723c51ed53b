package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Relational operator surface (SURVEY §2.3, §2.4, §2.6), each a pure
  * `DataFrame => DataFrame` transform that declares the logical plan and
  * lets Catalyst pick the physical strategy.
  *
  * Scale notes (100 TB, 1000 executors):
  *  - membership/enrichment joins keep the small side broadcastable; the
  *    big fact side never shuffles for them.
  *  - the cross-run anti-join dedup joins on one 64-bit hash of the
  *    row and checks the typed columns themselves in the residual: its
  *    horizon side is broadcast at tick scale as a long-keyed relation.
  *  - latest-per-key avoids a global sort: it is a hash repartition by
  *    key + per-partition sort (window), fully parallel.
  */
object Relational {

  /** J1 — left semi join: keep fact rows whose composite key appears in
    * the membership table (`url...py:54,64`). Catalyst plans a broadcast
    * semi join while `members` fits the threshold — the fact side is
    * never shuffled.
    */
  def semiJoinMembers(fact: DataFrame, members: DataFrame,
      keys: Seq[String]): DataFrame =
    // no distinct() on the build side: semi-join semantics ignore build
    // duplicates, and the dedup would cost an extra exchange
    fact.join(broadcast(members.select(keys.map(col): _*)), keys,
      "left_semi")

  /** J2 — broadcast left-outer enrichment join with per-column defaults
    * (`url...py:71-73,84-95`): probe the (small) detail table, missing
    * key → defaults, exactly the reference's `details_map.get(key, {})`.
    *
    * `defaults` maps enrichment column → default literal applied via
    * `coalesce` after the join.
    */
  def enrich(fact: DataFrame, dims: DataFrame, keys: Seq[String],
      defaults: Map[String, Any]): DataFrame = {
    val joined = fact.join(broadcast(dims), keys, "left")
    defaults.foldLeft(joined) { case (df, (c, d)) =>
      df.withColumn(c, coalesce(col(c), lit(d)))
    }
  }

  /** J3 — anti-join dedup against a previous snapshot
    * (`extract.py:115-132`): current ∖ previous by whole-row equality,
    * column-order-insensitive (the reference canonicalizes with
    * `json.dumps(sort_keys=True)`; the join resolves columns by name).
    * Every copy of a matched current row is dropped, as the reference's
    * set-membership filter does.
    *
    * The only join key is `xxhash64` of the row, which picks a bucket;
    * identity is the typed columns, compared in the residual under
    * null-safe equality (`<=>`), so null matches null and the join
    * stays exact: a hash collision costs one residual check and never
    * drops a new row. The hash agrees with that equality: it gives
    * `-0.0` and `0.0` (top level or nested) one value, and every NaN
    * one value, as `<=>` does. The reference's `json.dumps` keeps the
    * zeros apart, so each top-level float/double column also compares
    * the value's text on zeros only; a column Spark cannot compare (a
    * map) is hashed and compared by its text. `previous` carries
    * `current`'s columns at the same types, since a value's hash
    * depends on its type. The previous side's columns are renamed
    * first, since `previous` is often derived from `current`.
    *
    * One long key lets the build side be a `LongHashedRelation`, which
    * the driver builds and broadcasts faster than a relation keyed on
    * the columns (two keys per null-safe column, stored beside each
    * row). At tick scale the horizon side is under the broadcast
    * threshold, so nothing shuffles; a horizon past the threshold
    * plans a shuffled join on the same long key.
    */
  def antiJoinDedup(current: DataFrame, previous: DataFrame): DataFrame = {
    val prevName = (c: String) => s"__prev_$c"
    val prev = previous.select(
      current.columns.toSeq.map(c => col(c).as(prevName(c))): _*)
    // `<=>` under `least`: a bare `<=>`, or any form the optimizer
    // rewrites to `=` once it knows both sides non-null, would be
    // pulled out as more join keys
    def same(x: Column, y: Column) = least(x <=> y, lit(true))
    val (keys, checks) = current.schema.fields.toSeq.map { f =>
      val (c, p) = (current(f.name), prev(prevName(f.name)))
      f.dataType match {
        case DoubleType | FloatType =>
          def zero(x: Column) = when(x === 0, x.cast("string"))
          ((c, p), same(c, p) && same(zero(c), zero(p)))
        // maps have no equality in Spark; compare their text
        case t if !RowOrdering.isOrderable(t) =>
          val (ct, pt) = (c.cast("string"), p.cast("string"))
          ((ct, pt), same(ct, pt))
        case _ => ((c, p), same(c, p))
      }
    }.unzip
    val (cs, ps) = keys.unzip
    current.join(prev,
      xxhash64(cs: _*) === xxhash64(ps: _*) && checks.reduce(_ && _),
      "left_anti")
  }

  /** J4 — cross-product fan-out: every host × every registered service
    * (`extract.py:50,107-112`) producing the fetch-task table. The
    * services side is a literal array exploded on the hosts side — no
    * join, no shuffle, stays in the hosts scan's stage.
    */
  def fanOut(hosts: DataFrame, services: Seq[String],
      outCol: String): DataFrame =
    hosts.withColumn(outCol,
      explode(array(services.map(lit): _*)))

  /** P3 — completeness gate (`extract.py:95-99`): drop any row with a
    * null (or NaN, already normalized to null by F1) in any column.
    * The reference also logs rejects; [[deadLetterSplit]] exposes that
    * branch.
    */
  def completenessGate(df: DataFrame): DataFrame = df.na.drop("any")

  /** P3 logging branch — split a frame into (clean, rejected) without
    * scanning twice more than needed; callers persist `df` if both
    * branches are consumed.
    */
  def deadLetterSplit(df: DataFrame): (DataFrame, DataFrame) = {
    // must agree with na.drop("any"), which treats NaN like null for
    // float/double columns
    val anyBad = df.schema.fields.map { f =>
      f.dataType match {
        case org.apache.spark.sql.types.DoubleType |
             org.apache.spark.sql.types.FloatType =>
          col(f.name).isNull || isnan(col(f.name))
        case _ => col(f.name).isNull
      }
    }.reduce(_ || _)
    (df.filter(!anyBad), df.filter(anyBad))
  }

  /** P4 — content-based routing to metric-family outputs
    * (`load_to_db.py:34-48`), as a derived partition column. Downstream:
    * `.write.partitionBy("metric_family")` gives the reference's 4
    * tables as partitions of one sink, in one pass instead of 4 filtered
    * scans.
    */
  def withMetricFamily(df: DataFrame, serviceCol: String): DataFrame =
    df.withColumn("metric_family",
      graft.functions.ScalarOps.metricFamily(col(serviceCol)))

  /** Latest-state-per-key (SURVEY §2.9): the reference's "current status
    * snapshot" semantics (`url...py:60-64`), declaratively:
    * `row_number` over key ordered by ts desc, keep rank 1. Ties broken
    * by `tieBreak` so the result is deterministic.
    */
  def latestPerKey(df: DataFrame, keys: Seq[String], ts: String,
      tieBreak: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(ts).desc, col(tieBreak).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Skew-safe latest-per-key: the two-phase aggregate form of
    * [[latestPerKey]] for hot keys (one user producing 90% of events
    * melts the window form's single reducer at 100 TB).
    *
    * Phase 1 reduces per (key, salt) — a hot key's rows spread over
    * `saltBuckets` reducers; phase 2 reduces the ≤`saltBuckets`
    * survivors per key. Both phases are hash aggregates with map-side
    * partial combine, so each exchange carries at most one row per
    * (key, salt) / key per map task, never the raw event volume. The
    * row travels as ONE struct picked atomically by `max_by` over the
    * (ts, tieBreak) ordering — same winner as the window form.
    *
    * Salt is derived from the full row content hash: deterministic
    * under task retries (rand() is not).
    */
  def latestPerKeySalted(df: DataFrame, keys: Seq[String], ts: String,
      tieBreak: String, saltBuckets: Int = 32): DataFrame = {
    val cols = df.columns.toSeq
    val rowStruct = struct(cols.map(col): _*)
    val salt = pmod(xxhash64(rowStruct), lit(saltBuckets)).cast("int")
    val partial = df
      .groupBy((keys.map(col) :+ salt.as("__salt")): _*)
      .agg(max_by(rowStruct, struct(col(ts), col(tieBreak))).as("__row"))
    partial
      .groupBy(keys.map(col): _*)
      .agg(max_by(col("__row"),
        struct(col(s"__row.$ts"), col(s"__row.$tieBreak"))).as("__row"))
      .select(cols.map(c => col(s"__row.$c").as(c)): _*)
  }

  /** Top-k by a measure, deterministic via tie-break column. A global
    * sort-limit: Spark plans `TakeOrderedAndProject` — per-partition
    * top-k then a k-row merge on the driver, no full shuffle.
    */
  def topK(df: DataFrame, k: Int, by: Column*): DataFrame =
    df.orderBy(by: _*).limit(k)

  /** Skew-safe equi-join: salt the (skewed) fact side into
    * `saltBuckets` sub-keys and replicate the dim side across the salt
    * range, so one hot key spreads over `saltBuckets` reducers instead
    * of melting a single task. The manual form of AQE's skew-join
    * handling, for when the dim is too big to broadcast but small
    * enough to replicate `saltBuckets`×.
    *
    * The salt is derived from the fact row's full content hash —
    * deterministic under task retries (rand() salts are not).
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, keys: Seq[String],
      saltBuckets: Int, joinType: String = "inner"): DataFrame = {
    // right/full outer would emit unmatched dim rows once per salt
    // replica — not expressible under salting without a dedup pass
    val allowed = Set("inner", "left", "leftouter", "left_outer",
      "left_semi", "leftsemi", "left_anti", "leftanti")
    require(allowed.contains(joinType.toLowerCase),
      s"saltedJoin supports inner/left joins only, got $joinType")
    val salted = fact.withColumn("__salt",
      pmod(xxhash64(struct(fact.columns.toSeq.map(col): _*)),
        lit(saltBuckets)).cast("int"))
    val replicated = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    salted.join(replicated, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Bucketed table write: pre-shuffles once at write time so
    * subsequent equi-joins/aggregations on `keys` between tables with
    * matching bucket counts plan with NO exchange — the standard
    * co-location strategy for repeatedly-joined 100 TB fact tables.
    * The table is external, its files at `path`.
    */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
      numBuckets: Int, path: String): Unit =
    df.write.mode("overwrite")
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .option("path", path)
      .saveAsTable(table)

  /** As-of join (SURVEY §2.4 extension): for each probe row, attach
    * `forward = false` (default) the most recent build row with
    * `build.ts <= probe.ts`, or `forward = true` the EARLIEST build
    * row with `build.ts >= probe.ts`, on the same keys; unmatched
    * probe rows keep nulls (left-asof). The forward form answers
    * "what happened next" (next state change after an action, time to
    * next failure) exactly as the backward form answers "what was in
    * effect".
    *
    * Composed from built-ins — union the tagged sides, one window pass
    * with `last(_, ignoreNulls)` carrying build payloads through
    * event time (reversed scan for the forward form). Exactly one
    * hash shuffle on the keys + per-partition sort; no range
    * explosion, no per-row lookups. Ties at equal ts resolve
    * build-before-probe in scan order (inclusive bound both
    * directions), matching SQL ASOF semantics.
    *
    * Build payload columns must not collide with probe columns (rename
    * beforehand).
    */
  def asOfJoin(probe: DataFrame, build: DataFrame, keys: Seq[String],
      tsCol: String, forward: Boolean = false): DataFrame = {
    val payload = build.columns.filterNot(c =>
      keys.contains(c) || c == tsCol).toSeq
    val probeCols = probe.columns.toSeq
    // carry the payload as ONE struct, not per-column fills: per-column
    // last(_, ignoreNulls) would skip a null FIELD and stitch together
    // values from different build rows; a struct is non-null for every
    // build row (even with null fields), so the carried value is always
    // one atomic build row — matching SQL ASOF semantics.
    val payloadStruct = struct(payload.map(col): _*)
    val payloadType = org.apache.spark.sql.types.StructType(
      payload.map(c => build.schema(c).copy(name = c)))
    val pSide = probe
      .withColumn("__is_probe", lit(1))
      .withColumn("__payload", lit(null).cast(payloadType))
    // a null-ts build row can never satisfy `build.ts <= probe.ts` (or
    // >=) — but unfiltered it would sort FIRST in both scan directions
    // (asc defaults nulls-first; forward uses desc_nulls_first) and its
    // non-null payload struct would be carried by last(ignoreNulls)
    // into every probe row with no real match. Drop it here, exactly
    // as SQL ASOF never matches a null timestamp.
    val bSide = build.filter(col(tsCol).isNotNull)
      .withColumn("__is_probe", lit(0))
      .withColumn("__payload", payloadStruct)
      .select((probeCols.map(c =>
        if (keys.contains(c) || c == tsCol) col(c)
        else lit(null).cast(probe.schema(c).dataType).as(c))
        :+ col("__is_probe")) :+ col("__payload"): _*)
    // nulls-first both directions: a null-ts probe row must scan
    // before every (non-null-ts) build row and keep a null payload
    val tsOrder =
      if (forward) col(tsCol).desc_nulls_first else col(tsCol).asc
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(tsOrder, col("__is_probe").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pSide.unionByName(bSide)
      .withColumn("__payload",
        last(col("__payload"), ignoreNulls = true).over(w))
      .filter(col("__is_probe") === 1)
      .select(probeCols.map(col) ++
        payload.map(c => col(s"__payload.$c").as(c)): _*)
  }

  /** Interval (range) join (SURVEY §2.4 extension): pair each point
    * row with every interval containing it —
    * `start <= pt <= end`, bounds inclusive.
    *
    * Spark plans a raw non-equi join as a broadcast nested loop
    * (O(|points|·|intervals|) comparisons — the classic 100 TB
    * killer). This form maps both sides onto fixed-width bins of the
    * point axis: each interval explodes to the bins it overlaps, each
    * point to its one bin, and the pairing becomes a hash EQUI-join on
    * the bin, post-filtered by the exact predicate. The exchange
    * carries (bin + narrow columns); comparison work is Σ per-bin
    * products instead of the full cross product.
    *
    * `binWidth` (same unit as the point/bound columns) should sit near
    * the typical interval length: much smaller multiplies the exploded
    * interval rows, much larger degrades toward per-bin quadratic.
    * Columns must be integral (epoch seconds/millis); point and bound
    * column names must not collide.
    */
  /** Snapshot drift report: classify every key across two runs of the
    * same extract as `added` / `removed` / `changed` (unchanged rows
    * are dropped — at 100 TB the interesting output is the delta, not
    * a copy of the corpus). The full generalization of the cross-run
    * anti-join dedup (J3, reference `extract.py:115-132`): where
    * [[dedupAgainst]] keeps only the new rows, this names what
    * happened to every key — the inventory/config drift report of a
    * monitoring deployment.
    *
    * Scale shape: both sides reduce map-side to (key, 256-bit content
    * hash over the non-key columns in sorted-name order) — the full
    * outer join exchanges ~40 B/row regardless of row width, and the
    * hash comparison makes `changed` detection O(1) per key instead
    * of a column-by-column comparison of wide rows. Collision risk at
    * 256 bits is negligible by the standard birthday bound. Both
    * frames must share the key + compared column set (asserted).
    */
  def snapshotDiff(prev: DataFrame, cur: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "snapshotDiff needs at least one key")
    val valCols = cur.columns.filterNot(keyCols.contains).sorted.toIndexedSeq
    require(prev.columns.filterNot(keyCols.contains).sorted
        .sameElements(valCols),
      "prev and cur must share the compared column set")
    def hashed(d: DataFrame, h: String) = d.select(
      keyCols.map(col) :+ sha2(to_json(struct(valCols.map(col): _*),
        Map("ignoreNullFields" -> "false")), 256).as(h): _*)
    hashed(prev, "__graft_prev_h")
      .join(hashed(cur, "__graft_cur_h"), keyCols, "full_outer")
      .withColumn("change",
        when(col("__graft_prev_h").isNull, "added")
          .when(col("__graft_cur_h").isNull, "removed")
          .when(col("__graft_prev_h") =!= col("__graft_cur_h"), "changed"))
      .filter(col("change").isNotNull)
      .select(keyCols.map(col) :+ col("change"): _*)
  }

  /** CDC merge (upsert + tombstone apply): fold a changelog into a
    * base snapshot, producing the post-merge state — the batch form
    * of `MERGE INTO`. The reference's whole host-metric flow is an
    * append-only approximation of this (anti-join dedup then blind
    * INSERT, `extract.py:115-132` + `load_to_db.py:44-56`); real CDC
    * needs updates and deletes too.
    *
    * `changes` must carry the base's columns plus `opCol` (and its
    * own `ts`/`tieBreak` ordering columns among them); per key only
    * the LATEST change matters: op == `deleteOp` removes the key,
    * anything else replaces the base row wholesale (an update's null
    * field overwrites with null — the change row is atomic, not a
    * per-column patch). Keys present only in the changelog insert.
    *
    * Plan shape: the changelog reduces to one row per key via the
    * skew-safe two-phase `max_by` ([[latestPerKeySalted]] — no
    * window, no per-key sort), then ONE full-outer hash join against
    * the base on the key. Both exchanges are partial-aggregated /
    * key-hashed; nothing is ever collected. At 100 TB this is the
    * standard snapshot-plus-delta compaction plan.
    */
  def applyChangelog(base: DataFrame, changes: DataFrame,
      keys: Seq[String], ts: String, tieBreak: String, opCol: String,
      deleteOp: String = "D"): DataFrame = {
    require(keys.nonEmpty, "applyChangelog needs at least one key")
    val dataCols = base.columns.toSeq
    require(dataCols.forall(changes.columns.contains),
      "changelog must carry every base column")
    require(changes.columns.contains(opCol), s"changelog needs $opCol")
    val payload = dataCols.filterNot(keys.contains)
    val latest = latestPerKeySalted(
      changes.select((dataCols :+ opCol).map(col) ++
        Seq(ts, tieBreak).filterNot(c =>
          dataCols.contains(c) || c == opCol).map(col): _*),
      keys, ts, tieBreak)
    val cSide = latest.select(keys.map(col) ++ Seq(
      struct(payload.map(col): _*).as("__graft_cdc_c"),
      col(opCol).as("__graft_cdc_op"),
      lit(true).as("__graft_cdc_has")): _*)
    val bSide = base.select(keys.map(col) :+
      struct(payload.map(col): _*).as("__graft_cdc_b"): _*)
    // atomic row pick keyed on the match marker (NOT per-column
    // coalesce, which would stitch base values under an update's
    // intentional nulls); a null op in the changelog counts as an
    // upsert, only the exact deleteOp removes
    val row = when(col("__graft_cdc_has"), col("__graft_cdc_c"))
      .otherwise(col("__graft_cdc_b"))
    bSide.join(cSide, keys, "full_outer")
      .filter(col("__graft_cdc_op").isNull ||
        col("__graft_cdc_op") =!= deleteOp)
      .withColumn("__graft_cdc_row", row)
      .select(keys.map(col) ++ payload.map(c =>
        col(s"__graft_cdc_row.$c").as(c)): _*)
  }

  def rangeJoin(points: DataFrame, intervals: DataFrame, ptCol: String,
      startCol: String, endCol: String, binWidth: Long): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    val bin = "__graft_range_bin"
    val binnedPts = points.withColumn(bin,
      floor(col(ptCol) / binWidth).cast("long"))
    val binnedIvs = intervals.withColumn(bin,
      explode(sequence(
        floor(col(startCol) / binWidth).cast("long"),
        floor(col(endCol) / binWidth).cast("long"))))
    binnedPts.join(binnedIvs, Seq(bin))
      .filter(col(ptCol) >= col(startCol) && col(ptCol) <= col(endCol))
      .drop(bin)
  }

  /** INTERVAL×INTERVAL overlap join — [[rangeJoin]]'s two-sided
    * sibling (concurrent sessions, outage windows against maintenance
    * windows, validity-period reconciliation): every (left, right)
    * pair whose CLOSED intervals `[lStart, lEnd]` ∩ `[rStart, rEnd]`
    * is non-empty, each pair emitted EXACTLY ONCE.
    *
    * Spark plans the naive `a.s <= b.t && b.s <= a.t` join as a
    * nested loop — the 100 TB melt. Here both sides explode to one
    * row per `binWidth`-bucket they span and meet in a hash EQUI-join
    * on the bucket (AQE/skew-split eligible; the shuffle carries
    * interval rows × their bin fan-out, never a cross product), with
    * the true overlap predicate as the residual filter. A pair whose
    * intervals share k buckets would match k times; the CANONICAL-BIN
    * conjunct — the bucket containing `greatest(lStart, rStart)`,
    * which overlap guarantees lies in BOTH intervals — pins each pair
    * to exactly one bucket, so no `distinct` (and no second shuffle)
    * is needed.
    *
    * Bounds columns must be integral (epoch seconds, not timestamps).
    * Malformed intervals (`end < start`) are dropped, matching the
    * empty overlap they'd produce under the naive join. Intervals
    * spanning more than `maxBinsPerInterval` buckets raise an error
    * at run time rather than silently exploding the candidate volume
    * — size `binWidth` to the typical interval length (the
    * [[rangeJoin]]/RangeJoinRewrite guidance) and filter open-ended
    * sentinels upstream.
    */
  def intervalOverlapJoin(left: DataFrame, right: DataFrame,
      lStart: String, lEnd: String, rStart: String, rEnd: String,
      binWidth: Long, maxBinsPerInterval: Long = 1024L): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    require(maxBinsPerInterval > 0, "maxBinsPerInterval must be positive")
    val binL = "__graft_iv_bin_l"
    val binR = "__graft_iv_bin_r"
    def binned(df: DataFrame, s: String, e: String, bin: String) = {
      val lo = floor(col(s) / binWidth).cast("long")
      val hi = floor(col(e) / binWidth).cast("long")
      df.filter(col(e) >= col(s))
        .withColumn(bin, explode(sequence(lo,
          when(hi - lo < maxBinsPerInterval, hi).otherwise(raise_error(
            concat(lit(s"interval spans more than $maxBinsPerInterval " +
              s"bins of width $binWidth at "), col(s).cast("string")))
            .cast("long")))))
    }
    val lb = binned(left, lStart, lEnd, binL)
    val rb = binned(right, rStart, rEnd, binR)
    lb.join(rb, col(binL) === col(binR) &&
        col(lStart) <= col(rEnd) && col(rStart) <= col(lEnd) &&
        col(binL) === floor(greatest(col(lStart), col(rStart)) / binWidth)
          .cast("long"))
      .drop(binL, binR)
  }
}
