package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Streaming semantics of the host-metric pipeline (SURVEY §2.9).
  *
  * The reference hand-rolls micro-batch incremental ingestion:
  * a 25 h lookback for a 24 h cadence (1 h deliberate overlap,
  * `extract.py:29-31`), drops not-yet-mature points ("ramdisk spool
  * hasn't emptied", `extract.py:94-95`), and anti-joins against the
  * previous run's payload file to undo the overlap
  * (`extract.py:115-132`). Structured Streaming expresses all three
  * declaratively: watermark = maturity horizon, state store = the
  * `_last.txt` snapshot, `dropDuplicatesWithinWatermark` = the
  * anti-join.
  *
  * The stateful twins of the batch operators share two folds.
  * [[keyedFold]] runs every one of them: the null gate, the
  * collision-free grouping key and the one `flatMapGroupsWithState`.
  * [[inOrderFold]], built on it, holds the in-order contract of the
  * six twins whose recursion consumes an entity's rows one at a time
  * (cusum, Holt, Holt-Winters, flap detection, hard/soft state,
  * notifications); each of them stores `(twin state, (micros, tie))`,
  * its own state next to the last consumed (event-time, tiebreak)
  * position.
  *
  * Scale: the watermark bounds dedup state retention, the fix SURVEY
  * §7.4.3 calls out for the reference's O(run size) snapshot diff.
  */
object StreamingDedup {

  /** Watermarked cross-batch dedup over a streaming frame: rows that
    * re-arrive within `horizon` of the max seen event time (the
    * reference's 1 h overlap re-fetch) are emitted once. The dedup key
    * is the full row identity: the stream keys its state on the typed
    * columns themselves, so no row hash is built. The state store
    * compares keys by their binary form, so null matches null, `-0.0`
    * stays apart from `0.0` and NaN matches NaN, as the reference's
    * `json.dumps` row text does.
    */
  def dedupedStream(stream: DataFrame, tsCol: String, horizon: String)
      : DataFrame =
    stream.withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark(stream.columns.toSeq)

  /** Late-data gate: windowed per-key aggregation with watermarking —
    * points later than `horizon` behind the stream's max event time are
    * dropped (never aggregated), reproducing the reference's "skip
    * recent entries whose rrd data isn't written" maturity rule as an
    * engine guarantee instead of an overlap heuristic.
    */
  def windowedCounts(stream: DataFrame, tsCol: String, keyCol: String,
      horizon: String, window: String): DataFrame =
    stream
      .withWatermark(tsCol, horizon)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window),
        col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Latest-state-per-key over a stream (the status-snapshot semantics
    * of §3.2, `url...py:60-64`): flatMapGroupsWithState keeping one row
    * of state per key would be the unbounded-stream form; for the
    * harness's bounded micro-batch replay, `max_by` per key in update
    * mode expresses the same contract declaratively.
    */
  def latestPerKeyStream(stream: DataFrame, keyCol: String, tsCol: String,
      valueCols: Seq[String]): DataFrame =
    stream
      .groupBy(col(keyCol))
      .agg(max(col(tsCol)).as(tsCol),
        valueCols.map(c => max_by(col(c), col(tsCol)).as(c)): _*)

  /** The unbounded-stream form of [[latestPerKeyStream]]: one row of
    * state per key via [[keyedFold]], with EVENT-TIME STATE
    * EVICTION — what §2.9 actually promises at scale, where the
    * declarative `max_by` form's complete-mode state grows with the
    * key universe forever.
    *
    * Contract: append mode; a key's latest row is emitted exactly once,
    * when the key has been quiet for `horizon` of event time (the
    * status-snapshot "flush on quiet" semantics of `url...py:60-64`).
    * State is then removed, so total state is bounded by the number of
    * concurrently-active keys, not all keys ever seen. A key that
    * re-appears after eviction starts a fresh state epoch.
    *
    * Rows with a null key or null event time are DROPPED at entry
    * ([[keyedFold]]'s gate). Ties at equal event time
    * resolve to an arbitrary-but-single row of that timestamp (stream
    * shuffle order is not deterministic), matching `dropDuplicates`'s
    * tie behavior rather than the batch forms' tieBreak-column order.
    */
  def latestPerKeyStateful(stream: DataFrame, keyCol: String, tsCol: String,
      horizon: String): DataFrame = {
    val twin = "latestPerKeyStateful"
    eventTimeType(twin, stream.schema, tsCol)
    val tsIdx = stream.schema.fieldIndex(tsCol)
    val ms = (r: Row) => Math.floorDiv(tsMicrosOf(r.get(tsIdx)), 1000L)
    // state is one input Row — kryo: the state payload never crosses a
    // SQL boundary
    keyedFold(twin, stream, Seq(keyCol), Seq(tsCol), Encoders.kryo[Row],
        stream.schema, GroupStateTimeout.EventTimeTimeout,
        _.withWatermark(tsCol, horizon)) { (_, rows, state) =>
      if (state.hasTimedOut) {
        val out = state.get
        state.remove()
        Iterator.single(out)
      } else {
        val latest = (state.getOption.iterator ++ rows.iterator).maxBy(ms)
        state.update(latest)
        // timeout must land strictly past the current watermark;
        // horizon > 0 guarantees it from the max() base
        state.setTimeoutTimestamp(
          math.max(ms(latest), state.getCurrentWatermarkMs()), horizon)
        Iterator.empty
      }
    }
  }

  /** Stream-stream interval join (§2.9 engine surface): each fact row
    * pairs with the dimension rows of the same key whose event time is
    * at or before the fact's and at most `maxAge` older — the
    * streaming form of "enrich with the dimension version that was
    * current at fact time" (the batch as-of join's windowed
    * approximation; true as-of needs per-key ordered state).
    *
    * BOTH sides are watermarked and the join condition is
    * time-BOUNDED in both directions — that is what lets Spark drop
    * buffered rows: a dim row older than watermark + maxAge can never
    * match a future fact and is evicted, so state is bounded by
    * (arrival rate × (horizon + maxAge)), not the stream's history.
    * An unbounded condition would buffer both streams forever — the
    * classic stream-join OOM.
    *
    * Column contract: `facts` carries (key, factTs, ...), `dims`
    * carries (key, dimTs, ...) with otherwise disjoint column names;
    * the dim key column is renamed internally for the non-equi
    * condition.
    */
  def streamIntervalJoin(facts: DataFrame, dims: DataFrame, keyCol: String,
      factTs: String, dimTs: String, horizon: String, maxAge: String)
      : DataFrame = {
    val dimKey = "__dim_key"
    val f = facts.withWatermark(factTs, horizon)
    val d = dims.withColumnRenamed(keyCol, dimKey)
      .withWatermark(dimTs, horizon)
    f.join(d,
      col(keyCol) === col(dimKey) &&
        col(dimTs) <= col(factTs) &&
        col(factTs) <= col(dimTs) + expr(s"INTERVAL $maxAge"))
      .drop(dimKey)
  }

  /** Exactly-once sink contract (K4/K5 streaming form): idempotent
    * foreachBatch writer — each batch lands in its own
    * `__batch_id=<id>` partition under dynamic partition overwrite, so
    * a retried batch REPLACES its partition instead of appending
    * duplicates. The reference's equivalent is the dated backup +
    * manual replay (`load_to_db.py:60-62`).
    *
    * Layout contract: `out` must be a fresh directory (or one written
    * by this sink). Directories written by a root-level append sink
    * can't be upgraded in place — dynamic overwrite never removes old
    * root files, and `__batch_id` becomes a partition column
    * (partition-inferred integer type) rather than a data column.
    */
  def foreachBatchParquetSink(out: String)(df: DataFrame, batchId: Long): Unit =
    df.withColumn("__batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch_id")
      .parquet(out)

  /** Order-preserving string encoding for a tiebreak value of the
    * given type: encoded strings compare lexicographically exactly as
    * the native values compare in the batch window's
    * `orderBy(tieBreakCol)` — integral types via sign-flipped
    * fixed-width hex, float/double via the IEEE total-order bit
    * trick, timestamps via epoch micros, strings as themselves
    * (type-prefixed so encodings never mix). Decimals ride the double
    * path (a tiebreak needs order, not 38-digit exactness). Any other
    * type is refused at construction, naming `twin`.
    */
  private[graft] def sortableTie(twin: String, dt: DataType)
      : Any => String = {
    def rawHex(l: Long): String = f"$l%016x" // unsigned 16-digit hex
    def hex16(l: Long): String = rawHex(l ^ Long.MinValue)
    def dblKey(d: Double): String = {
      // IEEE sortable-bits map: negatives flip ALL bits, positives
      // flip the sign bit only — then the raw unsigned hex IS the
      // order (hex16 would flip the sign bit a second time)
      val b = java.lang.Double.doubleToLongBits(d)
      rawHex(if (b < 0) ~b else b | Long.MinValue) // incl. -0.0 < 0.0
    }
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        v => "n" + hex16(v.asInstanceOf[Number].longValue())
      case FloatType | DoubleType =>
        v => "n" + dblKey(v.asInstanceOf[Number].doubleValue())
      case _: DecimalType =>
        v => "n" + dblKey(v.asInstanceOf[java.math.BigDecimal].doubleValue())
      case DateType =>
        v => "n" + hex16(v match {
          case d: java.sql.Date       => d.toLocalDate.toEpochDay
          case d: java.time.LocalDate => d.toEpochDay
        })
      case TimestampType | TimestampNTZType =>
        v => "n" + hex16(tsMicrosOf(v))
      case BooleanType =>
        v => if (v.asInstanceOf[Boolean]) "n1" else "n0"
      case StringType => v => "s" + String.valueOf(v)
      case other => throw new IllegalArgumentException(
        s"$twin: unsupported tiebreak type ${other.simpleString}")
    }
  }

  /** Epoch micros of a timestamp cell. The JVM value backing it varies
    * with session conf: java.sql.Timestamp classically, java.time.Instant
    * under datetimeJava8API, java.time.LocalDateTime for TIMESTAMP_NTZ.
    */
  private def tsMicrosOf(v: Any): Long = v match {
    case t: java.sql.Timestamp =>
      Math.addExact(Math.multiplyExact(Math.floorDiv(t.getTime, 1000L),
        1000000L), t.getNanos.toLong / 1000L)
    case i: java.time.Instant =>
      Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
        i.getNano.toLong / 1000L)
    case l: java.time.LocalDateTime =>
      tsMicrosOf(l.toInstant(java.time.ZoneOffset.UTC))
    case other => throw new IllegalStateException(
      s"unsupported event-time value ${other.getClass.getName}")
  }

  /** The type of `twin`'s event-time column, checked at construction:
    * a wrong-typed column must not become a ClassCastException inside
    * the stateful function, where the failing batch replays from the
    * checkpoint forever.
    */
  private def eventTimeType(twin: String, schema: StructType,
      tsCol: String): DataType = schema(tsCol).dataType match {
    case t @ (TimestampType | TimestampNTZType) => t
    case dt => throw new IllegalArgumentException(
      s"$twin: event-time column '$tsCol' must be a " +
        s"timestamp, got ${dt.simpleString}")
  }

  private def num(r: Row, i: Int): Double =
    r.get(i).asInstanceOf[Number].doubleValue()

  /** A twin's output schema: its key columns, then `fields`. */
  private def keyed(schema: StructType, keyCols: Seq[String],
      fields: StructField*): StructType =
    StructType(keyCols.map(schema(_)) ++ fields)

  /** The keyed fold every stateful twin runs on: one
    * `flatMapGroupsWithState` in append mode, per key of `keyCols`.
    *
    * Rows with a null key or a null `required` column are DROPPED at
    * entry (the completeness-gate rule): a poison row must not crash a
    * query that replays it from the checkpoint forever. `prep` then
    * shapes the gated rows (a clamp, a watermark) before grouping. The
    * grouping key is the key values as strings, each prefixed with its
    * length, so distinct key tuples never concatenate to the same key
    * (`("1", "2x")` vs `("12", "x")`).
    *
    * `fold` gets the key's values (empty on a timeout call, which has
    * no rows), the key's rows of the batch and its state, and returns
    * the rows to emit, of schema `outSchema`.
    */
  private def keyedFold[S](twin: String, stream: DataFrame,
      keyCols: Seq[String], required: Seq[String], stateEnc: Encoder[S],
      outSchema: StructType,
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout,
      prep: DataFrame => DataFrame = identity)(
      fold: (Seq[Any], Array[Row], GroupState[S]) => Iterator[Row])
      : DataFrame = {
    require(keyCols.nonEmpty, s"$twin needs at least one key")
    val gated = prep(stream.filter(
      (keyCols ++ required).map(col(_).isNotNull).reduce(_ && _)))
    val keyIdx = keyCols.map(gated.schema.fieldIndex)
    gated
      .groupByKey((r: Row) =>
        keyIdx.map { i =>
          val s = String.valueOf(r.get(i)); s"${s.length}:$s"
        }.mkString("|"))(Encoders.STRING)
      .flatMapGroupsWithState[S, Row](OutputMode.Append, timeout) {
        (_: String, rows: Iterator[Row], state: GroupState[S]) =>
          val rs = rows.toArray
          val keys = rs.headOption.fold(Seq.empty[Any])(r => keyIdx.map(r.get))
          fold(keys, rs, state)
      }(stateEnc, Encoders.row(outSchema))
  }

  /** The in-order fold: [[keyedFold]] for the twins whose recursion
    * consumes an entity's rows one at a time, in event-time order.
    *
    * In-order contract: rows within a batch sort by (ts, tiebreak) with
    * the tiebreak's NATIVE ordering ([[sortableTie]]); across batches
    * per-entity arrival must be monotone (the monitoring poller's
    * property). A row at or before the last consumed (ts, tiebreak)
    * position — strictly late, or a replay of that position — is
    * dropped without calling `step` and without advancing state: an
    * order-sensitive recursion never rewrites history (route
    * disordered streams through [[rateStream]]-style watermark
    * buffering upstream, or re-run the batch fold). Rows with a null
    * key, ts, tiebreak or `required` column are dropped at entry.
    *
    * `step` maps (state, row, first row of the entity) to the new state
    * and the values to emit after the keys and the row's ts, if any;
    * they fill `outFields`. The stored state is `(state, (micros,
    * tie))`: the twin's state next to its last consumed position.
    */
  private def inOrderFold[S](twin: String, stream: DataFrame,
      keyCols: Seq[String], tsCol: String, tieBreakCol: String,
      required: Seq[String], zero: S, stateEnc: Encoder[S],
      outFields: StructField*)(
      step: (S, Row, Boolean) => (S, Option[Seq[Any]])): DataFrame = {
    val schema = stream.schema
    eventTimeType(twin, schema, tsCol)
    val tsIdx = schema.fieldIndex(tsCol)
    val tieIdx = schema.fieldIndex(tieBreakCol)
    val tieKey = sortableTie(twin, schema(tieIdx).dataType)
    keyedFold(twin, stream, keyCols, tsCol +: tieBreakCol +: required,
        Encoders.tuple(stateEnc,
          Encoders.tuple(Encoders.scalaLong, Encoders.STRING)),
        keyed(schema, keyCols, schema(tsIdx) +: outFields: _*)) {
      (keys, rows, state) =>
        var s = zero
        var pos: Option[(Long, String)] = None
        state.getOption.foreach { case (s0, p) => s = s0; pos = Some(p) }
        val out = Seq.newBuilder[Row]
        rows.map(r => (tsMicrosOf(r.get(tsIdx)), tieKey(r.get(tieIdx)), r))
          .sortBy(x => (x._1, x._2))
          .foreach { case (m, t, r) =>
            val late = pos.exists { case (lastM, lastT) =>
              m < lastM || (m == lastM && t <= lastT) }
            if (!late) {
              val (next, emit) = step(s, r, pos.isEmpty)
              emit.foreach(vs =>
                out += Row.fromSeq(keys ++ (r.get(tsIdx) +: vs)))
              s = next; pos = Some((m, t))
            }
          }
        pos.foreach(p => state.update((s, p)))
        out.result().iterator
    }
  }

  /** Cross-batch streaming twin of
    * [[graft.operators.TimeSeries.cusum]] — the ALERTING deployment
    * of change-point detection (a drift alarm is only useful live):
    * per-entity state is the (S⁺, S⁻) statistic pair — a few dozen
    * bytes per entity with its position, bounded by fleet size — so
    * the CUSUM recursion continues seamlessly across micro-batches
    * with the exact batch fold semantics (same op order, alarm-reset
    * included: streaming == batch bit-for-bit on in-order input).
    *
    * In order per entity, as [[inOrderFold]] sets out.
    * Output: keys + ts + value + (cusum_pos, cusum_neg, alarm).
    */
  def cusumStream(stream: DataFrame, keyCols: Seq[String], tsCol: String,
      valueCol: String, tieBreakCol: String, target: Double,
      slack: Double, threshold: Double): DataFrame = {
    require(slack >= 0, s"slack must be >= 0, got $slack")
    require(threshold > 0, s"threshold must be > 0, got $threshold")
    val vIdx = stream.schema.fieldIndex(valueCol)
    inOrderFold("cusumStream", stream, keyCols, tsCol, tieBreakCol,
        Seq(valueCol), (0.0, 0.0),
        Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble),
        StructField("value", DoubleType),
        StructField("cusum_pos", DoubleType),
        StructField("cusum_neg", DoubleType),
        StructField("alarm", BooleanType)) {
      case ((sp0, sn0), r, _) =>
        val v = num(r, vIdx)
        // the batch fold's exact op order (CusumFold.result)
        val sp = Math.max(0.0, sp0 + ((v - target) - slack))
        val sn = Math.max(0.0, sn0 + ((target - v) - slack))
        val alarm = sp > threshold || sn > threshold
        (if (alarm) (0.0, 0.0) else (sp, sn), Some(Seq(v, sp, sn, alarm)))
    }
  }

  /** Cross-batch streaming twin of
    * [[graft.operators.TimeSeries.holt]] — live trend smoothing +
    * one-step forecast (the capacity-drift readout is most useful as
    * it happens): per-entity state is the (level, trend) pair, so the
    * Holt recursion continues seamlessly across micro-batches with the
    * exact batch fold op order ([[graft.functions.HoltFold.result]]:
    * l = α·x + (1−α)(l+b) then b = β(l−l_prev) + (1−β)b — streaming
    * == batch bit-for-bit on in-order input). Smoothing complements
    * must be exactly representable, the batch kernel's contract.
    *
    * In order per entity, as [[inOrderFold]] sets out.
    * Output: keys + ts + value + (level, trend, forecast).
    */
  def holtStream(stream: DataFrame, keyCols: Seq[String], tsCol: String,
      valueCol: String, tieBreakCol: String, alpha: Double,
      beta: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(beta >= 0 && beta <= 1, s"beta must be in [0, 1], got $beta")
    require(graft.functions.HoltExpression.exactComplement(alpha) &&
      graft.functions.HoltExpression.exactComplement(beta),
      "holtStream needs exactly-representable 1-alpha and 1-beta " +
        "(the batch HoltFold contract)")
    val vIdx = stream.schema.fieldIndex(valueCol)
    val ca = 1.0 - alpha
    val cb = 1.0 - beta
    inOrderFold("holtStream", stream, keyCols, tsCol, tieBreakCol,
        Seq(valueCol), (0.0, 0.0),
        Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble),
        StructField("value", DoubleType),
        StructField("level", DoubleType),
        StructField("trend", DoubleType),
        StructField("forecast", DoubleType)) {
      case ((lp, bp), r, first) =>
        val v = num(r, vIdx)
        // the batch fold's exact op order (HoltFold.result)
        val (l, b) =
          if (first) (v, 0.0)
          else {
            val l = alpha * v + ca * (lp + bp)
            (l, beta * (l - lp) + cb * bp)
          }
        ((l, b), Some(Seq(v, l, b, l + b)))
    }
  }

  /** One check through the soft/hard confirmation chain of
    * [[hardSoftStateStream]] and [[notificationStream]], the batch
    * operator's exact semantics one row at a time: from the previous
    * check's OK flag, the retry position and the prevailing hard state
    * (null before the first confirmation), the new (ok, position, hard
    * check?, hard state, changed?). The retry ordinal spans differing
    * non-OK states and OK resets it to 1; a first confirmed OK is NOT
    * a change (the okState-gated rule of the batch `hard_change`).
    */
  private def confirm(prevOk: Boolean, pos0: Long, hardState: String,
      sv: String, first: Boolean, okState: String, maxAttempts: Int)
      : (Boolean, Long, Boolean, String, Boolean) = {
    val ok = sv == okState
    val pos = if (first || ok != prevOk) 1L else pos0 + 1L
    val hard = ok || pos >= maxAttempts.toLong
    val newHard = if (hard) sv else hardState
    val changed = newHard != null && (
      if (hardState == null) newHard != okState
      else hardState != newHard)
    (ok, pos, hard, newHard, changed)
  }

  /** Cross-batch streaming twin of
    * [[graft.operators.Behavior.hardSoftState]] — the notification
    * path a live monitor actually runs (Nagios confirms a problem
    * over `maxAttempts` retries BEFORE paging; batch replay is the
    * audit view, this is the pager): per-entity state is the retry
    * counter position, the previous check's OK flag and the prevailing
    * confirmed (hard) state — a few dozen bytes per entity, bounded by
    * fleet size — so the soft/hard confirmation continues seamlessly
    * across micro-batches with the exact batch semantics: the retry
    * ordinal spans differing non-OK states, OK resets to 1 and is
    * immediately hard, `hard_change` fires on confirmed-state changes
    * and never on a healthy first confirmation (streaming == batch
    * row-for-row on in-order input — StreamingSpec pins the parity).
    *
    * In order per entity, as [[inOrderFold]] sets out: a retry counter
    * never rewrites history.
    * Output: keys + ts + (state, attempt, state_type, hard_state,
    * hard_change).
    */
  def hardSoftStateStream(stream: DataFrame, keyCols: Seq[String],
      stateCol: String, tsCol: String, tieBreakCol: String,
      okState: String, maxAttempts: Int = 3): DataFrame = {
    require(maxAttempts >= 1, "maxAttempts must be >= 1")
    val stIdx = stream.schema.fieldIndex(stateCol)
    // (prevOk, posInRun, hardStateOrNull)
    inOrderFold("hardSoftStateStream", stream, keyCols, tsCol, tieBreakCol,
        Seq(stateCol), (false, 0L, null: String),
        Encoders.tuple(Encoders.scalaBoolean, Encoders.scalaLong,
          Encoders.STRING),
        StructField("state", StringType),
        StructField("attempt", LongType),
        StructField("state_type", StringType),
        StructField("hard_state", StringType),
        StructField("hard_change", BooleanType)) {
      case ((prevOk, pos0, hardState), r, first) =>
        val sv = String.valueOf(r.get(stIdx))
        val (ok, pos, hard, newHard, change) =
          confirm(prevOk, pos0, hardState, sv, first, okState, maxAttempts)
        val attempt = if (ok) 1L else math.min(pos, maxAttempts.toLong)
        ((ok, pos, newHard), Some(Seq(sv, attempt,
          if (hard) "HARD" else "SOFT", newHard, change)))
    }
  }

  /** Cross-batch streaming twin of
    * [[graft.operators.Behavior.notificationSchedule]] — the pages a
    * live monitor actually SENDS (batch replay is the audit; this is
    * the pager queue): [[hardSoftStateStream]]'s confirmation fold
    * extended with the episode anchor — per entity, the state adds
    * the current episode's start epoch and the last notified slot, so
    * the initial page fires the moment a problem confirms, repeats
    * fire at the first check of each elapsed `intervalSeconds` slot,
    * and a confirmed state CHANGE re-anchors the episode — all across
    * micro-batch boundaries (streaming == batch row-for-row on
    * in-order input; StreamingSpec pins parity and a mid-episode
    * restart). In order per entity, as [[inOrderFold]] sets out.
    * Output: keys + ts + (state, notification_no, escalated).
    */
  def notificationStream(stream: DataFrame, keyCols: Seq[String],
      stateCol: String, tsCol: String, tieBreakCol: String,
      okState: String, maxAttempts: Int = 3,
      intervalSeconds: Long = 3600L,
      escalateAfter: Long = 2L): DataFrame = {
    require(maxAttempts >= 1, "maxAttempts must be >= 1")
    require(intervalSeconds > 0, "intervalSeconds must be positive")
    require(escalateAfter >= 1, "escalateAfter must be >= 1")
    val stIdx = stream.schema.fieldIndex(stateCol)
    val tsIdx = stream.schema.fieldIndex(tsCol)
    val noEpisode = (Long.MinValue, -1L, 0L)
    // ((prevOk, pos, hardState), (epStartE, lastSlot, nextOrdinal))
    inOrderFold("notificationStream", stream, keyCols, tsCol, tieBreakCol,
        Seq(stateCol), ((false, 0L, null: String), noEpisode),
        Encoders.tuple(
          Encoders.tuple(Encoders.scalaBoolean, Encoders.scalaLong,
            Encoders.STRING),
          Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
            Encoders.scalaLong)),
        StructField("state", StringType),
        StructField("notification_no", LongType),
        StructField("escalated", BooleanType)) {
      case (((prevOk, pos0, hard0), episode), r, first) =>
        val sv = String.valueOf(r.get(stIdx))
        val (ok, pos, _, hardState, changed) =
          confirm(prevOk, pos0, hard0, sv, first, okState, maxAttempts)
        val conf = (ok, pos, hardState)
        // episode anchoring + slot gating (the batch operator's
        // islands/slots, sequentially)
        val e = Math.floorDiv(tsMicrosOf(r.get(tsIdx)), 1000000L)
        if (hardState != null && hardState != okState) {
          val (epStart, lastSlot, ordinal) =
            if (changed) (e, -1L, 0L) else episode
          val slot = (e - epStart) / intervalSeconds
          if (slot > lastSlot)
            ((conf, (epStart, slot, ordinal + 1L)),
              Some(Seq(hardState, ordinal, ordinal >= escalateAfter)))
          else ((conf, (epStart, lastSlot, ordinal)), None)
        } else if (changed) {
          // recovery closes the episode (no page row)
          ((conf, noEpisode), None)
        } else ((conf, episode), None)
    }
  }

  /** Cross-batch streaming twin of
    * [[graft.operators.TimeSeries.holtWinters]] — live seasonal
    * smoothing + one-step forecast: per-entity state is the row
    * position, the (level, trend) pair, the warmup buffer (≤ period
    * samples) and the `period`-slot seasonal ring — O(period) doubles
    * per entity, bounded by fleet size — so the triple-exponential
    * recursion continues seamlessly across micro-batches with the
    * exact batch fold op order ([[graft.functions.HoltWintersFold
    * .result]]: left-to-right warmup mean, then the fixed
    * level/trend/season/forecast sequence — streaming == batch
    * bit-for-bit on in-order input; the warmup emits nothing on both
    * sides). Smoothing complements must be exactly representable,
    * the batch kernel's contract.
    *
    * In order per entity, as [[inOrderFold]] sets out.
    * Output: keys + ts + value + (level, trend, season, forecast).
    */
  def holtWintersStream(stream: DataFrame, keyCols: Seq[String],
      tsCol: String, valueCol: String, tieBreakCol: String,
      alpha: Double, beta: Double, gamma: Double,
      period: Int): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    require(graft.functions.HoltExpression.exactComplement(alpha) &&
      graft.functions.HoltExpression.exactComplement(beta) &&
      graft.functions.HoltExpression.exactComplement(gamma),
      "holtWintersStream needs exactly-representable complements " +
        "(the batch HoltWintersFold contract)")
    val vIdx = stream.schema.fieldIndex(valueCol)
    val ca = 1.0 - alpha
    val cb = 1.0 - beta
    val cg = 1.0 - gamma
    // ((i, l, b), warmupBuf, ring)
    inOrderFold("holtWintersStream", stream, keyCols, tsCol, tieBreakCol,
        Seq(valueCol), ((0L, 0.0, 0.0), Seq.empty[Double], Seq.empty[Double]),
        Encoders.product[((Long, Double, Double), Seq[Double], Seq[Double])],
        StructField("value", DoubleType),
        StructField("level", DoubleType),
        StructField("trend", DoubleType),
        StructField("season", DoubleType),
        StructField("forecast", DoubleType)) {
      case (((i, lp, bp), buf0, ring0), r, _) =>
        val v = num(r, vIdx)
        if (i < period) {
          // warmup rows emit nothing — the batch contract
          val buf = buf0 :+ v
          if (i == period - 1) {
            // the batch fold's exact warmup: left-to-right mean
            val l = buf.foldLeft(0.0)(_ + _) / period
            (((i + 1, l, 0.0), Seq.empty, buf.map(_ - l)), None)
          } else (((i + 1, lp, bp), buf, ring0), None)
        } else {
          val k = (i % period).toInt
          val sOld = ring0(k)
          val l = alpha * (v - sOld) + ca * (lp + bp)
          val b = beta * (l - lp) + cb * bp
          val ring = ring0.updated(k, gamma * (v - l) + cg * sOld)
          (((i + 1, l, b), buf0, ring), Some(Seq(v, l, b, ring(k),
            l + b + ring(((i + 1) % period).toInt))))
        }
    }
  }

  /** Cross-batch streaming twin of
    * [[graft.operators.Behavior.flapDetection]] — the live flap
    * suppressor (Nagios damps notifications WHILE a service
    * oscillates; detecting it after the fact is an audit, not a
    * suppressor): per-entity state is the trailing `historyLen−1`
    * state-change flags (one bit each), the previous raw state and the
    * current flapping verdict — O(historyLen) bits per entity, bounded
    * by fleet size. Each arriving check recomputes the exact-rational
    * weighted change percentage from the flag window (the SAME
    * integer `num` the batch windows produce) and applies the strict
    * high/low hysteresis, so streaming == batch row-for-row on
    * in-order input, with the flag window and the flapping verdict
    * crossing batch boundaries intact (StreamingSpec pins parity).
    *
    * In order per entity, as [[inOrderFold]] sets out.
    * Output: keys + ts + (state, pct, flapping).
    */
  def flapDetectionStream(stream: DataFrame, keyCols: Seq[String],
      stateCol: String, tsCol: String, tieBreakCol: String,
      highPct: Double = 20.0, lowPct: Double = 5.0,
      historyLen: Int = 21): DataFrame = {
    require(historyLen >= 3, "flapDetectionStream needs historyLen >= 3")
    val m = historyLen - 1
    val denom = 5L * m.toLong * (m - 1)
    val hiCut = highPct * denom / 100.0
    val loCut = lowPct * denom / 100.0
    val stIdx = stream.schema.fieldIndex(stateCol)
    // (chgBits newest-last, prevState, flapping)
    inOrderFold("flapDetectionStream", stream, keyCols, tsCol, tieBreakCol,
        Seq(stateCol), ("", "", false),
        Encoders.tuple(Encoders.STRING, Encoders.STRING,
          Encoders.scalaBoolean),
        StructField("state", StringType),
        StructField("pct", DoubleType),
        StructField("flapping", BooleanType)) {
      case ((bits0, prevState, flap0), r, first) =>
        val sv = String.valueOf(r.get(stIdx))
        val chg = if (!first && sv != prevState) '1' else '0'
        val bits = (bits0 :+ chg).takeRight(m)
        // the batch windows' exact integer: Σ chg_d·(6(m−1)−2d),
        // d = distance back (0 = this row)
        val weighted = bits.reverse.zipWithIndex.collect {
          case ('1', d) => 6L * (m - 1) - 2L * d }.sum
        val pct = graft.functions.DecimalRound.fastRound(
          weighted.toDouble * 100.0 / denom.toDouble, 6)
        val flapping =
          if (weighted.toDouble > hiCut) true
          else if (weighted.toDouble < loCut) false
          else flap0
        ((bits, sv, flapping), Some(Seq(sv, pct, flapping)))
    }
  }

  /** Cross-batch streaming twin of
    * [[graft.operators.TimeSeries.counterRate]]: per-entity state is
    * the LAST (epoch-second, value) sample — 16 bytes per entity,
    * bounded by fleet size — so a counter's rate stream continues
    * seamlessly across micro-batches with the exact batch semantics
    * (reset means increase = raw value; duplicate-timestamp rows
    * advance the state but emit nothing; rounding via the same
    * fast-round chain, so streaming == batch bit-for-bit). It runs on
    * [[keyedFold]] with its own ordering loop, since its late rule
    * works per epoch second.
    *
    * Ordering contract:
    *  - `lateness = None` (in-order mode): rows within a batch sort by
    *    (ts, tiebreak) with the tiebreak's NATIVE ordering; across
    *    batches per-entity arrival must be monotone (the monitoring
    *    poller's property). A strictly-late sample (older than the
    *    state) is dropped without advancing state — a rate stream
    *    never rewrites history.
    *  - `lateness = Some(d)` (out-of-order mode): the stream is
    *    watermarked at `d` and each entity buffers the not-yet-final
    *    samples (those the watermark has not passed — bounded by d
    *    times the entity's sample rate). A sample is consumed only
    *    once no earlier sample can still arrive, so any reordering
    *    within `d` produces the exact batch output; samples later
    *    than `d` are dropped by the engine's watermark filter before
    *    they reach the operator (the documented too-late semantics).
    *    Buffered tails drain via an event-time timeout pinned to the
    *    earliest buffered sample, so an entity flushes even when only
    *    OTHER entities advance the watermark (feed a heartbeat past
    *    max(ts)+d to drain a finite replay).
    */
  def rateStream(stream: DataFrame, keyCols: Seq[String], tsCol: String,
      valueCol: String, tieBreakCol: String,
      lateness: Option[String] = None): DataFrame = {
    val twin = "rateStream"
    val schema = stream.schema
    val tsIdx = schema.fieldIndex(tsCol)
    val vIdx = schema.fieldIndex(valueCol)
    val tieIdx = schema.fieldIndex(tieBreakCol)
    val ntz = eventTimeType(twin, schema, tsCol) == TimestampNTZType
    val tieKey = sortableTie(twin, schema(tieIdx).dataType)
    // state carries the key values so a timeout invocation (no rows)
    // can still emit fully-keyed output
    val stateSchema = StructType(Seq(
      StructField("hasLast", BooleanType, nullable = false),
      StructField("lastE", LongType, nullable = false),
      StructField("lastV", DoubleType, nullable = false),
      StructField("buf", ArrayType(StructType(Seq(
        StructField("micros", LongType, nullable = false),
        StructField("tie", StringType, nullable = false),
        StructField("v", DoubleType, nullable = false))),
        containsNull = false), nullable = false),
      StructField("keys", StructType(keyCols.map(schema(_))),
        nullable = false)))
    def tsOut(micros: Long): Any = {
      val inst = java.time.Instant.ofEpochSecond(
        Math.floorDiv(micros, 1000000L),
        Math.floorMod(micros, 1000000L) * 1000L)
      if (ntz) java.time.LocalDateTime.ofInstant(inst,
        java.time.ZoneOffset.UTC)
      else java.sql.Timestamp.from(inst)
    }
    val watermarked = lateness.fold(stream)(stream.withWatermark(tsCol, _))
    val timeoutConf =
      if (lateness.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    keyedFold(twin, watermarked, keyCols, Seq(tsCol, valueCol, tieBreakCol),
        Encoders.row(stateSchema),
        keyed(schema, keyCols, schema(tsIdx),
          StructField("value", DoubleType),
          StructField("increase", DoubleType),
          StructField("rate_per_s", DoubleType)),
        timeoutConf) { (keys, rs, state) =>
      val st = state.getOption
      if (rs.isEmpty && st.isEmpty) Iterator.empty
      else {
        val keyVals = if (keys.nonEmpty) keys else st.get.getStruct(4).toSeq
        var hasLast = st.exists(_.getBoolean(0))
        var lastE = st.fold(0L)(_.getLong(1))
        var lastV = st.fold(0.0)(_.getDouble(2))
        val buf: Seq[(Long, String, Double)] = st.fold(
          Seq.empty[(Long, String, Double)])(_.getSeq[Row](3).map(b =>
            (b.getLong(0), b.getString(1), b.getDouble(2))))
        val incoming = rs.iterator.map(r => (
          tsMicrosOf(r.get(tsIdx)), tieKey(r.get(tieIdx)),
          num(r, vIdx))).toSeq
        val all = (buf ++ incoming).sortBy(s => (s._1, s._2))
        // a sample is final once no future batch can deliver an
        // earlier one: the engine drops rows below the watermark,
        // so strictly-below-watermark buffered samples are safe
        val wmMs =
          if (lateness.isDefined) state.getCurrentWatermarkMs()
          else Long.MaxValue
        val wmMicros =
          if (wmMs >= Long.MaxValue / 1000L) Long.MaxValue
          else wmMs * 1000L
        val (ready, pending) = all.partition(s =>
          lateness.isEmpty || s._1 < wmMicros)
        val out = Seq.newBuilder[Row]
        ready.foreach { s =>
          val e = Math.floorDiv(s._1, 1000000L)
          if (!hasLast) { hasLast = true; lastE = e; lastV = s._3 }
          else if (e > lastE) {
            val rawInc = if (s._3 >= lastV) s._3 - lastV else s._3
            out += Row.fromSeq(keyVals ++ Seq(
              tsOut(s._1), s._3,
              graft.functions.DecimalRound.fastRound(rawInc, 6),
              graft.functions.DecimalRound.fastRound(
                rawInc / (e - lastE), 6)))
            lastE = e; lastV = s._3
          } else if (e == lastE) {
            lastV = s._3 // duplicate ts: advance, emit none
          } // strictly late vs state: drop, keep state
        }
        state.update(Row(hasLast, lastE, lastV,
          pending.map(p => Row(p._1, p._2, p._3)),
          Row.fromSeq(keyVals)))
        if (lateness.isDefined && pending.nonEmpty) {
          // wake this entity once the watermark passes its oldest
          // buffered sample, even if no more of ITS data arrives
          val earliestMs = Math.floorDiv(pending.head._1, 1000L)
          state.setTimeoutTimestamp(Math.max(earliestMs, wmMs + 1L))
        }
        out.result().iterator
      }
    }
  }

  /** Fold one closed interval into a sorted disjoint island list,
    * merging overlaps AND adjacency (covered length is identical
    * either way; the state stays canonical). Shared by
    * [[availabilityStream]] and [[burnRateStream]].
    */
  private def insertIsland(islands: List[(Long, Long)], lo: Long,
      hi: Long): List[(Long, Long)] = {
    val (left, rest) = islands.span(_._2 < lo - 1)
    val (overlap, right) = rest.span(_._1 <= hi + 1)
    val merged =
      if (overlap.isEmpty) (lo, hi)
      else (math.min(lo, overlap.head._1), math.max(hi, overlap.last._2))
    left ::: merged :: right
  }

  private def coveredS(is: Seq[(Long, Long)]): Long =
    is.iterator.map { case (l, h) => h - l + 1 }.sum

  /** The batch operator's exact integer HALF_UP parts-per-million. */
  private def ppm(covered: Long, windowS: Long): Long =
    (covered * 2000000L + windowS) / (2L * windowS)

  /** Cross-batch streaming twin of
    * [[graft.operators.TimeSeries.availability]] — the LIVE SLA
    * readout: coverage of a FIXED `[windowLo, windowHi]` per key,
    * updated as activity intervals arrive. Per-key state is the
    * merged disjoint islands of the window-clamped intervals (sorted
    * `Seq[(lo, hi)]` — bounded by the window's island count, never by
    * stream length). A batch that CHANGES a key's coverage emits one
    * row `(keys, covered_s, window_s, availability_ppm)` with the
    * batch operator's exact integer-ppm arithmetic — append mode, the
    * dashboard upserts by key on read. Duplicate and out-of-order
    * intervals are absorbed by construction (interval union is
    * commutative and idempotent), so NO watermark is needed for
    * correctness and nothing is ever dropped as late; a re-delivered
    * interval changes nothing and emits nothing. Batch == stream:
    * after any prefix of batches the last emitted row per key equals
    * the batch [[graft.operators.TimeSeries.availability]] over the
    * union of all intervals so far (spec-pinned). State compaction
    * merges ADJACENT islands too (lo == prev hi + 1) — covered_s is
    * identical either way (closed lengths sum), the state just stays
    * canonical.
    */
  def availabilityStream(stream: DataFrame, keyCols: Seq[String],
      loCol: String, hiCol: String, windowLo: Long,
      windowHi: Long): DataFrame = {
    require(windowHi >= windowLo, "window must be non-empty")
    val windowS = windowHi - windowLo + 1
    keyedFold("availabilityStream", stream, keyCols, Seq(loCol, hiCol),
        Encoders.product[Tuple1[Seq[(Long, Long)]]],
        keyed(stream.schema, keyCols,
          StructField("covered_s", LongType),
          StructField("window_s", LongType),
          StructField("availability_ppm", LongType)),
        prep = _.select(keyCols.map(col) ++ Seq(
            greatest(col(loCol).cast("long"), lit(windowLo)).as("__lo"),
            least(col(hiCol).cast("long"), lit(windowHi)).as("__hi")): _*)
          .filter(col("__lo") <= col("__hi"))) { (keys, rs, state) =>
      val before = state.getOption.map(_._1).getOrElse(Seq.empty)
      val islands = rs.foldLeft(before.toList) { (is, r) =>
        insertIsland(is, r.getAs[Long]("__lo"), r.getAs[Long]("__hi")) }
      val cov = coveredS(islands)
      state.update(Tuple1(islands))
      if (cov == coveredS(before)) Iterator.empty
      else Iterator.single(Row.fromSeq(keys ++ Seq[Any](
        cov, windowS, ppm(cov, windowS))))
    }
  }

  /** Cross-batch streaming form of the `q_burn_rate` SRE alert rule
    * (multi-window error-budget burn, SLO 0.99): ONE stateful fold
    * holds BOTH windows' merged island lists per key — no stream-
    * stream join, no watermark (interval union is idempotent, exactly
    * the [[availabilityStream]] argument). A batch that changes either
    * window's coverage FOR A KEY WITH ACTIVITY IN BOTH WINDOWS emits
    * `(keys, burn_long_ppm, burn_short_ppm, page)` in the batch
    * query's exact integer arithmetic (burn_ppm = (10⁶ −
    * availability_ppm)·100; page ⇔ both burns > 10⁶). Keys covering
    * only one window emit nothing — the batch form's inner join.
    * State per key = two island lists, each bounded by its window's
    * island count.
    */
  def burnRateStream(stream: DataFrame, keyCols: Seq[String],
      loCol: String, hiCol: String, longLo: Long, longHi: Long,
      shortLo: Long, shortHi: Long): DataFrame = {
    require(longHi >= longLo && shortHi >= shortLo,
      "windows must be non-empty")
    val longS = longHi - longLo + 1
    val shortS = shortHi - shortLo + 1
    keyedFold("burnRateStream", stream, keyCols, Seq(loCol, hiCol),
        Encoders.product[(Seq[(Long, Long)], Seq[(Long, Long)])],
        keyed(stream.schema, keyCols,
          StructField("burn_long_ppm", LongType),
          StructField("burn_short_ppm", LongType),
          StructField("page", BooleanType)),
        prep = _.select(keyCols.map(col) ++ Seq(
            col(loCol).cast("long").as("__lo"),
            col(hiCol).cast("long").as("__hi")): _*)
          .filter(col("__lo") <= col("__hi"))) { (keys, rs, state) =>
      val (beforeL, beforeS) =
        state.getOption.getOrElse((Seq.empty, Seq.empty))
      var isL = beforeL.toList
      var isS = beforeS.toList
      rs.foreach { r =>
        val lo = r.getAs[Long]("__lo"); val hi = r.getAs[Long]("__hi")
        val (lLo, lHi) = (math.max(lo, longLo), math.min(hi, longHi))
        if (lLo <= lHi) isL = insertIsland(isL, lLo, lHi)
        val (sLo, sHi) = (math.max(lo, shortLo), math.min(hi, shortHi))
        if (sLo <= sHi) isS = insertIsland(isS, sLo, sHi)
      }
      val (covL, covS) = (coveredS(isL), coveredS(isS))
      val changed =
        covL != coveredS(beforeL) || covS != coveredS(beforeS)
      state.update((isL, isS))
      if (!changed || isL.isEmpty || isS.isEmpty) Iterator.empty
      else {
        val bl = (1000000L - ppm(covL, longS)) * 100L
        val bs = (1000000L - ppm(covS, shortS)) * 100L
        Iterator.single(Row.fromSeq(keys ++ Seq[Any](
          bl, bs, bl > 1000000L && bs > 1000000L)))
      }
    }
  }

  /** Closed-length of the intersection of two sorted disjoint island
    * lists — one linear two-pointer walk, no materialized fragment
    * list. Used by [[availabilityDowntimeAdjustedStream]] to read
    * covered(A∖B) = covered(A) − covered(A∩B) off the per-key state.
    */
  private def intersectS(a: Seq[(Long, Long)],
      b: Seq[(Long, Long)]): Long = {
    val av = a.toIndexedSeq; val bv = b.toIndexedSeq
    var i = 0; var j = 0; var s = 0L
    while (i < av.length && j < bv.length) {
      val lo = math.max(av(i)._1, bv(j)._1)
      val hi = math.min(av(i)._2, bv(j)._2)
      if (lo <= hi) s += hi - lo + 1
      if (av(i)._2 < bv(j)._2) i += 1 else j += 1
    }
    s
  }

  /** Closed-integer island list of `A ∖ B` from two CANONICAL
    * (sorted, disjoint, adjacency-merged) island lists — one linear
    * merge walk. Output fragments are maximal by construction:
    * within one A island consecutive fragments are separated by ≥1
    * B-covered second, and distinct A islands sit ≥2 apart
    * (adjacency-merged), so no two output fragments are adjacent —
    * exactly [[graft.operators.TimeSeries.subtractIntervals]]'s
    * coalescing rule without a coalescing pass.
    */
  private def subtractIslands(a: Seq[(Long, Long)],
      b: Seq[(Long, Long)]): List[(Long, Long)] = {
    val bv = b.toIndexedSeq
    val out = List.newBuilder[(Long, Long)]
    var j = 0
    a.foreach { case (alo, ahi) =>
      while (j < bv.length && bv(j)._2 < alo) j += 1
      var cur = alo
      var k = j
      var open = true
      while (open && cur <= ahi) {
        if (k < bv.length && bv(k)._1 <= ahi) {
          if (bv(k)._1 > cur) out += ((cur, bv(k)._1 - 1))
          cur = math.max(cur, bv(k)._2 + 1)
          k += 1
        } else {
          out += ((cur, ahi))
          open = false
        }
      }
    }
    out.result()
  }

  /** The (up, down) island lists after folding a batch of tagged
    * intervals (`__lo`, `__hi`, `__down`) into them. Shared by
    * [[subtractIntervalsStream]] and
    * [[availabilityDowntimeAdjustedStream]].
    */
  private def insertTagged(up: Seq[(Long, Long)], dn: Seq[(Long, Long)],
      rs: Array[Row]): (List[(Long, Long)], List[(Long, Long)]) =
    rs.foldLeft((up.toList, dn.toList)) { case ((u, d), r) =>
      val (lo, hi) = (r.getAs[Long]("__lo"), r.getAs[Long]("__hi"))
      if (r.getAs[Boolean]("__down")) (u, insertIsland(d, lo, hi))
      else (insertIsland(u, lo, hi), d)
    }

  /** Fragment-level streaming twin of [[graft.operators.TimeSeries
    * .subtractIntervals]] (VERDICT r12 task 8) — the live form of the
    * `q_subtract_intervals` / `q_coverage_gaps` island rows, where
    * [[availabilityDowntimeAdjustedStream]] is the live form of their
    * ppm READOUT: one tagged interval stream (boolean `downCol` marks
    * the B side) folds into the same two merged island lists per key;
    * each batch that changes the key's `A ∖ B` fragment set emits the
    * key's CURRENT maximal fragments — (keys, loCol, hiCol) exactly
    * as the batch operator lays them — stamped with a per-key
    * `emit_seq` so a consumer (and the spec) reads the latest
    * snapshot as the max-seq rows per key. A change to an EMPTY
    * fragment set (new downtime swallowing all coverage) emits one
    * tombstone row with NULL lo/hi at the new seq — the batch
    * operator simply omits the key, and a keyed retraction must be
    * observable downstream, not silent. Duplicate and out-of-order
    * deliveries merge idempotently into the island lists (no change
    * ⇒ no emission); state per key = the two island lists plus the
    * seq counter, bounded by island counts.
    */
  def subtractIntervalsStream(stream: DataFrame, keyCols: Seq[String],
      loCol: String, hiCol: String, downCol: String): DataFrame =
    keyedFold("subtractIntervalsStream", stream, keyCols,
        Seq(loCol, hiCol, downCol),
        Encoders.product[(Seq[(Long, Long)], Seq[(Long, Long)], Long)],
        keyed(stream.schema, keyCols,
          StructField(loCol, LongType, nullable = true),
          StructField(hiCol, LongType, nullable = true),
          StructField("emit_seq", LongType)),
        prep = _.filter(col(loCol).cast("long") <= col(hiCol).cast("long"))
          .select(keyCols.map(col) ++ Seq(
            col(loCol).cast("long").as("__lo"),
            col(hiCol).cast("long").as("__hi"),
            col(downCol).cast("boolean").as("__down")): _*)) {
      (keys, rs, state) =>
        val (beforeUp, beforeDn, seq) =
          state.getOption.getOrElse((Seq.empty, Seq.empty, 0L))
        val (up, dn) = insertTagged(beforeUp, beforeDn, rs)
        val before = subtractIslands(beforeUp, beforeDn)
        val after = subtractIslands(up, dn)
        if (after == before) {
          state.update((up, dn, seq))
          Iterator.empty
        } else {
          val s = seq + 1
          state.update((up, dn, s))
          if (after.isEmpty)
            Iterator.single(Row.fromSeq(keys ++ Seq[Any](null, null, s)))
          else after.iterator.map { case (lo, hi) =>
            Row.fromSeq(keys ++ Seq[Any](lo, hi, s))
          }
        }
    }

  /** Cross-batch streaming twin of [[graft.operators.TimeSeries
    * .availabilityDowntimeAdjusted]] — the live Nagios availability
    * report with scheduled-downtime subtraction. ONE tagged interval
    * stream (a boolean `downCol` marks maintenance windows — downtime
    * announcements are monitoring events too, so a single source is
    * the natural stream shape) folds into TWO merged island lists per
    * key, the [[burnRateStream]] state pattern; each batch that
    * changes either coverage FOR A KEY WITH UPTIME emits the batch
    * operator's exact row: (keys, covered_s, downtime_s, window_s,
    * adjusted_window_s, availability_ppm), all-integer. The
    * subtracted coverage is read off the state as covered(A) −
    * covered(A∩B) (one linear island-list walk, [[intersectS]]) —
    * no fragment list is ever materialized. Duplicate and
    * out-of-order deliveries merge idempotently (the
    * [[availabilityStream]] argument); state per key = two
    * window-clamped island lists, bounded by island counts.
    */
  def availabilityDowntimeAdjustedStream(stream: DataFrame,
      keyCols: Seq[String], loCol: String, hiCol: String,
      downCol: String, windowLo: Long, windowHi: Long): DataFrame = {
    require(windowHi >= windowLo, "window must be non-empty")
    val windowS = windowHi - windowLo + 1
    keyedFold("availabilityDowntimeAdjustedStream", stream, keyCols,
        Seq(loCol, hiCol, downCol),
        Encoders.product[(Seq[(Long, Long)], Seq[(Long, Long)])],
        keyed(stream.schema, keyCols,
          StructField("covered_s", LongType),
          StructField("downtime_s", LongType),
          StructField("window_s", LongType),
          StructField("adjusted_window_s", LongType),
          StructField("availability_ppm", LongType)),
        prep = _.select(keyCols.map(col) ++ Seq(
            greatest(col(loCol).cast("long"), lit(windowLo)).as("__lo"),
            least(col(hiCol).cast("long"), lit(windowHi)).as("__hi"),
            col(downCol).cast("boolean").as("__down")): _*)
          .filter(col("__lo") <= col("__hi"))) { (keys, rs, state) =>
      val (beforeUp, beforeDn) =
        state.getOption.getOrElse((Seq.empty, Seq.empty))
      val (up, dn) = insertTagged(beforeUp, beforeDn, rs)
      val covered = coveredS(up) - intersectS(up, dn)
      val downtime = coveredS(dn)
      // emit on any change of the emitted pair — AND on the first
      // batch that gives the key uptime at all (its first row can
      // have covered 0 when the uptime lies inside existing
      // downtime, indistinguishable from "nothing yet" by values)
      val changed = covered !=
        (coveredS(beforeUp) - intersectS(beforeUp, beforeDn)) ||
        downtime != coveredS(beforeDn) ||
        (beforeUp.isEmpty && up.nonEmpty)
      state.update((up, dn))
      // the batch operator's inner-join convention: only keys
      // with >= 1 pre-subtraction up-second in the window emit
      if (!changed || up.isEmpty) Iterator.empty
      else {
        val adjusted = windowS - downtime
        val p = if (adjusted >= 1) ppm(covered, adjusted) else 0L
        Iterator.single(Row.fromSeq(keys ++ Seq[Any](
          covered, downtime, windowS, adjusted, p)))
      }
    }
  }
}
