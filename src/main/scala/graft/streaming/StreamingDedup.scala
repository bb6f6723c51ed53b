package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

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
  * Scale: the watermark bounds dedup state retention, the fix SURVEY
  * §7.4.3 calls out for the reference's O(run size) snapshot diff.
  */
object StreamingDedup {

  /** Watermarked cross-batch dedup over a streaming frame: rows that
    * re-arrive within `horizon` of the max seen event time (the
    * reference's 1 h overlap re-fetch) are emitted once. The dedup key
    * is the full row identity: the typed columns themselves, as the
    * batch anti-join (`Relational.antiJoinDedup`) keys it, so no row
    * hash is built. The state store compares keys by their binary
    * form, so null matches null, `-0.0` stays apart from `0.0` and NaN
    * matches NaN, as the reference's `json.dumps` row text does.
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
    * state per key via `flatMapGroupsWithState`, with EVENT-TIME STATE
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
    * Rows with a null key or null event time are DROPPED at entry (the
    * completeness-gate rule): a poison row must not crash a query that
    * replays it from the checkpoint forever. Ties at equal event time
    * resolve to an arbitrary-but-single row of that timestamp (stream
    * shuffle order is not deterministic), matching `dropDuplicates`'s
    * tie behavior rather than the batch forms' tieBreak-column order.
    */
  def latestPerKeyStateful(stream: DataFrame, keyCol: String, tsCol: String,
      horizon: String): DataFrame = {
    val schema = stream.schema
    val keyIdx = schema.fieldIndex(keyCol)
    val tsIdx = schema.fieldIndex(tsCol)
    // fail fast at construction: a wrong-typed event-time column must
    // not become a ClassCastException inside the stateful function,
    // where the failing batch replays from the checkpoint forever
    schema(tsIdx).dataType match {
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => ()
      case dt => throw new IllegalArgumentException(
        s"latestPerKeyStateful: event-time column '$tsCol' must be a " +
          s"timestamp, got ${dt.simpleString}")
    }
    val rowEnc: Encoder[Row] = Encoders.row(schema)
    // state is one Row — kryo, since two implicit Encoder[Row] would
    // be ambiguous and the state payload never crosses a SQL boundary
    val stateEnc: Encoder[Row] = Encoders.kryo[Row]

    // the JVM value backing a timestamp cell varies with session conf:
    // java.sql.Timestamp classically, java.time.Instant under
    // datetimeJava8API, java.time.LocalDateTime for TIMESTAMP_NTZ —
    // extract epoch millis tolerantly instead of hard-casting
    def tsMs(r: Row): Long = r.get(tsIdx) match {
      case t: java.sql.Timestamp     => t.getTime
      case i: java.time.Instant      => i.toEpochMilli
      case l: java.time.LocalDateTime =>
        l.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      case other => throw new IllegalStateException(
        s"unsupported event-time value ${other.getClass.getName}")
    }

    stream
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .withWatermark(tsCol, horizon)
      .groupByKey((r: Row) => r.get(keyIdx).toString)(Encoders.STRING)
      .flatMapGroupsWithState[Row, Row](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, rows: Iterator[Row], state: GroupState[Row]) =>
          if (state.hasTimedOut) {
            val out = state.get
            state.remove()
            Iterator.single(out)
          } else {
            val candidates =
              (if (state.exists) Iterator.single(state.get) else Iterator.empty) ++ rows
            val latest = candidates.maxBy(tsMs)
            state.update(latest)
            // timeout must land strictly past the current watermark;
            // horizon > 0 guarantees it from the max() base
            state.setTimeoutTimestamp(
              math.max(tsMs(latest), state.getCurrentWatermarkMs()), horizon)
            Iterator.empty
          }
      }(stateEnc, rowEnc)
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
    * path (a tiebreak needs order, not 38-digit exactness).
    */
  private[graft] def sortableTie(
      dt: org.apache.spark.sql.types.DataType): Any => String = {
    import org.apache.spark.sql.types._
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
        s"rateStream: unsupported tiebreak type ${other.simpleString}")
    }
  }

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

  /** Cross-batch streaming twin of
    * [[graft.operators.TimeSeries.cusum]] — the ALERTING deployment
    * of change-point detection (a drift alarm is only useful live):
    * per-entity state is the (S⁺, S⁻) statistic pair plus the last
    * consumed (event-time, tiebreak) position — a few dozen bytes per
    * entity, bounded by fleet size — so the CUSUM recursion continues
    * seamlessly across micro-batches with the exact batch fold
    * semantics (same op order, alarm-reset included: streaming ==
    * batch bit-for-bit on in-order input).
    *
    * In-order contract (the [[rateStream]] default): rows within a
    * batch sort by (ts, tiebreak) with the tiebreak's NATIVE
    * ordering; across batches per-entity arrival must be monotone. A
    * strictly-late sample is dropped without advancing state — an
    * order-sensitive recursion never rewrites history (route
    * disordered streams through [[rateStream]]-style watermark
    * buffering upstream, or re-run the batch fold).
    * Output: keys + ts + value + (cusum_pos, cusum_neg, alarm).
    */
  def cusumStream(stream: DataFrame, keyCols: Seq[String], tsCol: String,
      valueCol: String, tieBreakCol: String, target: Double,
      slack: Double, threshold: Double): DataFrame = {
    import org.apache.spark.sql.types._
    require(keyCols.nonEmpty, "cusumStream needs at least one key")
    require(slack >= 0, s"slack must be >= 0, got $slack")
    require(threshold > 0, s"threshold must be > 0, got $threshold")
    val schema = stream.schema
    val keyIdx = keyCols.map(schema.fieldIndex)
    val tsIdx = schema.fieldIndex(tsCol)
    val vIdx = schema.fieldIndex(valueCol)
    val tieIdx = schema.fieldIndex(tieBreakCol)
    schema(tsIdx).dataType match {
      case TimestampType | TimestampNTZType => ()
      case dt => throw new IllegalArgumentException(
        s"cusumStream: event-time column '$tsCol' must be a " +
          s"timestamp, got ${dt.simpleString}")
    }
    val tieKey = sortableTie(schema(tieIdx).dataType)
    val outSchema = StructType(
      keyIdx.map(schema(_)) ++ Seq(schema(tsIdx),
        StructField("value", DoubleType),
        StructField("cusum_pos", DoubleType),
        StructField("cusum_neg", DoubleType),
        StructField("alarm", BooleanType)))
    val rowEnc: Encoder[Row] = Encoders.row(outSchema)
    // (sp, sn, lastMicros, lastTie, seen)
    val stateEnc: Encoder[(Double, Double, Long, String, Boolean)] =
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble,
        Encoders.scalaLong, Encoders.STRING, Encoders.scalaBoolean)
    def num(r: Row, i: Int): Double =
      r.get(i).asInstanceOf[Number].doubleValue()
    stream
      .filter(keyCols.map(col(_).isNotNull).reduce(_ && _) &&
        col(tsCol).isNotNull && col(valueCol).isNotNull)
      .groupByKey((r: Row) =>
        keyIdx.map { i =>
          val s = String.valueOf(r.get(i)); s.length + ":" + s
        }.mkString("|"))(Encoders.STRING)
      .flatMapGroupsWithState[(Double, Double, Long, String, Boolean), Row](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[Row],
            state: GroupState[(Double, Double, Long, String, Boolean)]) =>
          val rs = rows.toArray
          val keyVals = keyIdx.map(rs.head.get)
          var (sp, sn, lastM, lastT, seen) = state.getOption
            .getOrElse((0.0, 0.0, Long.MinValue, "", false))
          val ordered = rs.sortBy(r =>
            (tsMicrosOf(r.get(tsIdx)), tieKey(r.get(tieIdx))))
          val out = Seq.newBuilder[Row]
          ordered.foreach { r =>
            val m = tsMicrosOf(r.get(tsIdx))
            val t = tieKey(r.get(tieIdx))
            val late = seen &&
              (m < lastM || (m == lastM && t <= lastT))
            if (!late) {
              val v = num(r, vIdx)
              // the batch fold's exact op order (CusumFold.result)
              sp = Math.max(0.0, sp + ((v - target) - slack))
              sn = Math.max(0.0, sn + ((target - v) - slack))
              val alarm = sp > threshold || sn > threshold
              out += Row.fromSeq(keyVals ++ Seq[Any](r.get(tsIdx), v,
                sp, sn, alarm))
              if (alarm) { sp = 0.0; sn = 0.0 }
              lastM = m; lastT = t; seen = true
            }
          }
          state.update((sp, sn, lastM, lastT, seen))
          out.result().iterator
      }(stateEnc, rowEnc)
  }

  /** Cross-batch streaming twin of
    * [[graft.operators.TimeSeries.holt]] — live trend smoothing +
    * one-step forecast (the capacity-drift readout is most useful as
    * it happens): per-entity state is the (level, trend) pair plus
    * the last consumed (event-time, tiebreak) position, so the Holt
    * recursion continues seamlessly across micro-batches with the
    * exact batch fold op order ([[graft.functions.HoltFold.result]]:
    * l = α·x + (1−α)(l+b) then b = β(l−l_prev) + (1−β)b — streaming
    * == batch bit-for-bit on in-order input). Smoothing complements
    * must be exactly representable, the batch kernel's contract.
    *
    * In-order contract (the [[cusumStream]] one): rows within a batch
    * sort by (ts, tiebreak) with the tiebreak's NATIVE ordering;
    * across batches per-entity arrival must be monotone; a strictly-
    * late sample is dropped without advancing state.
    * Output: keys + ts + value + (level, trend, forecast).
    */
  def holtStream(stream: DataFrame, keyCols: Seq[String], tsCol: String,
      valueCol: String, tieBreakCol: String, alpha: Double,
      beta: Double): DataFrame = {
    import org.apache.spark.sql.types._
    require(keyCols.nonEmpty, "holtStream needs at least one key")
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(beta >= 0 && beta <= 1, s"beta must be in [0, 1], got $beta")
    require(graft.functions.HoltExpression.exactComplement(alpha) &&
      graft.functions.HoltExpression.exactComplement(beta),
      "holtStream needs exactly-representable 1-alpha and 1-beta " +
        "(the batch HoltFold contract)")
    val schema = stream.schema
    val keyIdx = keyCols.map(schema.fieldIndex)
    val tsIdx = schema.fieldIndex(tsCol)
    val vIdx = schema.fieldIndex(valueCol)
    val tieIdx = schema.fieldIndex(tieBreakCol)
    schema(tsIdx).dataType match {
      case TimestampType | TimestampNTZType => ()
      case dt => throw new IllegalArgumentException(
        s"holtStream: event-time column '$tsCol' must be a " +
          s"timestamp, got ${dt.simpleString}")
    }
    val tieKey = sortableTie(schema(tieIdx).dataType)
    val outSchema = StructType(
      keyIdx.map(schema(_)) ++ Seq(schema(tsIdx),
        StructField("value", DoubleType),
        StructField("level", DoubleType),
        StructField("trend", DoubleType),
        StructField("forecast", DoubleType)))
    val rowEnc: Encoder[Row] = Encoders.row(outSchema)
    // (level, trend, lastMicros, lastTie, seen)
    val stateEnc: Encoder[(Double, Double, Long, String, Boolean)] =
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble,
        Encoders.scalaLong, Encoders.STRING, Encoders.scalaBoolean)
    def num(r: Row, i: Int): Double =
      r.get(i).asInstanceOf[Number].doubleValue()
    val ca = 1.0 - alpha
    val cb = 1.0 - beta
    stream
      .filter(keyCols.map(col(_).isNotNull).reduce(_ && _) &&
        col(tsCol).isNotNull && col(valueCol).isNotNull)
      .groupByKey((r: Row) =>
        keyIdx.map { i =>
          val s = String.valueOf(r.get(i)); s.length + ":" + s
        }.mkString("|"))(Encoders.STRING)
      .flatMapGroupsWithState[(Double, Double, Long, String, Boolean), Row](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[Row],
            state: GroupState[(Double, Double, Long, String, Boolean)]) =>
          val rs = rows.toArray
          val keyVals = keyIdx.map(rs.head.get)
          var (l, b, lastM, lastT, seen) = state.getOption
            .getOrElse((0.0, 0.0, Long.MinValue, "", false))
          val ordered = rs.sortBy(r =>
            (tsMicrosOf(r.get(tsIdx)), tieKey(r.get(tieIdx))))
          val out = Seq.newBuilder[Row]
          ordered.foreach { r =>
            val m = tsMicrosOf(r.get(tsIdx))
            val t = tieKey(r.get(tieIdx))
            val late = seen &&
              (m < lastM || (m == lastM && t <= lastT))
            if (!late) {
              val v = num(r, vIdx)
              // the batch fold's exact op order (HoltFold.result)
              if (!seen) { l = v; b = 0.0 }
              else {
                val lp = l
                l = alpha * v + ca * (lp + b)
                b = beta * (l - lp) + cb * b
              }
              out += Row.fromSeq(keyVals ++ Seq[Any](r.get(tsIdx), v,
                l, b, l + b))
              lastM = m; lastT = t; seen = true
            }
          }
          state.update((l, b, lastM, lastT, seen))
          out.result().iterator
      }(stateEnc, rowEnc)
  }

  /** Cross-batch streaming twin of
    * [[graft.operators.Behavior.hardSoftState]] — the notification
    * path a live monitor actually runs (Nagios confirms a problem
    * over `maxAttempts` retries BEFORE paging; batch replay is the
    * audit view, this is the pager): per-entity state is the retry
    * counter position, the previous check's OK flag, the prevailing
    * confirmed (hard) state, and the last consumed (event-time,
    * tiebreak) position — a few dozen bytes per entity, bounded by
    * fleet size — so the soft/hard confirmation continues seamlessly
    * across micro-batches with the exact batch semantics: the retry
    * ordinal spans differing non-OK states, OK resets to 1 and is
    * immediately hard, `hard_change` fires on confirmed-state changes
    * and never on a healthy first confirmation (streaming == batch
    * row-for-row on in-order input — StreamingSpec pins the parity).
    *
    * In-order contract (the [[cusumStream]] one): rows within a batch
    * sort by (ts, tiebreak) with the tiebreak's NATIVE ordering;
    * across batches per-entity arrival must be monotone; a strictly-
    * late sample is dropped without advancing state — a retry counter
    * never rewrites history.
    * Output: keys + ts + (state, attempt, state_type, hard_state,
    * hard_change).
    */
  def hardSoftStateStream(stream: DataFrame, keyCols: Seq[String],
      stateCol: String, tsCol: String, tieBreakCol: String,
      okState: String, maxAttempts: Int = 3): DataFrame = {
    import org.apache.spark.sql.types._
    require(keyCols.nonEmpty, "hardSoftStateStream needs at least one key")
    require(maxAttempts >= 1, "maxAttempts must be >= 1")
    val schema = stream.schema
    val keyIdx = keyCols.map(schema.fieldIndex)
    val stIdx = schema.fieldIndex(stateCol)
    val tsIdx = schema.fieldIndex(tsCol)
    val tieIdx = schema.fieldIndex(tieBreakCol)
    schema(tsIdx).dataType match {
      case TimestampType | TimestampNTZType => ()
      case dt => throw new IllegalArgumentException(
        s"hardSoftStateStream: event-time column '$tsCol' must be a " +
          s"timestamp, got ${dt.simpleString}")
    }
    val tieKey = sortableTie(schema(tieIdx).dataType)
    val outSchema = StructType(
      keyIdx.map(schema(_)) ++ Seq(schema(tsIdx),
        StructField("state", StringType),
        StructField("attempt", LongType),
        StructField("state_type", StringType),
        StructField("hard_state", StringType),
        StructField("hard_change", BooleanType)))
    val rowEnc: Encoder[Row] = Encoders.row(outSchema)
    // ((prevOk, posInRun), hardStateOrNull, lastMicros, lastTie, seen)
    val stateEnc: Encoder[((Boolean, Long), String, Long, String, Boolean)] =
      Encoders.tuple(
        Encoders.tuple(Encoders.scalaBoolean, Encoders.scalaLong),
        Encoders.STRING, Encoders.scalaLong, Encoders.STRING,
        Encoders.scalaBoolean)
    stream
      .filter(keyCols.map(col(_).isNotNull).reduce(_ && _) &&
        col(tsCol).isNotNull && col(stateCol).isNotNull)
      .groupByKey((r: Row) =>
        keyIdx.map { i =>
          val s = String.valueOf(r.get(i)); s.length + ":" + s
        }.mkString("|"))(Encoders.STRING)
      .flatMapGroupsWithState[
          ((Boolean, Long), String, Long, String, Boolean), Row](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[Row],
            state: GroupState[((Boolean, Long), String, Long, String,
              Boolean)]) =>
          val rs = rows.toArray
          val keyVals = keyIdx.map(rs.head.get)
          val st = state.getOption
            .getOrElse(((false, 0L), null: String, Long.MinValue, "",
              false))
          var prevOk = st._1._1; var pos = st._1._2
          var hardState = st._2
          var lastM = st._3; var lastT = st._4; var seen = st._5
          val ordered = rs.sortBy(r =>
            (tsMicrosOf(r.get(tsIdx)), tieKey(r.get(tieIdx))))
          val out = Seq.newBuilder[Row]
          ordered.foreach { r =>
            val m = tsMicrosOf(r.get(tsIdx))
            val t = tieKey(r.get(tieIdx))
            val late = seen &&
              (m < lastM || (m == lastM && t <= lastT))
            if (!late) {
              // the batch operator's exact semantics, one row at a time
              val sv = String.valueOf(r.get(stIdx))
              val ok = sv == okState
              pos = if (!seen || ok != prevOk) 1L else pos + 1L
              val attempt =
                if (ok) 1L else math.min(pos, maxAttempts.toLong)
              val hard = ok || pos >= maxAttempts.toLong
              val newHard = if (hard) sv else hardState
              val change = newHard != null && (
                if (hardState == null) newHard != okState
                else hardState != newHard)
              out += Row.fromSeq(keyVals ++ Seq[Any](r.get(tsIdx), sv,
                attempt, if (hard) "HARD" else "SOFT", newHard, change))
              hardState = newHard; prevOk = ok
              lastM = m; lastT = t; seen = true
            }
          }
          state.update(((prevOk, pos), hardState, lastM, lastT, seen))
          out.result().iterator
      }(stateEnc, rowEnc)
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
    * restart). Late rows drop without advancing state.
    * Output: keys + ts + (state, notification_no, escalated).
    */
  def notificationStream(stream: DataFrame, keyCols: Seq[String],
      stateCol: String, tsCol: String, tieBreakCol: String,
      okState: String, maxAttempts: Int = 3,
      intervalSeconds: Long = 3600L,
      escalateAfter: Long = 2L): DataFrame = {
    import org.apache.spark.sql.types._
    require(keyCols.nonEmpty, "notificationStream needs at least one key")
    require(maxAttempts >= 1, "maxAttempts must be >= 1")
    require(intervalSeconds > 0, "intervalSeconds must be positive")
    require(escalateAfter >= 1, "escalateAfter must be >= 1")
    val schema = stream.schema
    val keyIdx = keyCols.map(schema.fieldIndex)
    val stIdx = schema.fieldIndex(stateCol)
    val tsIdx = schema.fieldIndex(tsCol)
    val tieIdx = schema.fieldIndex(tieBreakCol)
    schema(tsIdx).dataType match {
      case TimestampType | TimestampNTZType => ()
      case dt => throw new IllegalArgumentException(
        s"notificationStream: event-time column '$tsCol' must be a " +
          s"timestamp, got ${dt.simpleString}")
    }
    val tieKey = sortableTie(schema(tieIdx).dataType)
    val outSchema = StructType(
      keyIdx.map(schema(_)) ++ Seq(schema(tsIdx),
        StructField("state", StringType),
        StructField("notification_no", LongType),
        StructField("escalated", BooleanType)))
    val rowEnc: Encoder[Row] = Encoders.row(outSchema)
    // ((prevOk, pos), hardState, (epStartE, lastSlot, nextOrdinal),
    //  lastMicros, (lastTie, seen))
    val stateEnc: Encoder[((Boolean, Long), String,
        (Long, Long, Long), Long, (String, Boolean))] =
      Encoders.tuple(
        Encoders.tuple(Encoders.scalaBoolean, Encoders.scalaLong),
        Encoders.STRING,
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
          Encoders.scalaLong),
        Encoders.scalaLong,
        Encoders.tuple(Encoders.STRING, Encoders.scalaBoolean))
    stream
      .filter(keyCols.map(col(_).isNotNull).reduce(_ && _) &&
        col(tsCol).isNotNull && col(stateCol).isNotNull)
      .groupByKey((r: Row) =>
        keyIdx.map { i =>
          val s = String.valueOf(r.get(i)); s.length + ":" + s
        }.mkString("|"))(Encoders.STRING)
      .flatMapGroupsWithState[((Boolean, Long), String,
          (Long, Long, Long), Long, (String, Boolean)), Row](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[Row],
            state: GroupState[((Boolean, Long), String,
              (Long, Long, Long), Long, (String, Boolean))]) =>
          val rs = rows.toArray
          val keyVals = keyIdx.map(rs.head.get)
          val st = state.getOption.getOrElse(
            ((false, 0L), null: String, (Long.MinValue, -1L, 0L),
              Long.MinValue, ("", false)))
          var prevOk = st._1._1; var pos = st._1._2
          var hardState = st._2
          var epStart = st._3._1; var lastSlot = st._3._2
          var ordinal = st._3._3
          var lastM = st._4
          var lastT = st._5._1; var seen = st._5._2
          val ordered = rs.sortBy(r =>
            (tsMicrosOf(r.get(tsIdx)), tieKey(r.get(tieIdx))))
          val out = Seq.newBuilder[Row]
          ordered.foreach { r =>
            val mic = tsMicrosOf(r.get(tsIdx))
            val t = tieKey(r.get(tieIdx))
            val late = seen &&
              (mic < lastM || (mic == lastM && t <= lastT))
            if (!late) {
              // the batch confirmation chain, one row at a time
              val sv = String.valueOf(r.get(stIdx))
              val ok = sv == okState
              pos = if (!seen || ok != prevOk) 1L else pos + 1L
              val hard = ok || pos >= maxAttempts.toLong
              val newHard = if (hard) sv else hardState
              // the SAME okState-gated first-confirmation rule as
              // hardSoftStateStream and the batch hard_change (ADVICE
              // r9): a first confirmed OK is NOT a change. Currently
              // output-equivalent here (a first OK only reaches the
              // no-page recovery branch either way), but the two folds
              // must share one change definition so a future edit to
              // the page-emission condition cannot diverge them.
              val changed = newHard != null && (
                if (hardState == null) newHard != okState
                else newHard != hardState)
              hardState = newHard; prevOk = ok
              // episode anchoring + slot gating (the batch operator's
              // islands/slots, sequentially)
              val e = Math.floorDiv(mic, 1000000L)
              if (hardState != null && hardState != okState) {
                if (changed) {
                  epStart = e; lastSlot = -1L; ordinal = 0L
                }
                val slot = (e - epStart) / intervalSeconds
                if (slot > lastSlot) {
                  out += Row.fromSeq(keyVals ++ Seq[Any](r.get(tsIdx),
                    hardState, ordinal,
                    ordinal >= escalateAfter))
                  lastSlot = slot; ordinal += 1L
                }
              } else if (changed) {
                // recovery closes the episode (no page row)
                epStart = Long.MinValue; lastSlot = -1L; ordinal = 0L
              }
              lastM = mic; lastT = t; seen = true
            }
          }
          state.update(((prevOk, pos), hardState,
            (epStart, lastSlot, ordinal), lastM, (lastT, seen)))
          out.result().iterator
      }(stateEnc, rowEnc)
  }

  /** Cross-batch streaming twin of
    * [[graft.operators.TimeSeries.holtWinters]] — live seasonal
    * smoothing + one-step forecast: per-entity state is the (level,
    * trend) pair, the `period`-slot seasonal ring, the warmup buffer
    * (≤ period samples), the row position, and the last consumed
    * (event-time, tiebreak) position — O(period) doubles per entity,
    * bounded by fleet size — so the triple-exponential recursion
    * continues seamlessly across micro-batches with the exact batch
    * fold op order ([[graft.functions.HoltWintersFold.result]]:
    * left-to-right warmup mean, then the fixed
    * level/trend/season/forecast sequence — streaming == batch
    * bit-for-bit on in-order input; the warmup emits nothing on both
    * sides). Smoothing complements must be exactly representable,
    * the batch kernel's contract.
    *
    * In-order contract (the [[cusumStream]] one): rows within a batch
    * sort by (ts, tiebreak) with the tiebreak's NATIVE ordering;
    * across batches per-entity arrival must be monotone; a strictly-
    * late sample is dropped without advancing state.
    * Output: keys + ts + value + (level, trend, season, forecast).
    */
  def holtWintersStream(stream: DataFrame, keyCols: Seq[String],
      tsCol: String, valueCol: String, tieBreakCol: String,
      alpha: Double, beta: Double, gamma: Double,
      period: Int): DataFrame = {
    import org.apache.spark.sql.types._
    require(keyCols.nonEmpty,
      "holtWintersStream needs at least one key")
    require(period >= 2, s"period must be >= 2, got $period")
    require(graft.functions.HoltExpression.exactComplement(alpha) &&
      graft.functions.HoltExpression.exactComplement(beta) &&
      graft.functions.HoltExpression.exactComplement(gamma),
      "holtWintersStream needs exactly-representable complements " +
        "(the batch HoltWintersFold contract)")
    val schema = stream.schema
    val keyIdx = keyCols.map(schema.fieldIndex)
    val tsIdx = schema.fieldIndex(tsCol)
    val vIdx = schema.fieldIndex(valueCol)
    val tieIdx = schema.fieldIndex(tieBreakCol)
    schema(tsIdx).dataType match {
      case TimestampType | TimestampNTZType => ()
      case dt => throw new IllegalArgumentException(
        s"holtWintersStream: event-time column '$tsCol' must be a " +
          s"timestamp, got ${dt.simpleString}")
    }
    val tieKey = sortableTie(schema(tieIdx).dataType)
    val outSchema = StructType(
      keyIdx.map(schema(_)) ++ Seq(schema(tsIdx),
        StructField("value", DoubleType),
        StructField("level", DoubleType),
        StructField("trend", DoubleType),
        StructField("season", DoubleType),
        StructField("forecast", DoubleType)))
    val rowEnc: Encoder[Row] = Encoders.row(outSchema)
    // ((i, l, b), warmupBuf, ring, lastMicros, (lastTie, seen))
    val stateEnc: Encoder[((Long, Double, Double), Seq[Double],
        Seq[Double], Long, (String, Boolean))] =
      Encoders.product[((Long, Double, Double), Seq[Double],
        Seq[Double], Long, (String, Boolean))]
    def num(r: Row, i: Int): Double =
      r.get(i).asInstanceOf[Number].doubleValue()
    val ca = 1.0 - alpha
    val cb = 1.0 - beta
    val cg = 1.0 - gamma
    stream
      .filter(keyCols.map(col(_).isNotNull).reduce(_ && _) &&
        col(tsCol).isNotNull && col(valueCol).isNotNull)
      .groupByKey((r: Row) =>
        keyIdx.map { i =>
          val s = String.valueOf(r.get(i)); s.length + ":" + s
        }.mkString("|"))(Encoders.STRING)
      .flatMapGroupsWithState[((Long, Double, Double), Seq[Double],
          Seq[Double], Long, (String, Boolean)), Row](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[Row],
            state: GroupState[((Long, Double, Double), Seq[Double],
              Seq[Double], Long, (String, Boolean))]) =>
          val rs = rows.toArray
          val keyVals = keyIdx.map(rs.head.get)
          val st = state.getOption.getOrElse(
            ((0L, 0.0, 0.0), Seq.empty[Double], Seq.empty[Double],
              Long.MinValue, ("", false)))
          var i = st._1._1; var l = st._1._2; var b = st._1._3
          val buf = scala.collection.mutable.ArrayBuffer[Double](
            st._2: _*)
          var ring = st._3.toArray
          var lastM = st._4
          var lastT = st._5._1; var seen = st._5._2
          val m = period
          val ordered = rs.sortBy(r =>
            (tsMicrosOf(r.get(tsIdx)), tieKey(r.get(tieIdx))))
          val out = Seq.newBuilder[Row]
          ordered.foreach { r =>
            val mic = tsMicrosOf(r.get(tsIdx))
            val t = tieKey(r.get(tieIdx))
            val late = seen &&
              (mic < lastM || (mic == lastM && t <= lastT))
            if (!late) {
              val v = num(r, vIdx)
              if (i < m) {
                buf += v
                if (i == m - 1) {
                  // the batch fold's exact warmup: left-to-right mean
                  var acc = 0.0
                  var j = 0
                  while (j < m) { acc = acc + buf(j); j += 1 }
                  l = acc / m
                  b = 0.0
                  ring = buf.map(_ - l).toArray
                  buf.clear()
                }
                // warmup rows emit nothing — the batch contract
              } else {
                val sOld = ring((i % m).toInt)
                val lp = l
                l = alpha * (v - sOld) + ca * (lp + b)
                b = beta * (l - lp) + cb * b
                ring((i % m).toInt) = gamma * (v - l) + cg * sOld
                out += Row.fromSeq(keyVals ++ Seq[Any](r.get(tsIdx), v,
                  l, b, ring((i % m).toInt),
                  l + b + ring(((i + 1) % m).toInt)))
              }
              i += 1
              lastM = mic; lastT = t; seen = true
            }
          }
          state.update(((i, l, b), buf.toSeq, ring.toSeq, lastM,
            (lastT, seen)))
          out.result().iterator
      }(stateEnc, rowEnc)
  }

  /** Cross-batch streaming twin of
    * [[graft.operators.Behavior.flapDetection]] — the live flap
    * suppressor (Nagios damps notifications WHILE a service
    * oscillates; detecting it after the fact is an audit, not a
    * suppressor): per-entity state is the trailing `historyLen−1`
    * state-change flags (one bit each), the previous raw state, the
    * current flapping verdict, and the last consumed (event-time,
    * tiebreak) position — O(historyLen) bits per entity, bounded by
    * fleet size. Each arriving check recomputes the exact-rational
    * weighted change percentage from the flag window (the SAME
    * integer `num` the batch windows produce) and applies the strict
    * high/low hysteresis, so streaming == batch row-for-row on
    * in-order input, with the flag window and the flapping verdict
    * crossing batch boundaries intact (StreamingSpec pins parity).
    *
    * In-order contract (the [[cusumStream]] one): rows within a batch
    * sort by (ts, tiebreak) with the tiebreak's NATIVE ordering;
    * across batches per-entity arrival must be monotone; a strictly-
    * late sample is dropped without advancing state.
    * Output: keys + ts + (state, pct, flapping).
    */
  def flapDetectionStream(stream: DataFrame, keyCols: Seq[String],
      stateCol: String, tsCol: String, tieBreakCol: String,
      highPct: Double = 20.0, lowPct: Double = 5.0,
      historyLen: Int = 21): DataFrame = {
    import org.apache.spark.sql.types._
    require(keyCols.nonEmpty, "flapDetectionStream needs at least one key")
    require(historyLen >= 3, "flapDetectionStream needs historyLen >= 3")
    val m = historyLen - 1
    val denom = 5L * m.toLong * (m - 1)
    val hiCut = highPct * denom / 100.0
    val loCut = lowPct * denom / 100.0
    val schema = stream.schema
    val keyIdx = keyCols.map(schema.fieldIndex)
    val stIdx = schema.fieldIndex(stateCol)
    val tsIdx = schema.fieldIndex(tsCol)
    val tieIdx = schema.fieldIndex(tieBreakCol)
    schema(tsIdx).dataType match {
      case TimestampType | TimestampNTZType => ()
      case dt => throw new IllegalArgumentException(
        s"flapDetectionStream: event-time column '$tsCol' must be a " +
          s"timestamp, got ${dt.simpleString}")
    }
    val tieKey = sortableTie(schema(tieIdx).dataType)
    val outSchema = StructType(
      keyIdx.map(schema(_)) ++ Seq(schema(tsIdx),
        StructField("state", StringType),
        StructField("pct", DoubleType),
        StructField("flapping", BooleanType)))
    val rowEnc: Encoder[Row] = Encoders.row(outSchema)
    // (chgBits newest-last, prevState, flapping, lastMicros,
    //  (lastTie, seen))
    val stateEnc: Encoder[(String, String, Boolean, Long,
        (String, Boolean))] =
      Encoders.tuple(Encoders.STRING, Encoders.STRING,
        Encoders.scalaBoolean, Encoders.scalaLong,
        Encoders.tuple(Encoders.STRING, Encoders.scalaBoolean))
    stream
      .filter(keyCols.map(col(_).isNotNull).reduce(_ && _) &&
        col(tsCol).isNotNull && col(stateCol).isNotNull)
      .groupByKey((r: Row) =>
        keyIdx.map { i =>
          val s = String.valueOf(r.get(i)); s.length + ":" + s
        }.mkString("|"))(Encoders.STRING)
      .flatMapGroupsWithState[(String, String, Boolean, Long,
          (String, Boolean)), Row](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[Row],
            state: GroupState[(String, String, Boolean, Long,
              (String, Boolean))]) =>
          val rs = rows.toArray
          val keyVals = keyIdx.map(rs.head.get)
          val st = state.getOption.getOrElse(
            ("", "", false, Long.MinValue, ("", false)))
          val bits = new StringBuilder(st._1)
          var prevState = st._2
          var flapping = st._3
          var lastM = st._4
          var lastT = st._5._1
          var seen = st._5._2
          val ordered = rs.sortBy(r =>
            (tsMicrosOf(r.get(tsIdx)), tieKey(r.get(tieIdx))))
          val out = Seq.newBuilder[Row]
          ordered.foreach { r =>
            val mic = tsMicrosOf(r.get(tsIdx))
            val t = tieKey(r.get(tieIdx))
            val late = seen &&
              (mic < lastM || (mic == lastM && t <= lastT))
            if (!late) {
              val sv = String.valueOf(r.get(stIdx))
              val chg = if (seen && sv != prevState) '1' else '0'
              bits.append(chg)
              if (bits.length > m) bits.deleteCharAt(0)
              // the batch windows' exact integer: Σ chg_d·(6(m−1)−2d),
              // d = distance back (0 = this row)
              var num = 0L
              var d = 0
              while (d < bits.length) {
                if (bits.charAt(bits.length - 1 - d) == '1')
                  num += 6L * (m - 1) - 2L * d
                d += 1
              }
              val pct = graft.functions.DecimalRound.fastRound(
                num.toDouble * 100.0 / denom.toDouble, 6)
              if (num.toDouble > hiCut) flapping = true
              else if (num.toDouble < loCut) flapping = false
              out += Row.fromSeq(keyVals ++ Seq[Any](r.get(tsIdx), sv,
                pct, flapping))
              prevState = sv
              lastM = mic; lastT = t; seen = true
            }
          }
          state.update((bits.toString, prevState, flapping, lastM,
            (lastT, seen)))
          out.result().iterator
      }(stateEnc, rowEnc)
  }

  /** Cross-batch streaming twin of
    * [[graft.operators.TimeSeries.counterRate]]: per-entity state is
    * the LAST (epoch-second, value) sample — 16 bytes per entity,
    * bounded by fleet size — so a counter's rate stream continues
    * seamlessly across micro-batches with the exact batch semantics
    * (reset means increase = raw value; duplicate-timestamp rows
    * advance the state but emit nothing; rounding via the same
    * fast-round chain, so streaming == batch bit-for-bit).
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
    import org.apache.spark.sql.types._
    require(keyCols.nonEmpty, "rateStream needs at least one key")
    val schema = stream.schema
    val keyIdx = keyCols.map(schema.fieldIndex)
    val tsIdx = schema.fieldIndex(tsCol)
    val vIdx = schema.fieldIndex(valueCol)
    val tieIdx = schema.fieldIndex(tieBreakCol)
    val tsType = schema(tsIdx).dataType match {
      case t @ (TimestampType | TimestampNTZType) => t
      case dt => throw new IllegalArgumentException(
        s"rateStream: event-time column '$tsCol' must be a " +
          s"timestamp, got ${dt.simpleString}")
    }
    val tieKey = sortableTie(schema(tieIdx).dataType)
    val outSchema = StructType(
      keyIdx.map(schema(_)) ++ Seq(schema(tsIdx),
        StructField("value", DoubleType),
        StructField("increase", DoubleType),
        StructField("rate_per_s", DoubleType)))
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
      StructField("keys", StructType(keyIdx.map(schema(_))),
        nullable = false)))
    val rowEnc: Encoder[Row] = Encoders.row(outSchema)
    val stateEnc: Encoder[Row] = Encoders.row(stateSchema)
    val ntz = tsType == TimestampNTZType
    def tsOut(micros: Long): Any = {
      val inst = java.time.Instant.ofEpochSecond(
        Math.floorDiv(micros, 1000000L),
        Math.floorMod(micros, 1000000L) * 1000L)
      if (ntz) java.time.LocalDateTime.ofInstant(inst,
        java.time.ZoneOffset.UTC)
      else java.sql.Timestamp.from(inst)
    }
    def num(r: Row, i: Int): Double =
      r.get(i).asInstanceOf[Number].doubleValue()
    val watermarked = lateness.fold(stream)(stream.withWatermark(tsCol, _))
    val timeoutConf =
      if (lateness.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    watermarked
      .filter(keyCols.map(col(_).isNotNull).reduce(_ && _) &&
        col(tsCol).isNotNull && col(valueCol).isNotNull)
      // length-prefixed parts: distinct key tuples can never
      // concatenate to the same grouping key ("1"+"2x" vs "12"+"x")
      .groupByKey((r: Row) =>
        keyIdx.map { i =>
          val s = String.valueOf(r.get(i)); s.length + ":" + s
        }.mkString("|"))(Encoders.STRING)
      .flatMapGroupsWithState[Row, Row](OutputMode.Append, timeoutConf) {
        (_: String, rows: Iterator[Row], state: GroupState[Row]) =>
          val rs = rows.toArray
          val st = state.getOption
          if (rs.isEmpty && st.isEmpty) Iterator.empty
          else {
            val keyVals: Seq[Any] =
              if (rs.nonEmpty) keyIdx.map(rs.head.get)
              else st.get.getStruct(4).toSeq
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
      }(stateEnc, rowEnc)
  }

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

  def availabilityStream(stream: DataFrame, keyCols: Seq[String],
      loCol: String, hiCol: String, windowLo: Long,
      windowHi: Long): DataFrame = {
    import org.apache.spark.sql.types._
    require(keyCols.nonEmpty, "availabilityStream needs at least one key")
    require(windowHi >= windowLo, "window must be non-empty")
    val windowS = windowHi - windowLo + 1
    val keys = keyCols.map(col)
    val clamped = stream
      .filter(keyCols.map(col(_).isNotNull).reduce(_ && _) &&
        col(loCol).isNotNull && col(hiCol).isNotNull)
      .select(keys ++ Seq(
        greatest(col(loCol).cast("long"), lit(windowLo)).as("__lo"),
        least(col(hiCol).cast("long"), lit(windowHi)).as("__hi")): _*)
      .filter(col("__lo") <= col("__hi"))
    val schema = clamped.schema
    val keyIdx = keyCols.indices
    val loIdx = schema.fieldIndex("__lo")
    val hiIdx = schema.fieldIndex("__hi")
    val outSchema = StructType(
      keyIdx.map(schema(_)) ++ Seq(
        StructField("covered_s", LongType),
        StructField("window_s", LongType),
        StructField("availability_ppm", LongType)))
    val rowEnc: Encoder[Row] = Encoders.row(outSchema)
    val stateEnc: Encoder[Tuple1[Seq[(Long, Long)]]] =
      Encoders.product[Tuple1[Seq[(Long, Long)]]]
    clamped
      .groupByKey((r: Row) =>
        keyIdx.map { i =>
          val s = String.valueOf(r.get(i)); s.length + ":" + s
        }.mkString("|"))(Encoders.STRING)
      .flatMapGroupsWithState[Tuple1[Seq[(Long, Long)]], Row](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[Row],
            state: GroupState[Tuple1[Seq[(Long, Long)]]]) =>
          val rs = rows.toArray
          val keyVals = keyIdx.map(rs.head.get)
          val before = state.getOption.map(_._1).getOrElse(Seq.empty)
          var islands = before.toList
          rs.foreach { r =>
            islands = insertIsland(islands, r.getLong(loIdx),
              r.getLong(hiIdx))
          }
          val cov = coveredS(islands)
          state.update(Tuple1(islands))
          if (cov == coveredS(before)) Iterator.empty
          else Iterator.single(Row.fromSeq(keyVals ++ Seq[Any](
            cov, windowS, ppm(cov, windowS))))
      }(stateEnc, rowEnc)
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
    import org.apache.spark.sql.types._
    require(keyCols.nonEmpty, "burnRateStream needs at least one key")
    require(longHi >= longLo && shortHi >= shortLo,
      "windows must be non-empty")
    val longS = longHi - longLo + 1
    val shortS = shortHi - shortLo + 1
    val keys = keyCols.map(col)
    val pts = stream
      .filter(keyCols.map(col(_).isNotNull).reduce(_ && _) &&
        col(loCol).isNotNull && col(hiCol).isNotNull)
      .select(keys ++ Seq(col(loCol).cast("long").as("__lo"),
        col(hiCol).cast("long").as("__hi")): _*)
      .filter(col("__lo") <= col("__hi"))
    val schema = pts.schema
    val keyIdx = keyCols.indices
    val loIdx = schema.fieldIndex("__lo")
    val hiIdx = schema.fieldIndex("__hi")
    val outSchema = StructType(
      keyIdx.map(schema(_)) ++ Seq(
        StructField("burn_long_ppm", LongType),
        StructField("burn_short_ppm", LongType),
        StructField("page", BooleanType)))
    val rowEnc: Encoder[Row] = Encoders.row(outSchema)
    val stateEnc: Encoder[(Seq[(Long, Long)], Seq[(Long, Long)])] =
      Encoders.product[(Seq[(Long, Long)], Seq[(Long, Long)])]
    pts
      .groupByKey((r: Row) =>
        keyIdx.map { i =>
          val s = String.valueOf(r.get(i)); s.length + ":" + s
        }.mkString("|"))(Encoders.STRING)
      .flatMapGroupsWithState[(Seq[(Long, Long)], Seq[(Long, Long)]),
          Row](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[Row],
            state: GroupState[(Seq[(Long, Long)], Seq[(Long, Long)])]) =>
          val rs = rows.toArray
          val keyVals = keyIdx.map(rs.head.get)
          val (beforeL, beforeS) =
            state.getOption.getOrElse((Seq.empty, Seq.empty))
          var isL = beforeL.toList
          var isS = beforeS.toList
          rs.foreach { r =>
            val lo = r.getLong(loIdx); val hi = r.getLong(hiIdx)
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
            Iterator.single(Row.fromSeq(keyVals ++ Seq[Any](
              bl, bs, bl > 1000000L && bs > 1000000L)))
          }
      }(stateEnc, rowEnc)
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
      loCol: String, hiCol: String, downCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    require(keyCols.nonEmpty,
      "subtractIntervalsStream needs at least one key")
    val keys = keyCols.map(col)
    val clean = stream
      .filter(keyCols.map(col(_).isNotNull).reduce(_ && _) &&
        col(loCol).isNotNull && col(hiCol).isNotNull &&
        col(downCol).isNotNull &&
        col(loCol).cast("long") <= col(hiCol).cast("long"))
      .select(keys ++ Seq(
        col(loCol).cast("long").as("__lo"),
        col(hiCol).cast("long").as("__hi"),
        col(downCol).cast("boolean").as("__down")): _*)
    val schema = clean.schema
    val keyIdx = keyCols.indices
    val loIdx = schema.fieldIndex("__lo")
    val hiIdx = schema.fieldIndex("__hi")
    val downIdx = schema.fieldIndex("__down")
    val outSchema = StructType(
      keyIdx.map(schema(_)) ++ Seq(
        StructField(loCol, LongType, nullable = true),
        StructField(hiCol, LongType, nullable = true),
        StructField("emit_seq", LongType)))
    val rowEnc: Encoder[Row] = Encoders.row(outSchema)
    val stateEnc: Encoder[
        (Seq[(Long, Long)], Seq[(Long, Long)], Long)] =
      Encoders.product[(Seq[(Long, Long)], Seq[(Long, Long)], Long)]
    clean
      .groupByKey((r: Row) =>
        keyIdx.map { i =>
          val s = String.valueOf(r.get(i)); s.length + ":" + s
        }.mkString("|"))(Encoders.STRING)
      .flatMapGroupsWithState[
          (Seq[(Long, Long)], Seq[(Long, Long)], Long), Row](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[Row],
            state: GroupState[
              (Seq[(Long, Long)], Seq[(Long, Long)], Long)]) =>
          val rs = rows.toArray
          val keyVals = keyIdx.map(rs.head.get)
          val (beforeUp, beforeDn, seq) =
            state.getOption.getOrElse((Seq.empty, Seq.empty, 0L))
          var up = beforeUp.toList
          var dn = beforeDn.toList
          rs.foreach { r =>
            if (r.getBoolean(downIdx))
              dn = insertIsland(dn, r.getLong(loIdx), r.getLong(hiIdx))
            else
              up = insertIsland(up, r.getLong(loIdx), r.getLong(hiIdx))
          }
          val before = subtractIslands(beforeUp, beforeDn)
          val after = subtractIslands(up, dn)
          if (after == before) {
            state.update((up, dn, seq))
            Iterator.empty
          } else {
            val s = seq + 1
            state.update((up, dn, s))
            if (after.isEmpty)
              Iterator.single(Row.fromSeq(
                keyVals ++ Seq[Any](null, null, s)))
            else after.iterator.map { case (lo, hi) =>
              Row.fromSeq(keyVals ++ Seq[Any](lo, hi, s))
            }
          }
      }(stateEnc, rowEnc)
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
    import org.apache.spark.sql.types._
    require(keyCols.nonEmpty,
      "availabilityDowntimeAdjustedStream needs at least one key")
    require(windowHi >= windowLo, "window must be non-empty")
    val windowS = windowHi - windowLo + 1
    val keys = keyCols.map(col)
    val clamped = stream
      .filter(keyCols.map(col(_).isNotNull).reduce(_ && _) &&
        col(loCol).isNotNull && col(hiCol).isNotNull &&
        col(downCol).isNotNull)
      .select(keys ++ Seq(
        greatest(col(loCol).cast("long"), lit(windowLo)).as("__lo"),
        least(col(hiCol).cast("long"), lit(windowHi)).as("__hi"),
        col(downCol).cast("boolean").as("__down")): _*)
      .filter(col("__lo") <= col("__hi"))
    val schema = clamped.schema
    val keyIdx = keyCols.indices
    val loIdx = schema.fieldIndex("__lo")
    val hiIdx = schema.fieldIndex("__hi")
    val downIdx = schema.fieldIndex("__down")
    val outSchema = StructType(
      keyIdx.map(schema(_)) ++ Seq(
        StructField("covered_s", LongType),
        StructField("downtime_s", LongType),
        StructField("window_s", LongType),
        StructField("adjusted_window_s", LongType),
        StructField("availability_ppm", LongType)))
    val rowEnc: Encoder[Row] = Encoders.row(outSchema)
    val stateEnc: Encoder[(Seq[(Long, Long)], Seq[(Long, Long)])] =
      Encoders.product[(Seq[(Long, Long)], Seq[(Long, Long)])]
    clamped
      .groupByKey((r: Row) =>
        keyIdx.map { i =>
          val s = String.valueOf(r.get(i)); s.length + ":" + s
        }.mkString("|"))(Encoders.STRING)
      .flatMapGroupsWithState[(Seq[(Long, Long)], Seq[(Long, Long)]),
          Row](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[Row],
            state: GroupState[(Seq[(Long, Long)], Seq[(Long, Long)])]) =>
          val rs = rows.toArray
          val keyVals = keyIdx.map(rs.head.get)
          val (beforeUp, beforeDn) =
            state.getOption.getOrElse((Seq.empty, Seq.empty))
          var up = beforeUp.toList
          var dn = beforeDn.toList
          rs.foreach { r =>
            if (r.getBoolean(downIdx))
              dn = insertIsland(dn, r.getLong(loIdx), r.getLong(hiIdx))
            else
              up = insertIsland(up, r.getLong(loIdx), r.getLong(hiIdx))
          }
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
            Iterator.single(Row.fromSeq(keyVals ++ Seq[Any](
              covered, downtime, windowS, adjusted, p)))
          }
      }(stateEnc, rowEnc)
  }
}
