package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.graft.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.types._

/** Custom Catalyst expressions for the similarity/dedup hot path
  * (SURVEY §7.3b: justified custom work — Spark's built-in equivalent,
  * `aggregate(zip_with(...))`, evaluates higher-order lambdas
  * interpreted per element, which is the bottleneck when scoring
  * millions of candidate pairs).
  */
object VectorExpressions {

  /** Cosine similarity between two float/double array columns as a
    * native expression with whole-stage codegen: one fused loop
    * computing dot product and both norms. Zero-norm → 0.0.
    */
  def cosine(a: Column, b: Column): Column =
    ExpressionUtils.column(CosineSimilarity(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Random-hyperplane LSH bucket key: sign bits of `planes`
    * Rademacher projections packed into a long. Fused loop (plane
    * directions derived per-dimension from splitmix64, no materialized
    * plane matrix); replaces an interpreted zip_with/aggregate chain
    * evaluated per plane. `planeOffset` selects an independent plane
    * family — the multi-table LSH recall knob.
    */
  def lshBucket(vec: Column, planes: Int, planeOffset: Int = 0): Column =
    ExpressionUtils.column(RademacherLsh(
      ExpressionUtils.expression(vec), planes, planeOffset))

  /** Top-`n` centroid ids by cosine for a vector column, against a
    * centroid matrix carried as a REFERENCE OBJECT (not literal
    * expression trees): an nlist×dim literal array-of-structs makes the
    * plan quadratically bigger, compiles a huge codegen function per
    * use site, and re-evaluates per element when post-processed with
    * interpreted HOFs. This is one small fused loop, compiled once.
    */
  def centroidTopIds(vec: Column, centroids: Seq[Seq[Float]], n: Int): Column =
    ExpressionUtils.column(CentroidTopIds(
      ExpressionUtils.expression(vec),
      centroids.map(_.toArray).toArray, n))

  /** Exact squared L2 between two float/double arrays as
    * DECIMAL(28,12) — the PQ distance kernel. Semantics are
    * bit-identical to the built-in formulation
    * `aggregate(zip_with(a, b, (x,y) => round((x-y)*(x-y), 12)
    * .cast(dec)), 0, (acc,v) => (acc+v).cast(dec))` (differential
    * spec-pinned), but as ONE fused codegen loop accumulating the
    * unscaled long — no per-element lambda interpretation, no Decimal
    * allocation per term.
    */
  def pqSqDist(a: Column, b: Column): Column =
    ExpressionUtils.column(PqSqDist(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Exact decimal dot product of two float/double arrays as
    * DECIMAL(28,12) — the cosine kernel over pre-normalized vectors.
    * Bit-identical to the built-in chain `sum(round(x*y, 12)
    * .cast(decimal))` over exploded components (differential
    * spec-pinned), fused into one codegen loop accumulating the
    * unscaled long — the [[pqSqDist]] pattern with a product term.
    */
  def pqDot(a: Column, b: Column): Column =
    ExpressionUtils.column(PqDot(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Bounded top-k aggregate: `topKByScore(score, payload, k)` keeps
    * only k (score, payload) pairs per aggregation state, so the
    * map-side partial aggregation ships at most k rows per partition
    * per group — the scalable alternative to
    * `Window.orderBy(score).rowNumber <= k`, which shuffles every
    * candidate row.
    */
  def topKByScore(score: Column, payload: Column, k: Int): Column =
    ExpressionUtils.column(TopKByScore(
      ExpressionUtils.expression(score),
      ExpressionUtils.expression(payload), k).toAggregateExpression())

  /** [[topKByScore]] with a double value carried per kept row — the
    * one-scan "k best rows and their measure" aggregate; selection
    * ignores the value.
    */
  def topKByScoreVal(score: Column, id: Column, value: Column,
      k: Int): Column =
    ExpressionUtils.column(TopKByScoreVal(
      ExpressionUtils.expression(score),
      ExpressionUtils.expression(id),
      ExpressionUtils.expression(value), k).toAggregateExpression())

  /** Rank-1 whitening kernel v′ = v − (v·w)·w as one fused loop —
    * see [[RankOneStrip]].
    */
  def rankOneStrip(vec: Column, weights: Array[Double]): Column =
    ExpressionUtils.column(RankOneStrip(
      ExpressionUtils.expression(vec), weights))

  /** Johnson–Lindenstrauss ±1 projection as ONE fused codegen loop:
    * the md5 sign matrix is computed ONCE at plan construction and
    * carried as a reference object (the [[centroidTopIds]] policy),
    * where the HOF formulation re-derives every sign per ROW — a
    * conv(md5(...)) expression chain per (row, k, j) that dominated
    * the operator's cost (measured 11.6 s for 5k×64→16 at sf0.1;
    * the kernel is pure float arithmetic per element). Semantics are
    * bit-identical to the built-in formulation (differential
    * spec-pinned): per-term round(·,12) unscaled-long accumulation,
    * decimal→double, /√dimOut, round(·,6), float cast.
    */
  def randomProjection(vec: Column, dimIn: Int, dimOut: Int): Column =
    ExpressionUtils.column(RandomProjection(
      ExpressionUtils.expression(vec), dimIn, dimOut))
}

/** Shared scale-12 HALF_UP rounding for the fused decimal kernels:
  * `BigDecimal.valueOf(t).setScale(12, HALF_UP)` → double →
  * `valueOf(·).setScale(12, HALF_UP).unscaledValue` (Spark's
  * round-then-cast-to-decimal chain), with an exact integer FAST PATH.
  * The BigDecimal chain costs ~0.5 µs/term (two Double.toString
  * parses) and dominated the fused kernels — measured 2.2 s for a
  * 2000-row × 1024-term JL projection.
  *
  * Fast-path correctness: y = t·1e12 differs from the true
  * shortest-decimal(t)·1e12 by ≤ |y|·2.2e-16 (one ulp for the
  * shortest-repr gap, one for the product rounding), so when the
  * fractional part is farther than eps = |y|·1e-15 + 1e-12 (≥4×
  * margin) from the HALF_UP boundary, integer floor/ceil gives the
  * identical unscaled value; inside the margin — and for |y| ≥ 1e15,
  * where the decimal→double→decimal round-trip of the slow chain is
  * no longer guaranteed bijective (ulp(t) > 5e-13 beyond |t| ≈ 4500,
  * so adjacent scale-12 values can collapse onto one double) — it
  * falls back to the exact BigDecimal chain. For |t| < 1000 the
  * round-trip is the identity (ulp < 1.1e-13 ≪ half a scale-12 unit),
  * so skipping steps 2-3 on the fast path changes nothing.
  * Differential-pinned against the slow chain in PropertySpec.
  */
object DecimalRound {
  def unscaled12(t: Double): Long = {
    val y = t * 1e12
    val ay = Math.abs(y)
    if (ay < 1e15) {
      val fl = Math.floor(y)
      val f = y - fl
      val eps = ay * 1e-15 + 1e-12
      if (f > 0.5 + eps) return fl.toLong + 1L
      if (f < 0.5 - eps) return fl.toLong
    }
    slow12(t)
  }

  /** The exact reference chain (and the ArithmeticException-on-
    * overflow contract the callers map to NULL).
    */
  def slow12(t: Double): Long = {
    val rd = java.math.BigDecimal.valueOf(t)
      .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue()
    java.math.BigDecimal.valueOf(rd)
      .setScale(12, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()
  }

  // 10^s is exactly representable for s <= 15 (10^15 < 2^53), so the
  // fast path's final division l / 10^s of two exact doubles is the
  // correctly-rounded decimal->double conversion BigDecimal.doubleValue
  // performs
  private val pow10: Array[Double] = Array.tabulate(16)(i => math.pow(10, i))

  /** `round(t, scale)` for DoubleType exactly as Spark's Round does it
    * (NaN/Infinity pass through; else BigDecimal.valueOf(t)
    * .setScale(scale, HALF_UP).doubleValue()), with the [[unscaled12]]
    * integer fast path generalized to scale 0..15. Differential-pinned
    * against Spark's own Round in PropertySpec.
    */
  def fastRound(t: Double, scale: Int): Double =
    roundWith(t, scale, exactBinary = false)

  /** `t` rounded half-even to `scale` places on its EXACT binary
    * value — Python's `float(f"{t:.2f}")` at scale 2, where Spark's
    * Round (and [[fastRound]]) round half-up on the shortest decimal:
    * 2.675 is stored as 2.67499999…, so this gives 2.67 and Round
    * 2.68. Off a half-way boundary the two agree, so the same integer
    * fast path serves both.
    */
  def binaryRound(t: Double, scale: Int): Double =
    roundWith(t, scale, exactBinary = true)

  private def roundWith(t: Double, scale: Int,
      exactBinary: Boolean): Double = {
    if (java.lang.Double.isNaN(t) || java.lang.Double.isInfinite(t))
      return t
    val m = pow10(scale)
    val y = t * m
    val ay = Math.abs(y)
    if (ay < 1e15) {
      val fl = Math.floor(y)
      val f = y - fl
      val eps = ay * 1e-15 + 1e-12
      if (f > 0.5 + eps) { val r = (fl + 1d) / m; return r + 0.0 }
      if (f < 0.5 - eps) {
        // +0.0 normalizes -0.0 (BigDecimal has no signed zero)
        val r = fl / m; return r + 0.0
      }
    }
    if (exactBinary) new java.math.BigDecimal(t)
      .setScale(scale, java.math.RoundingMode.HALF_EVEN).doubleValue()
    else slowRound(t, scale)
  }

  def slowRound(t: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(t)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  /** [[unscaled12]] generalized to scale 0..15 — the unscaled long of
    * `cast(round(t, scale) as decimal(·, scale))`. ArithmeticException
    * on overflow (callers map to NULL, decimal semantics).
    */
  def unscaledAt(t: Double, scale: Int): Long = {
    val m = pow10(scale)
    val y = t * m
    val ay = Math.abs(y)
    if (ay < 1e15) {
      val fl = Math.floor(y)
      val f = y - fl
      val eps = ay * 1e-15 + 1e-12
      if (f > 0.5 + eps) return fl.toLong + 1L
      if (f < 0.5 - eps) return fl.toLong
    }
    val rd = java.math.BigDecimal.valueOf(t)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()
    java.math.BigDecimal.valueOf(rd)
      .setScale(scale, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()
  }

  /** `cast(round(t, scale) as decimal(precision, scale))` in one step,
    * replicating the cast's Spark 4 semantics exactly: NaN/Infinity →
    * null (in BOTH ANSI and legacy mode — measured), the common range
    * as a compact unscaled-long decimal, values past the long unscaled
    * range (|t| ≳ 9.2·10^(18−scale)) through the BigDecimal path the
    * stock cast takes, and precision overflow → Spark's own
    * NUMERIC_VALUE_OUT_OF_RANGE under ANSI / null under legacy.
    */
  def roundToDecimal(t: Double, scale: Int, precision: Int,
      ansi: Boolean): org.apache.spark.sql.types.Decimal = {
    if (java.lang.Double.isNaN(t) || java.lang.Double.isInfinite(t))
      return null
    try org.apache.spark.sql.types.Decimal(
      unscaledAt(t, scale), precision, scale)
    catch {
      case _: ArithmeticException =>
        val rd = slowRound(t, scale)
        val d = org.apache.spark.sql.types.Decimal(
          java.math.BigDecimal.valueOf(rd)
            .setScale(scale, java.math.RoundingMode.HALF_UP))
        if (d.changePrecision(precision, scale)) d
        else if (ansi) throw org.apache.spark.sql.graft.ColumnBridge
          .decimalPrecisionOverflowError(d, precision, scale)
        else null
    }
  }
}

/** Drop-in replacement for Spark's `Round` on a DoubleType child with
  * a literal scale in [0, 15]: same HALF_UP-on-shortest-decimal
  * semantics (NaN/Infinity pass through), evaluated via
  * [[DecimalRound.fastRound]]'s integer fast path instead of two
  * BigDecimal constructions per row — ~10× on round-dense aggregation
  * chains. Substituted transparently by
  * [[graft.plans.FastRoundRewrite]]; never user-facing.
  */
case class FastRound(child: Expression, roundScale: Int)
    extends UnaryExpression {

  require(roundScale >= 0 && roundScale <= 15,
    "fast_round scale must be in [0, 15]")

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"fast_round requires a double child, got " +
        child.dataType.catalogString)

  override def nullable: Boolean = child.nullable

  protected override def nullSafeEval(v: Any): Any =
    DecimalRound.fastRound(v.asInstanceOf[Double], roundScale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.DecimalRound.fastRound($c, $roundScale)")

  override def prettyName: String = "fast_round"

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** [[DecimalRound.binaryRound]] as an expression. Not a `Round`, so
  * [[graft.plans.FastRoundRewrite]] leaves it alone.
  */
case class BinaryRound(child: Expression, roundScale: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(DoubleType)
  override def dataType: DataType = DoubleType
  protected override def nullSafeEval(v: Any): Any =
    DecimalRound.binaryRound(v.asInstanceOf[Double], roundScale)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.DecimalRound.binaryRound($c, $roundScale)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `cast(round(child, scale) as decimal(precision, scale))` fused into
  * one expression — the exactness convention's per-term chain
  * (`round(x, 12).cast("decimal(38,12)")`) costs THREE BigDecimal
  * constructions per row in stock Spark (two in Round, one in the
  * cast); this is one integer fast path + a compact-long Decimal.
  * Bit-identical (NaN/Inf → null, overflow → null, HALF_UP shortest-
  * decimal rounding); precision must be ≥ 19 so any long unscaled
  * value fits (the rewrite rule guards this). Substituted by
  * [[graft.plans.FastRoundRewrite]]; never user-facing.
  */
case class FastRoundToDecimal(child: Expression, roundScale: Int,
    precision: Int, ansi: Boolean) extends UnaryExpression {

  require(roundScale >= 0 && roundScale <= 15,
    "fast_round scale must be in [0, 15]")
  require(precision >= 19 && precision <= 38,
    "fused round-to-decimal requires precision in [19, 38]")

  override def dataType: DataType = DecimalType(precision, roundScale)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"fast_round_decimal requires a double child, got " +
        child.dataType.catalogString)

  override def nullable: Boolean = true

  protected override def nullSafeEval(v: Any): Any =
    DecimalRound.roundToDecimal(v.asInstanceOf[Double], roundScale,
      precision, ansi)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val d = ctx.freshName("dec")
      s"""
         |org.apache.spark.sql.types.Decimal $d =
         |  graft.functions.DecimalRound.roundToDecimal(
         |    $c, $roundScale, $precision, $ansi);
         |if ($d == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $d; }
       """.stripMargin
    })

  override def prettyName: String = "fast_round_decimal"

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `cosine(array<float|double>, array<float|double>) -> double`.
  * Both children must share the element type. Single fused loop in both
  * interpreted and codegen'd form.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemType: DataType = left.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) |
           (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"cosine requires two arrays of float or two arrays of double, " +
        s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
    }

  // length mismatch (corrupt vector) yields NULL, never a silently
  // truncated similarity — and matches the zip_with-based builtin,
  // whose padded-null dot also nulls out
  override def nullable: Boolean = true

  override def nullSafeEval(av: Any, bv: Any): Any = {
    val a = av.asInstanceOf[ArrayData]
    val b = bv.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    if (elemType == FloatType) {
      while (i < n) {
        val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
    } else {
      while (i < n) {
        val x = a.getDouble(i); val y = b.getDouble(i)
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (elemType == FloatType) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $x = (double) $a.$get($i);
         |    double $y = (double) $b.$get($i);
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  ${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0 :
         |    $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `pq_sq_dist(array<float|double>, array<float|double>) ->
  * decimal(28,12)`: Σ round((x−y)², 12), each term rounded with
  * Spark's own double-round semantics (BigDecimal.valueOf — the
  * shortest-decimal path `round()` and the double→decimal cast both
  * take), accumulated as the exact unscaled long. Null on length
  * mismatch or null element (matching the zip_with padding
  * behavior) and on overflow (matching decimal overflow → null).
  */
case class PqSqDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DecimalType(28, 12)

  private def elemType: DataType = left.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) |
           (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"pq_sq_dist requires two arrays of float or two arrays of " +
        s"double, got ${left.dataType.catalogString} and " +
        s"${right.dataType.catalogString}")
    }

  override def nullable: Boolean = true

  override def nullSafeEval(av: Any, bv: Any): Any = {
    val a = av.asInstanceOf[ArrayData]
    val b = bv.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    val float = elemType == FloatType
    var sum = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (float) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (float) b.getFloat(i).toDouble else b.getDouble(i)
      try {
        sum = Math.addExact(sum, PqSqDist.termUnscaled(x, y))
      } catch { case _: ArithmeticException => return null }
      i += 1
    }
    Decimal(sum, 28, 12)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (elemType == FloatType) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val sum = ctx.freshName("sum"); val bad = ctx.freshName("bad")
      s"""
         |int $n = $a.numElements();
         |long $sum = 0L; boolean $bad = ($n != $b.numElements());
         |for (int $i = 0; !$bad && $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |  try {
         |    $sum = java.lang.Math.addExact($sum,
         |      graft.functions.PqSqDist.termUnscaled(
         |        (double) $a.$get($i), (double) $b.$get($i)));
         |  } catch (ArithmeticException e) { $bad = true; }
         |}
         |if ($bad) { ${ev.isNull} = true; }
         |else { ${ev.value} = org.apache.spark.sql.types.Decimal.apply($sum, 28, 12); }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object PqSqDist {
  /** round((x−y)², 12) exactly as Spark's Round-then-cast-to-decimal
    * does it (BigDecimal.valueOf twice — shortest decimal repr), as
    * the unscaled long at scale 12. Throws ArithmeticException on
    * values that would overflow the long/decimal — the caller maps
    * that to NULL like a decimal overflow.
    */
  def termUnscaled(x: Double, y: Double): Long = {
    val d = x - y
    // Round(double, 12) then double→decimal(28,12) cast, replayed by
    // [[DecimalRound]] (fast path + exact fallback) so the fused
    // kernel equals the built-ins
    DecimalRound.unscaled12(d * d)
  }
}

/** `pq_dot(array<float|double>, array<float|double>) ->
  * decimal(28,12)`: Σ round(x·y, 12) with each term rounded via
  * Spark's own double-round semantics and accumulated as the exact
  * unscaled long — [[PqSqDist]] with a product term. Null on length
  * mismatch, null element, or overflow (decimal semantics).
  */
case class PqDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DecimalType(28, 12)

  private def elemType: DataType = left.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) |
           (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"pq_dot requires two arrays of float or two arrays of " +
        s"double, got ${left.dataType.catalogString} and " +
        s"${right.dataType.catalogString}")
    }

  override def nullable: Boolean = true

  override def nullSafeEval(av: Any, bv: Any): Any = {
    val a = av.asInstanceOf[ArrayData]
    val b = bv.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    val float = elemType == FloatType
    var sum = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (float) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (float) b.getFloat(i).toDouble else b.getDouble(i)
      try {
        sum = Math.addExact(sum, PqDot.termUnscaled(x, y))
      } catch { case _: ArithmeticException => return null }
      i += 1
    }
    Decimal(sum, 28, 12)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (elemType == FloatType) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val sum = ctx.freshName("sum"); val bad = ctx.freshName("bad")
      s"""
         |int $n = $a.numElements();
         |long $sum = 0L; boolean $bad = ($n != $b.numElements());
         |for (int $i = 0; !$bad && $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |  try {
         |    $sum = java.lang.Math.addExact($sum,
         |      graft.functions.PqDot.termUnscaled(
         |        (double) $a.$get($i), (double) $b.$get($i)));
         |  } catch (ArithmeticException e) { $bad = true; }
         |}
         |if ($bad) { ${ev.isNull} = true; }
         |else { ${ev.value} = org.apache.spark.sql.types.Decimal.apply($sum, 28, 12); }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object PqDot {
  /** round(x·y, 12) exactly as Spark's Round-then-cast-to-decimal
    * does it (see [[PqSqDist.termUnscaled]]), as the unscaled long at
    * scale 12; ArithmeticException on overflow → caller yields NULL.
    */
  def termUnscaled(x: Double, y: Double): Long =
    DecimalRound.unscaled12(x * y)
}

/** `array<float|double> -> array<float>`: JL ±1 projection with the
  * md5-derived sign matrix precomputed at construction. NULL on
  * wrong-width input or null elements (callers guard with
  * raise_error first — the pqCheckDim convention).
  */
case class RandomProjection(child: Expression, dimIn: Int, dimOut: Int)
    extends UnaryExpression {

  require(dimIn > 0, "dimIn must be positive")
  require(dimOut > 0, "dimOut must be positive")

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  private def elemType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"random_projection requires array<float|double>, got ${t.catalogString}")
    }

  // sign(k,j) = +1 iff the leading 32 md5 bits of "k:j" are even —
  // computed ONCE here, identical to the per-row HOF derivation
  private lazy val signs: Array[Boolean] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dimOut * dimIn) { i =>
      val k = i / dimIn; val j = i % dimIn
      val d = md.digest(s"$k:$j".getBytes("UTF-8"))
      // leading 4 bytes as unsigned int == first 8 hex digits; parity
      // is bit 0 of the 4th byte
      (d(3) & 1) == 0
    }
  }

  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any =
    RandomProjection.project(v.asInstanceOf[ArrayData], signs,
      dimIn, dimOut, elemType == FloatType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = ctx.addReferenceObj("rpSigns", signs, "boolean[]")
    val isFloat = if (elemType == FloatType) "true" else "false"
    nullSafeCodeGen(ctx, ev, arr => {
      s"""
         |${ev.value} = graft.functions.RandomProjection.project(
         |  $arr, $s, $dimIn, $dimOut, $isFloat);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object RandomProjection {
  /** The full projection for one vector; null on width mismatch, null
    * elements, or accumulator overflow — mirroring the built-in
    * formulation's null propagation. Every numeric step replays the
    * built-ins exactly: [[PqSqDist.termUnscaled]]'s two-step
    * round-to-12dp per term, exact long accumulation,
    * Decimal(28,12)→double, division by √dimOut, Round(·,6), float
    * cast.
    */
  def project(arr: ArrayData, signs: Array[Boolean], dimIn: Int,
      dimOut: Int, isFloat: Boolean): ArrayData = {
    if (arr.numElements() != dimIn) return null
    val x = new Array[Double](dimIn)
    var j = 0
    while (j < dimIn) {
      if (arr.isNullAt(j)) return null
      x(j) = if (isFloat) arr.getFloat(j).toDouble else arr.getDouble(j)
      j += 1
    }
    val sqrtOut = math.sqrt(dimOut.toDouble)
    val out = new Array[Float](dimOut)
    var k = 0
    while (k < dimOut) {
      var sum = 0L
      var i = k * dimIn
      j = 0
      while (j < dimIn) {
        val v = if (signs(i)) x(j) else -x(j)
        try sum = Math.addExact(sum, termUnscaled(v))
        catch { case _: ArithmeticException => return null }
        i += 1; j += 1
      }
      val s = new java.math.BigDecimal(
        java.math.BigInteger.valueOf(sum), 12).doubleValue()
      out(k) = java.math.BigDecimal.valueOf(s / sqrtOut)
        .setScale(6, java.math.RoundingMode.HALF_UP)
        .doubleValue().toFloat
      k += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** round(v, 12) → decimal(28,12) unscaled long, the
    * [[PqSqDist.termUnscaled]] two-step replayed for a single value.
    */
  def termUnscaled(v: Double): Long = DecimalRound.unscaled12(v)
}

/** `array<float|double> -> long`: packed sign bits of `planes`
  * Rademacher (±1) hyperplane projections. Plane p's sign for
  * dimension j comes from bit 0 of splitmix64(p * 1e9 + j) — the same
  * deterministic direction on every executor and both sides of any
  * join, with no plane matrix to ship.
  */
case class RademacherLsh(child: Expression, planes: Int,
    planeOffset: Int = 0) extends UnaryExpression {

  require(planes > 0 && planes <= 63)
  require(planeOffset >= 0)

  override def dataType: DataType = LongType

  private def elemType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"rademacher_lsh requires array<float|double>, got ${t.catalogString}")
    }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val isFloat = elemType == FloatType
    java.lang.Long.valueOf(
      RademacherLsh.compute(arr, arr.numElements(), planes, planeOffset,
        isFloat))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val isFloat = if (elemType == FloatType) "true" else "false"
    nullSafeCodeGen(ctx, ev, arr => {
      s"""
         |${ev.value} = graft.functions.RademacherLsh.compute(
         |  $arr, $arr.numElements(), $planes, $planeOffset, $isFloat);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object RademacherLsh {
  // single source of truth for the mixing constants: the plane
  // directions are a cross-executor contract
  private def splitmix(seed0: Long): Long =
    HashCoefficients.splitmix64(seed0)

  def compute(arr: ArrayData, n: Int, planes: Int, planeOffset: Int,
      isFloat: Boolean): Long = {
    var key = 0L
    var p = 0
    while (p < planes) {
      var proj = 0.0
      var j = 0
      while (j < n) {
        val x = if (isFloat) arr.getFloat(j).toDouble else arr.getDouble(j)
        val sign =
          if ((splitmix((p + planeOffset) * 1000000007L + j) & 1L) == 1L) x
          else -x
        proj += sign
        j += 1
      }
      if (proj > 0) key |= (1L << p)
      p += 1
    }
    key
  }
}

/** `array<float|double> -> array<int>`: ids of the `n` nearest
  * centroids by cosine, score-descending (ties id-ascending). The
  * centroid matrix rides along as a serialized reference object —
  * broadcast with the task closure, never inlined into the plan.
  */
/** Fused rank-1 strip v′ = v − (v·w)·w (the PCA whitening kernel):
  * ONE loop computes the 6dp projection (unscaled-long decimal fold,
  * the [[PqSqDist]] accumulation) and the per-element subtraction.
  * Semantics are bit-identical to the built-in formulation
  * (`Similarity.pcaWhitenBuiltin`, differential spec-pinned); the
  * built-in form additionally falls into the CollapseProject trap —
  * the projection fold gets re-inlined into the per-element lambda
  * and re-evaluates dim times per row (measured 5.3 s vs sub-second
  * at sf0.1). Weights ride as a REFERENCE OBJECT (the
  * [[CentroidTopIds]] policy). NULL on length mismatch, null
  * elements, or decimal overflow.
  */
case class RankOneStrip(child: Expression, weights: Array[Double])
    extends UnaryExpression {

  require(weights.nonEmpty, "weights must be non-empty")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  private def elemType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"rank_one_strip requires array<float|double>, got ${t.catalogString}")
    }

  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any =
    RankOneStrip.compute(v.asInstanceOf[ArrayData], weights,
      elemType == FloatType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = ctx.addReferenceObj("stripWeights", weights, "double[]")
    val isFloat = if (elemType == FloatType) "true" else "false"
    nullSafeCodeGen(ctx, ev, arr => {
      val tmp = ctx.freshName("stripped")
      s"""
         |Object $tmp = graft.functions.RankOneStrip.compute(
         |  $arr, $w, $isFloat);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} =
         |  (org.apache.spark.sql.catalyst.util.ArrayData) $tmp; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object RankOneStrip {
  private def r6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  private def r12(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue()

  /** round(x·w, 12) as the scale-12 unscaled long, the
    * [[PqSqDist.termUnscaled]] two-step for a product term.
    */
  private def prodUnscaled(x: Double, w: Double): Long =
    DecimalRound.unscaled12(x * w)

  def compute(a: ArrayData, w: Array[Double], isFloat: Boolean): Any = {
    val n = w.length
    if (a.numElements() != n) return null
    val xs = new Array[Double](n)
    var sum = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      xs(i) = x
      try sum = Math.addExact(sum, prodUnscaled(x, w(i)))
      catch { case _: ArithmeticException => return null }
      i += 1
    }
    // Decimal(sum, 38, 12) → double → round 6: the built-in
    // cast-then-Round chain replayed
    val proj = r6(new java.math.BigDecimal(
      java.math.BigInteger.valueOf(sum), 12).doubleValue())
    val out = new Array[Double](n)
    i = 0
    while (i < n) {
      out(i) = r6(xs(i) - r12(proj * w(i)))
      i += 1
    }
    new GenericArrayData(out)
  }
}

case class CentroidTopIds(child: Expression, matrix: Array[Array[Float]],
    n: Int) extends UnaryExpression {

  require(n > 0 && n <= matrix.length,
    s"n must be in [1, ${matrix.length}], got $n")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  private def elemType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"centroid_top_ids requires array<float|double>, got ${t.catalogString}")
    }

  override def nullSafeEval(v: Any): Any =
    CentroidTopIds.compute(v.asInstanceOf[ArrayData], matrix, n,
      elemType == FloatType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("centroids", matrix, "float[][]")
    val isFloat = if (elemType == FloatType) "true" else "false"
    nullSafeCodeGen(ctx, ev, arr => {
      s"""
         |${ev.value} = graft.functions.CentroidTopIds.compute(
         |  $arr, $m, $n, $isFloat);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object CentroidTopIds {
  def compute(arr: ArrayData, m: Array[Array[Float]], n: Int,
      isFloat: Boolean): ArrayData = {
    val nl = m.length
    val len = arr.numElements()
    // |vec| is constant across centroids — hoisted out of the loop
    var na = 0.0
    var i = 0
    while (i < len) {
      val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      na += x * x; i += 1
    }
    val scores = new Array[Double](nl)
    var c = 0
    while (c < nl) {
      val cent = m(c)
      val d = math.min(len, cent.length)
      var dot = 0.0; var nb = 0.0
      var j = 0
      while (j < d) {
        val x = if (isFloat) arr.getFloat(j).toDouble else arr.getDouble(j)
        val y = cent(j).toDouble
        dot += x * y; nb += y * y; j += 1
      }
      scores(c) = if (na == 0.0 || nb == 0.0) 0.0
        else dot / (math.sqrt(na) * math.sqrt(nb))
      c += 1
    }
    // selection of the n best (score desc, id asc): n and nlist are
    // both small, so the n*nlist scan beats sorting. `best < 0` seeds
    // the first unused index even when every score is NaN (a NaN in
    // the input vector must degrade to an arbitrary-but-valid ranking,
    // not an ArrayIndexOutOfBounds task failure).
    val ids = new Array[Int](n)
    val used = new Array[Boolean](nl)
    var k = 0
    while (k < n) {
      var best = -1; var bs = Double.NegativeInfinity
      var j = 0
      while (j < nl) {
        if (!used(j) && (best < 0 || scores(j) > bs)) {
          bs = scores(j); best = j
        }
        j += 1
      }
      used(best) = true; ids(k) = best; k += 1
    }
    new GenericArrayData(ids)
  }
}

/** Bounded top-k by score with long payloads:
  * `array<struct<score double, id bigint>>`, sorted score-descending
  * (ties by ascending id for determinism). The buffer never exceeds k
  * entries, so partial aggregation keeps shuffle payloads O(k) per
  * group instead of O(candidates).
  */
case class TopKByScore(score: Expression, payload: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKBuffer] {

  require(k > 0, "k must be positive")

  override def children: Seq[Expression] = Seq(score, payload)
  // mis-typed inputs (int id, float score) fail at analysis time
  // instead of ClassCastException inside update(). (ImplicitCastInputTypes
  // is unusable here: AbstractDataType is private[sql] in Spark 4.)
  override def checkInputDataTypes(): TypeCheckResult =
    if (score.dataType == DoubleType && payload.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "topKByScore requires (double score, bigint payload), got (" +
        s"${score.dataType.simpleString}, ${payload.dataType.simpleString})")
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType), StructField("id", LongType))))

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = score.eval(input)
    val p = payload.eval(input)
    if (s != null && p != null) {
      buf.add(s.asInstanceOf[Double], p.asInstanceOf[Long])
    }
    buf
  }

  override def merge(a: TopKBuffer, b: TopKBuffer): TopKBuffer = {
    b.foreach((s, i) => a.add(s, i)); a
  }

  override def eval(buf: TopKBuffer): Any = {
    val sorted = buf.sortedDesc
    new GenericArrayData(sorted.map { case (s, i) =>
      InternalRow(s, i)
    })
  }

  override def serialize(buf: TopKBuffer): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): TopKBuffer =
    TopKBuffer.deserialize(bytes, k)

  override def withNewMutableAggBufferOffset(o: Int): TopKByScore =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKByScore =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(score = newChildren(0), payload = newChildren(1))
}

/** [[TopKByScore]] with a double VALUE riding along each kept
  * (score, id) pair — the one-scan form of "keep the k best rows and
  * their measure" (the hash-sample quantile sketch's sample +
  * value, previously a second corpus scan + semi-join). Selection and
  * tie semantics are identical to [[TopKByScore]]: the value column
  * never influences which rows are kept.
  */
case class TopKByScoreVal(score: Expression, id: Expression,
    value: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKValBuffer] {

  require(k > 0, "k must be positive")

  override def children: Seq[Expression] = Seq(score, id, value)
  override def checkInputDataTypes(): TypeCheckResult =
    if (score.dataType == DoubleType && id.dataType == LongType &&
        value.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "topKByScoreVal requires (double score, bigint id, double " +
        s"value), got (${score.dataType.simpleString}, " +
        s"${id.dataType.simpleString}, ${value.dataType.simpleString})")
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType), StructField("id", LongType),
    StructField("value", DoubleType))))

  override def createAggregationBuffer(): TopKValBuffer =
    new TopKValBuffer(k)

  override def update(buf: TopKValBuffer, input: InternalRow)
      : TopKValBuffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    val v = value.eval(input)
    if (s != null && i != null && v != null) {
      buf.add(s.asInstanceOf[Double], i.asInstanceOf[Long],
        v.asInstanceOf[Double])
    }
    buf
  }

  override def merge(a: TopKValBuffer, b: TopKValBuffer)
      : TopKValBuffer = {
    b.foreach((s, i, v) => a.add(s, i, v)); a
  }

  override def eval(buf: TopKValBuffer): Any = {
    val sorted = buf.sortedDesc
    new GenericArrayData(sorted.map { case (s, i, v) =>
      InternalRow(s, i, v)
    })
  }

  override def serialize(buf: TopKValBuffer): Array[Byte] =
    buf.serialize()
  override def deserialize(bytes: Array[Byte]): TopKValBuffer =
    TopKValBuffer.deserialize(bytes, k)

  override def withNewMutableAggBufferOffset(o: Int): TopKByScoreVal =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKByScoreVal =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(score = newChildren(0), id = newChildren(1),
      value = newChildren(2))
}

/** [[TopKBuffer]] with a value per entry; ordering ignores the value. */
final class TopKValBuffer(k: Int) {
  private val heap = scala.collection.mutable.PriorityQueue
    .empty[(Double, Long, Double)](
      Ordering.by[(Double, Long, Double), (Double, Long)] {
        case (s, i, _) => (-s, i)
      })

  def add(s: Double, id: Long, v: Double): Unit = {
    if (heap.size < k) heap.enqueue((s, id, v))
    else {
      val (ws, wi, _) = heap.head
      if (s > ws || (s == ws && id < wi)) {
        heap.dequeue(); heap.enqueue((s, id, v))
      }
    }
  }

  def foreach(f: (Double, Long, Double) => Unit): Unit =
    heap.foreach { case (s, i, v) => f(s, i, v) }

  def sortedDesc: Array[(Double, Long, Double)] =
    heap.toArray.sortBy { case (s, i, _) => (-s, i) }

  def serialize(): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(heap.size)
    heap.foreach { case (s, i, v) =>
      out.writeDouble(s); out.writeLong(i); out.writeDouble(v) }
    out.flush(); bos.toByteArray
  }
}

object TopKValBuffer {
  def deserialize(bytes: Array[Byte], k: Int): TopKValBuffer = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val buf = new TopKValBuffer(k)
    val n = in.readInt()
    (0 until n).foreach { _ =>
      buf.add(in.readDouble(), in.readLong(), in.readDouble()) }
    buf
  }
}

/** Size-bounded min-heap on score; keeps the k largest. */
final class TopKBuffer(k: Int) {
  // PriorityQueue dequeues the maximum of its Ordering, so order items
  // by "badness": the head is the worst kept entry (smallest score,
  // ties broken toward the larger id) and is what k+1-th entries must
  // beat.
  private val heap = scala.collection.mutable.PriorityQueue
    .empty[(Double, Long)](Ordering.by[(Double, Long), (Double, Long)] {
      case (s, i) => (-s, i)
    })

  def add(s: Double, id: Long): Unit = {
    if (heap.size < k) heap.enqueue((s, id))
    else {
      val (ws, wi) = heap.head // worst kept
      if (s > ws || (s == ws && id < wi)) { heap.dequeue(); heap.enqueue((s, id)) }
    }
  }

  def foreach(f: (Double, Long) => Unit): Unit =
    heap.foreach { case (s, i) => f(s, i) }

  def sortedDesc: Array[(Double, Long)] =
    heap.toArray.sortBy { case (s, i) => (-s, i) }

  def serialize(): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(heap.size)
    heap.foreach { case (s, i) => out.writeDouble(s); out.writeLong(i) }
    out.flush(); bos.toByteArray
  }
}

object TopKBuffer {
  def deserialize(bytes: Array[Byte], k: Int): TopKBuffer = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val buf = new TopKBuffer(k)
    val n = in.readInt()
    (0 until n).foreach { _ => buf.add(in.readDouble(), in.readLong()) }
    buf
  }
}
