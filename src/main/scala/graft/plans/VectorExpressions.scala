package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, MakeDecimal, UnscaledValue}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** The argument check of every kernel: success, or the failure message. */
private[plans] object TypeCheck {
  def apply(ok: Boolean, failure: => String): TypeCheckResult =
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(failure)

  /** An array of `elem`, nullable elements or not. */
  def isArrayOf(t: DataType, elem: DataType): Boolean = t match {
    case ArrayType(e, _) => e == elem
    case _               => false
  }
}

/** Native codegen dot product over two numeric vectors (array<float> or
  * array<double> on either side) — SURVEY.md §2.K's "codegen Expression"
  * row, justified by profiling: the higher-order `aggregate(zip_with(...))`
  * formulation is interpreted per row (no whole-stage codegen for lambda
  * functions) and dominated the similarity benchmarks (~155 s of a 250 s
  * sf0.1 run). This expression's generated code calls the companion's
  * `dot`, a tight loop, inside the WholeStageCodegen stage instead; the
  * interpreted path calls the same body.
  *
  * Accumulation order is the same sequential left-to-right fold as the HOF
  * formulation and DuckDB's list loops, so §7.2 float parity is preserved.
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def checkInputDataTypes(): TypeCheckResult = TypeCheck(
    FloatVecDot.floatElems(left).isDefined &&
      FloatVecDot.floatElems(right).isDefined,
    s"$prettyName requires array<float|double> arguments, got " +
      s"${left.dataType.sql} and ${right.dataType.sql}")

  private def isFloat(e: Expression) = FloatVecDot.floatElems(e).get

  override def nullSafeEval(a: Any, b: Any): Any =
    FloatVecDot.dot(a.asInstanceOf[ArrayData], isFloat(left),
      b.asInstanceOf[ArrayData], isFloat(right))

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.FloatVecDot.dot(" +
      s"$a, ${isFloat(left)}, $b, ${isFloat(right)})")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}

/** The one body of `vec_dot` for both evaluation modes: the generated code
  * calls it as a static method.
  */
object FloatVecDot {
  /** Whether a vector argument is array<float> (vs array<double>); None
    * for any other type.
    */
  def floatElems(e: Expression): Option[Boolean] = e.dataType match {
    case ArrayType(FloatType, _)  => Some(true)
    case ArrayType(DoubleType, _) => Some(false)
    case _                        => None
  }

  def element(d: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) d.getFloat(i).toDouble else d.getDouble(i)

  /** Sequential left-to-right double fold over the common prefix. */
  def dot(x: ArrayData, xFloat: Boolean, y: ArrayData,
          yFloat: Boolean): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += element(x, xFloat, i) * element(y, yFloat, i)
      i += 1
    }
    acc
  }
}

/** All hyperplane-LSH band keys of one vector in ONE expression node.
  *
  * The expr()-string formulation (bands × rows CASE WHENs, each with a
  * 64-double array literal) builds a ~6 400-leaf expression tree whose
  * analysis + constant folding + janino compile cost ~3.5 s PER QUERY at
  * 20×5 — a fixed driver-side tax that dwarfed the actual scan at bench
  * scale. Here the plane matrix rides along as a codegen reference object
  * (`references[i]`, not generated source), so the generated code is one
  * call of the companion's `bandKeys` regardless of band shape.
  *
  * Key k(b) folds the r projection signs big-endian:
  * bit (rows-1-r) set iff dot(v, plane(b·rows+r)) > 0. Each dot is the same
  * sequential left-to-right double fold as FloatVecDot, so the sign bits —
  * and hence the candidate set — stay bit-identical to the DuckDB oracle's
  * list_dot_product over the same plane literals (§7.2 parity contract:
  * no SIMD/tree reordering).
  */
case class HyperplaneBandKeys(child: Expression,
                              planes: Seq[Seq[Double]],
                              rows: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "lsh_band_keys"

  override def checkInputDataTypes(): TypeCheckResult = TypeCheck(
    FloatVecDot.floatElems(child).isDefined && planes.nonEmpty &&
      planes.length % rows == 0,
    s"$prettyName requires an array<float|double> input and " +
      s"planes.length a multiple of rows, got ${child.dataType.sql}")

  /** Java-shaped copy for both eval modes (and the codegen reference). */
  @transient private lazy val planeArr: Array[Array[Double]] =
    planes.map(_.toArray).toArray

  private def isFloat = FloatVecDot.floatElems(child).get

  override def nullSafeEval(input: Any): Any =
    HyperplaneBandKeys.bandKeys(input.asInstanceOf[ArrayData], isFloat,
      planeArr, rows)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("lshPlanes", planeArr, "double[][]")
    defineCodeGen(ctx, ev, v =>
      s"graft.plans.HyperplaneBandKeys.bandKeys($v, $isFloat, $p, $rows)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): HyperplaneBandKeys = copy(child = newChild)
}

object HyperplaneBandKeys {
  /** The one body of the band keys for both evaluation modes. */
  def bandKeys(v: ArrayData, isFloat: Boolean,
               planes: Array[Array[Double]], rows: Int): ArrayData = {
    val keys = new Array[Int](planes.length / rows)
    var b = 0
    while (b < keys.length) {
      var key = 0
      var r = 0
      while (r < rows) {
        val pl = planes(b * rows + r)
        val n = math.min(v.numElements(), pl.length)
        var acc = 0.0
        var i = 0
        while (i < n) {
          acc += FloatVecDot.element(v, isFloat, i) * pl(i)
          i += 1
        }
        if (acc > 0) key += 1 << (rows - 1 - r)
        r += 1
      }
      keys(b) = key
      b += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(keys)
  }
}

/** ∃ j < band: ka[j] == kb[j] — the LSH first-collision filter's
  * predicate as a native codegen loop with early exit. The declarative
  * spelling `exists(zip_with(slice(ka,1,band), slice(kb,1,band), …))` is
  * an INTERPRETED higher-order chain (lambda functions never enter
  * whole-stage codegen) evaluated once per candidate pair — at sf0.1 the
  * ANN query explodes ~10⁶ candidates and the interpreter was its whole
  * wall (the same profiling argument as FloatVecDot above). Semantics are
  * identical: slice-out-of-range positions simply don't collide (the n
  * bound below), band 0 checks nothing.
  */
case class BandPrefixCollides(first: Expression, second: Expression,
                              third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "band_prefix_collides"

  override def checkInputDataTypes(): TypeCheckResult = {
    // containsNull must be FALSE: the loop reads slots with getInt, which
    // would silently decode a null slot as 0 (a phantom collision on two
    // null slots). The replaced exists(zip_with(...)) spelling propagated
    // null instead — rather than pick either semantics at runtime, reject
    // nullable-element arrays at analysis time. The only producer
    // (HyperplaneBandKeys) declares containsNull = false, so the LSH
    // pipeline type-checks unchanged; anything else must prove its
    // elements non-null first (e.g. via a transform(coalesce) cast).
    val intArr = (e: Expression) => e.dataType match {
      case ArrayType(org.apache.spark.sql.types.IntegerType, n) => !n
      case _ => false
    }
    TypeCheck(intArr(first) && intArr(second) &&
        third.dataType == org.apache.spark.sql.types.IntegerType,
      s"$prettyName requires (array<int> containsNull=false ×2, int), " +
        s"got ${first.dataType.sql}, ${second.dataType.sql}, " +
        s"${third.dataType.sql}")
  }

  override def nullSafeEval(ka: Any, kb: Any, band: Any): Any =
    BandPrefixCollides.collides(ka.asInstanceOf[ArrayData],
      kb.asInstanceOf[ArrayData], band.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (ka, kb, band) =>
      s"graft.plans.BandPrefixCollides.collides($ka, $kb, $band)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): BandPrefixCollides =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object BandPrefixCollides {
  /** The one body of the predicate for both evaluation modes. */
  def collides(x: ArrayData, y: ArrayData, band: Int): Boolean = {
    val n = math.min(math.min(x.numElements(), y.numElements()), band)
    var j = 0
    while (j < n) {
      if (x.getInt(j) == y.getInt(j)) return true
      j += 1
    }
    false
  }
}

/** Crossing-number ray cast of one point against a polygon edge list —
  * the per-(point, polygon) kernel of q_geo_point_in_polygon as one
  * codegen loop (r21 verdict #5: the `aggregate()` higher-order spelling
  * is an INTERPRETED lambda chain — lambdas never enter whole-stage
  * codegen — evaluated once per BNLJ candidate pair, ~375 k pairs at
  * sf0.1, and was the last big interpreted expression in a hot path).
  *
  * Arithmetic is the EXACT per-edge expression it replaces, in the same
  * order on the same doubles:
  *   (y1 > py) != (y2 > py) && px < x1 + (py − y1)·(x2 − x1)/(y2 − y1)
  * with the same short-circuit (the division only runs when the straddle
  * test already guarantees y2 ≠ y1 — horizontal edges contribute 0,
  * vertical edges hit the exact zero-product term), so crossings — and
  * the odd/even verdict — are bit-identical to the HOF formulation.
  * Edges shorter than 2 points or with sub-2 coordinate arity count 0,
  * matching element_at's null-propagation-to-false in the CASE, and so
  * does a null edge, point or coordinate.
  */
case class RayCrossings(first: Expression, second: Expression,
                        third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "ray_crossings"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = first.dataType match {
      case ArrayType(ArrayType(ArrayType(DoubleType, _), _), _) => true
      case _ => false
    }
    TypeCheck(ok && second.dataType == DoubleType &&
        third.dataType == DoubleType,
      s"$prettyName requires (array<array<array<double>>>, double, " +
        s"double), got ${first.dataType.sql}, ${second.dataType.sql}, " +
        s"${third.dataType.sql}")
  }

  override def nullSafeEval(es: Any, px: Any, py: Any): Any =
    RayCrossings.crossings(es.asInstanceOf[ArrayData],
      px.asInstanceOf[Double], py.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (es, px, py) =>
      s"graft.plans.RayCrossings.crossings($es, $px, $py)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): RayCrossings =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object RayCrossings {
  /** A non-null point with non-null x and y. */
  private def isPoint(p: ArrayData): Boolean =
    p != null && p.numElements() >= 2 && !p.isNullAt(0) && !p.isNullAt(1)

  /** The one body of the ray cast for both evaluation modes. */
  def crossings(edges: ArrayData, px: Double, py: Double): Int = {
    var acc = 0
    var i = 0
    val n = edges.numElements()
    while (i < n) {
      val e = edges.getArray(i)
      if (e != null && e.numElements() >= 2) {
        val p1 = e.getArray(0)
        val p2 = e.getArray(1)
        if (isPoint(p1) && isPoint(p2)) {
          val x1 = p1.getDouble(0); val y1 = p1.getDouble(1)
          val x2 = p2.getDouble(0); val y2 = p2.getDouble(1)
          if ((y1 > py) != (y2 > py) &&
              px < x1 + (py - y1) * (x2 - x1) / (y2 - y1)) acc += 1
        }
      }
      i += 1
    }
    acc
  }
}

object VectorFunctions {
  /** The engine's fixed functions as (name, builder), the one table that
    * both GraftExtensions and `register` read.
    */
  val fixed: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "vec_dot" -> (a => FloatVecDot(a(0), a(1))),
    "band_prefix_collides" -> (a => BandPrefixCollides(a(0), a(1), a(2))),
    "winnow_fps" -> (a => WinnowFingerprints(a(0))),
    "cdc_chunks" -> (a => CdcChunks(a(0))),
    "shingle_xxh64_set" -> (a => ShingleXxh64Set(a(0))),
    "shingle_md5p60_set" -> (a => ShingleMd5Set(a(0), 15)),
    "shingle_md5p32_set" -> (a => ShingleMd5Set(a(0), 8)),
    "ray_crossings" -> (a => RayCrossings(a(0), a(1), a(2))),
    // Decimal(38,12) ⇄ unscaled-long micro-units (r21 verdict #7, the
    // adamic-adar byte trim): both are Spark's own internal expressions
    // (UnscaledValue / MakeDecimal — the machinery behind long-backed
    // decimal aggregates), exposed to expr() so a DECIMAL(38,12) weight
    // can ride a shuffle as an 8-byte long and be reconstructed
    // bit-identically (same unscaled value, same scale) on the other
    // side. Exact by construction — no double round-trip anywhere.
    "unscaled_dec" -> (a => UnscaledValue(a(0))),
    "make_dec12" -> (a => MakeDecimal(a(0), 38, 12)))

  /** Make the fixed functions callable from expr()/SQL in a session built
    * without GraftExtensions. Idempotent.
    */
  def register(spark: SparkSession): Unit =
    fixed.foreach { case (name, build) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, build, "built-in")
    }

  /** Register a `minhash_sigs_<k>_<digest>` function with the
    * universal-hash family constants baked in (SQL functions can't take
    * array literals as family parameters). Idempotent per family; the
    * constants digest in the name keeps two same-K families from
    * silently colliding under createOrReplaceTempFunction's last-wins
    * (ADVICE r21).
    */
  def registerMinhashSigs(spark: SparkSession, as: Seq[Long],
                          bs: Seq[Long], p: Long): String = {
    val digest = java.lang.Long.toHexString(
      (as ++ bs :+ p).foldLeft(1125899906842597L)((h, v) =>
        h * 31L + v) & Long.MaxValue)
    val name = s"minhash_sigs_${as.length}_$digest"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, args => MinhashSigs(args(0), as, bs, p), "built-in")
    name
  }

  /** Register a band-shape-specific `lsh_keys_<bands>_<rows>` function with
    * the plane matrix baked in (SQL functions can't take a matrix argument).
    * Idempotent per shape; name-spaced by shape so two shapes can coexist
    * in one session.
    */
  def registerLshKeys(spark: SparkSession, planes: Seq[Seq[Double]],
                      rows: Int): String = {
    val name = s"lsh_keys_${planes.length / rows}_$rows"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, args => HyperplaneBandKeys(args(0), planes, rows), "built-in")
    name
  }
}

/** SparkSessionExtensions entry point — the idiomatic deployment path:
  *
  *   spark.sql.extensions=graft.plans.GraftExtensions
  *
  * injects every fixed engine function into each session at build time,
  * `newSession()` children included, so no query registers anything.
  * `SparkEntry.localSession` installs it.
  */
class GraftExtensions
    extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    VectorFunctions.fixed.foreach { case (name, build) =>
      ext.injectFunction((
        new org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), build))
    }
}
