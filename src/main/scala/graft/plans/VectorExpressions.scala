package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen dot product over two numeric vectors (array<float> or
  * array<double> on either side) — SURVEY.md §2.K's "codegen Expression"
  * row, justified by profiling: the higher-order `aggregate(zip_with(...))`
  * formulation is interpreted per row (no whole-stage codegen for lambda
  * functions) and dominated the similarity benchmarks (~155 s of a 250 s
  * sf0.1 run). This expression generates a tight Java loop inside the
  * WholeStageCodegen stage instead.
  *
  * Accumulation order is the same sequential left-to-right fold as the HOF
  * formulation and DuckDB's list loops, so §7.2 float parity is preserved.
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(FloatType, _)  => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _                        => None
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (elemType(left).isDefined && elemType(right).isDefined)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float|double> arguments, got " +
          s"${left.dataType.sql} and ${right.dataType.sql}")
  }

  private def get(d: ArrayData, t: DataType, i: Int): Double = t match {
    case FloatType => d.getFloat(i).toDouble
    case _         => d.getDouble(i)
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (tx, ty) = (elemType(left).get, elemType(right).get)
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += get(x, tx, i) * get(y, ty, i)
      i += 1
    }
    acc
  }

  private def genGet(v: String, t: DataType, i: String): String = t match {
    case FloatType => s"(double) $v.getFloat($i)"
    case _         => s"$v.getDouble($i)"
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val (tx, ty) = (elemType(left).get, elemType(right).get)
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ${genGet(a, tx, i)} * ${genGet(b, ty, i)};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}

/** All hyperplane-LSH band keys of one vector in ONE expression node.
  *
  * The expr()-string formulation (bands × rows CASE WHENs, each with a
  * 64-double array literal) builds a ~6 400-leaf expression tree whose
  * analysis + constant folding + janino compile cost ~3.5 s PER QUERY at
  * 20×5 — a fixed driver-side tax that dwarfed the actual scan at bench
  * scale. Here the plane matrix rides along as a codegen reference object
  * (`references[i]`, not generated source), so the generated code is one
  * small triple loop regardless of band shape.
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

  private def bands: Int = planes.length / rows

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "lsh_band_keys"

  private def elemType: Option[DataType] = child.dataType match {
    case ArrayType(FloatType, _)  => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _                        => None
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (elemType.isDefined && planes.nonEmpty && planes.length % rows == 0)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<float|double> input and " +
          s"planes.length a multiple of rows, got ${child.dataType.sql}")

  /** Java-shaped copy for both eval modes (and the codegen reference). */
  @transient private lazy val planeArr: Array[Array[Double]] =
    planes.map(_.toArray).toArray

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val isFloat = elemType.contains(FloatType)
    val keys = new Array[Int](bands)
    var b = 0
    while (b < bands) {
      var key = 0
      var r = 0
      while (r < rows) {
        val pl = planeArr(b * rows + r)
        val n = math.min(v.numElements(), pl.length)
        var acc = 0.0
        var i = 0
        while (i < n) {
          acc += (if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)) *
            pl(i)
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

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val p = ctx.addReferenceObj("lshPlanes", planeArr, "double[][]")
      val keys = ctx.freshName("keys")
      val b = ctx.freshName("b")
      val r = ctx.freshName("r")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val pl = ctx.freshName("pl")
      val key = ctx.freshName("key")
      val get = if (elemType.contains(FloatType))
        s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
      s"""
         |int[] $keys = new int[$bands];
         |for (int $b = 0; $b < $bands; $b++) {
         |  int $key = 0;
         |  for (int $r = 0; $r < $rows; $r++) {
         |    double[] $pl = $p[$b * $rows + $r];
         |    int $n = java.lang.Math.min($v.numElements(), $pl.length);
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $acc += $get * $pl[$i];
         |    }
         |    if ($acc > 0) $key += (1 << ($rows - 1 - $r));
         |  }
         |  $keys[$b] = $key;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions
         |  .UnsafeArrayData.fromPrimitiveArray($keys);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): HyperplaneBandKeys = copy(child = newChild)
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

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
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
    if (intArr(first) && intArr(second) &&
        third.dataType == org.apache.spark.sql.types.IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<int> containsNull=false ×2, int), " +
          s"got ${first.dataType.sql}, ${second.dataType.sql}, " +
          s"${third.dataType.sql}")
  }

  override def nullSafeEval(ka: Any, kb: Any, band: Any): Any = {
    val x = ka.asInstanceOf[ArrayData]
    val y = kb.asInstanceOf[ArrayData]
    val n = math.min(math.min(x.numElements(), y.numElements()),
      band.asInstanceOf[Int])
    var j = 0
    while (j < n) {
      if (x.getInt(j) == y.getInt(j)) return true
      j += 1
    }
    false
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ka, kb, band) => {
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min(
         |  java.lang.Math.min($ka.numElements(), $kb.numElements()), $band);
         |${ev.value} = false;
         |for (int $j = 0; $j < $n; $j++) {
         |  if ($ka.getInt($j) == $kb.getInt($j)) {
         |    ${ev.value} = true;
         |    break;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): BandPrefixCollides =
    copy(first = newFirst, second = newSecond, third = newThird)
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

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = first.dataType match {
      case ArrayType(ArrayType(ArrayType(DoubleType, _), _), _) => true
      case _ => false
    }
    if (ok && second.dataType == DoubleType && third.dataType == DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<array<array<double>>>, double, " +
          s"double), got ${first.dataType.sql}, ${second.dataType.sql}, " +
          s"${third.dataType.sql}")
  }

  override def nullSafeEval(es: Any, pxA: Any, pyA: Any): Any = {
    val edges = es.asInstanceOf[ArrayData]
    val px = pxA.asInstanceOf[Double]
    val py = pyA.asInstanceOf[Double]
    var acc = 0
    var i = 0
    val n = edges.numElements()
    while (i < n) {
      val e = edges.getArray(i)
      if (e != null && e.numElements() >= 2) {
        val p1 = e.getArray(0)
        val p2 = e.getArray(1)
        if (RayCrossings.isPoint(p1) && RayCrossings.isPoint(p2)) {
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

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (es, px, py) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val e = ctx.freshName("e")
      val p1 = ctx.freshName("p1")
      val p2 = ctx.freshName("p2")
      val x1 = ctx.freshName("x1")
      val y1 = ctx.freshName("y1")
      val x2 = ctx.freshName("x2")
      val y2 = ctx.freshName("y2")
      s"""
         |int $acc = 0;
         |int $n = $es.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $e =
         |    $es.getArray($i);
         |  if ($e != null && $e.numElements() >= 2) {
         |    org.apache.spark.sql.catalyst.util.ArrayData $p1 =
         |      $e.getArray(0);
         |    org.apache.spark.sql.catalyst.util.ArrayData $p2 =
         |      $e.getArray(1);
         |    if (graft.plans.RayCrossings.isPoint($p1) &&
         |        graft.plans.RayCrossings.isPoint($p2)) {
         |      double $x1 = $p1.getDouble(0); double $y1 = $p1.getDouble(1);
         |      double $x2 = $p2.getDouble(0); double $y2 = $p2.getDouble(1);
         |      if (($y1 > $py) != ($y2 > $py) &&
         |          $px < $x1 + ($py - $y1) * ($x2 - $x1) / ($y2 - $y1)) {
         |        $acc++;
         |      }
         |    }
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): RayCrossings =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object RayCrossings {
  /** A non-null point with non-null x and y. */
  def isPoint(p: ArrayData): Boolean =
    p != null && p.numElements() >= 2 && !p.isNullAt(0) && !p.isNullAt(1)
}

object VectorFunctions {
  /** Make `vec_dot` + `band_prefix_collides` callable from expr()/SQL in
    * this session. Idempotent.
    */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dot", args => FloatVecDot(args(0), args(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "band_prefix_collides",
      args => BandPrefixCollides(args(0), args(1), args(2)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "winnow_fps", args => WinnowFingerprints(args(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cdc_chunks", args => CdcChunks(args(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "shingle_xxh64_set", args => ShingleXxh64Set(args(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "shingle_md5p60_set", args => ShingleMd5Set(args(0), 15), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "shingle_md5p32_set", args => ShingleMd5Set(args(0), 8), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "ray_crossings",
      args => RayCrossings(args(0), args(1), args(2)), "built-in")
    // Decimal(38,12) ⇄ unscaled-long micro-units (r21 verdict #7, the
    // adamic-adar byte trim): both are Spark's own internal expressions
    // (UnscaledValue / MakeDecimal — the machinery behind long-backed
    // decimal aggregates), exposed to expr() so a DECIMAL(38,12) weight
    // can ride a shuffle as an 8-byte long and be reconstructed
    // bit-identically (same unscaled value, same scale) on the other
    // side. Exact by construction — no double round-trip anywhere.
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "unscaled_dec",
      args => org.apache.spark.sql.catalyst.expressions
        .UnscaledValue(args(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "make_dec12",
      args => org.apache.spark.sql.catalyst.expressions
        .MakeDecimal(args(0), 38, 12), "built-in")
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
  * injects the engine's native expressions into every session at build time
  * (no per-query register() call needed on a cluster).
  */
class GraftExtensions
    extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "vec_dot"),
      (args: Seq[Expression]) => FloatVecDot(args(0), args(1))))
}
