package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Custom Catalyst expressions for the similarity hot path (X3).
  *
  * `aggregate(zip_with(a, b, …))` builds an intermediate array and
  * walks interpreted lambda closures per element; these expressions
  * compile to a tight primitive loop inside WholeStageCodegen — the
  * preference-order step (b) of SURVEY.md §7: a native `Expression`
  * before any UDF.
  *
  * Null semantics: null if either input is null (NullIntolerant);
  * arrays are assumed element-complete (embedding vectors), mismatched
  * lengths use the common prefix.
  */
abstract class VectorBinaryExpression extends BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
}

/** dot(a, b) over array<float> in double precision. */
case class DotProduct(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((double) $x.getFloat($i)) * ((double) $y.getFloat($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Integer-quantized dot(a, b): Σ round(aᵢ·1e7)·round(bᵢ·1e7) as a
  * LONG — the exact, order-independent form the oracle comparisons
  * use, computed in one codegen'd loop instead of
  * transform+zip_with+aggregate. `round` is half away from zero, as in
  * Spark SQL's and DuckDB's `round` (the `round(x * 10000000)` mirrors
  * in the oracle SQL): `Math.round` alone would take −x.5 toward +∞,
  * so negatives round their magnitude. */
case class QuantizedDot(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "vec_qdot"

  @inline private def q(f: Float): Long = {
    val v = f.toDouble * 1e7d
    if (v < 0d) -Math.round(-v) else Math.round(v)
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += q(x.getFloat(i)) * q(y.getFloat(i))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val a = ctx.freshName("a")
      val b = ctx.freshName("b")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $a = ((double) $x.getFloat($i)) * 1.0E7d;
         |  double $b = ((double) $y.getFloat($i)) * 1.0E7d;
         |  $acc += ($a < 0.0d ? -java.lang.Math.round(-$a) : java.lang.Math.round($a))
         |        * ($b < 0.0d ? -java.lang.Math.round(-$b) : java.lang.Math.round($b));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Int8 scalar-quantized dot(a, b): Σ clamp₁₂₇(⌊aᵢ·127+0.5⌋) ·
  * clamp₁₂₇(⌊bᵢ·127+0.5⌋) as a LONG — the compressed-domain score of
  * an SQ8 scan (FAISS-style scalar quantization): at cluster scale the
  * int8 code arrays are materialized at write time (4× smaller scan
  * I/O than float32) and this loop runs over codes; here the quantizer
  * is fused into one codegen'd pass over the float arrays. Uses
  * ⌊x+0.5⌋ (= Math.round) so the oracle mirror `floor(x*127 + 0.5)`
  * is bit-identical in every rounding case, negative halves included.
  */
case class Sq8Dot(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "vec_sq8dot"

  @inline private def q(f: Float): Long = {
    val r = Math.floor(f.toDouble * 127d + 0.5d).toLong
    if (r > 127L) 127L else if (r < -127L) -127L else r
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += q(x.getFloat(i)) * q(y.getFloat(i))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val qa = ctx.freshName("qa")
      val qb = ctx.freshName("qb")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $qa = (long) java.lang.Math.floor(((double) $x.getFloat($i)) * 127.0d + 0.5d);
         |  long $qb = (long) java.lang.Math.floor(((double) $y.getFloat($i)) * 127.0d + 0.5d);
         |  $qa = $qa > 127L ? 127L : ($qa < -127L ? -127L : $qa);
         |  $qb = $qb > 127L ? 127L : ($qb < -127L ? -127L : $qb);
         |  $acc += $qa * $qb;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Base for expressions over PRE-QUANTIZED vectors (array<bigint> —
  * the repo-standard round(x·1e7) integer form the oracled queries
  * compare in). Same input contract as [[VectorBinaryExpression]],
  * long element type — but with the FULL `aggregate(zip_with(…))`
  * null semantics these expressions replace (ADVICE r14): a length
  * mismatch or a NULL element yields NULL, never a silently truncated
  * or partial sum. The element null check is only emitted when an
  * input's array type admits null elements, so the dense hot path
  * (both sides containsNull=false) stays branch-free. */
abstract class LongVectorBinaryExpression extends BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  /** Whether any input element can be NULL (drives both `nullable`
    * and the emission of the per-element check). */
  protected def elementsNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, cn) => cn
    case _ => false
  })

  /** Length mismatch (zip_with pads with NULLs → NULL sum) always
    * makes NULL possible, independent of input nullability. */
  override def nullable: Boolean = true
}

/** Σ(aᵢ−bᵢ)² over array<bigint> — the integer squared-L2 the k-means /
  * similarity hot loops score with. Replaces
  * `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0L, …)`, which
  * allocates the zipped array and walks interpreted lambdas per row;
  * this is one codegen'd primitive loop (identical integer results —
  * same order, same arithmetic). */
case class QuantizedL2(left: Expression, right: Expression) extends LongVectorBinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "vec_l2q"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getLong(i) - y.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val nullCheck =
        if (elementsNullable)
          s"if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $x.numElements();
         |if ($y.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    long $d = $x.getLong($i) - $y.getLong($i);
         |    $acc += $d * $d;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Σ aᵢ·bᵢ over array<bigint> — integer dot of pre-quantized vectors
  * (self-dot gives the squared norm). Same replacement rationale as
  * [[QuantizedL2]]. */
case class LongDot(left: Expression, right: Expression) extends LongVectorBinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "vec_ldot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val nullCheck =
        if (elementsNullable)
          s"if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $x.numElements();
         |if ($y.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    $acc += $x.getLong($i) * $y.getLong($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object VectorFunctions {
  /** Column API. */
  def vec_dot(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))
  def vec_qdot(a: Column, b: Column): Column =
    Bridge.column(QuantizedDot(Bridge.expression(a), Bridge.expression(b)))
  def vec_sq8dot(a: Column, b: Column): Column =
    Bridge.column(Sq8Dot(Bridge.expression(a), Bridge.expression(b)))
  def vec_l2q(a: Column, b: Column): Column =
    Bridge.column(QuantizedL2(Bridge.expression(a), Bridge.expression(b)))
  def vec_ldot(a: Column, b: Column): Column =
    Bridge.column(LongDot(Bridge.expression(a), Bridge.expression(b)))

  /** SQL registration (also injectable via SparkSessionExtensions). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dot", exprs => DotProduct(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_qdot", exprs => QuantizedDot(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_sq8dot", exprs => Sq8Dot(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_l2q", exprs => QuantizedL2(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_ldot", exprs => LongDot(exprs.head, exprs(1)), "built-in")
  }
}
