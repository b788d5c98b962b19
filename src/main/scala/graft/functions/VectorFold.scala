package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native codegen dot product over embedding arrays.
  *
  * [[Exact.foldDot]]'s `zip_with` + `aggregate` form is semantically the
  * oracle mirror, but Spark's higher-order functions are
  * `CodegenFallback`: they interpret their lambda per element, allocate
  * an intermediate product array per pair, and break the enclosing
  * whole-stage-codegen span. On the brute-force/ANN paths the dot product
  * is THE inner loop — at 100 TB it runs billions of times — so it gets
  * the same treatment as [[graft.geo.PointInPolygon]]: a real Catalyst
  * expression whose `doGenCode` emits the tight primitive loop inline,
  * keeping the surrounding join/filter/projection in one codegen span.
  *
  * The float semantics are IDENTICAL to the HOF form — a sequential
  * left-fold from 0.0 of per-element `(double) a[i] * (double) b[i]`
  * products in array order — so results are bit-for-bit the ones the
  * DuckDB oracle computes (VectorFoldSpec pins native ≡ HOF on every
  * element type combination). Null semantics likewise: null array,
  * length mismatch, or null element → null, matching what the
  * `zip_with` product array makes `aggregate` return.
  */
case class FoldDot(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "fold_dot"

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"fold_dot expects array<float|double> inputs, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val aa = a.asInstanceOf[ArrayData]
    val ba = b.asInstanceOf[ArrayData]
    val n = aa.numElements()
    if (n != ba.numElements()) return null
    val aF = elemType(left) == FloatType
    val bF = elemType(right) == FloatType
    var acc = 0.0d
    var i = 0
    while (i < n) {
      if (aa.isNullAt(i) || ba.isNullAt(i)) return null
      val x = if (aF) aa.getFloat(i).toDouble else aa.getDouble(i)
      val y = if (bF) ba.getFloat(i).toDouble else ba.getDouble(i)
      acc = acc + x * y
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def getter(e: Expression, arr: String, i: String): String =
      if (elemType(e) == FloatType) s"(double) $arr.getFloat($i)"
      else s"$arr.getDouble($i)"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ${getter(left, a, i)} * ${getter(right, b, i)};
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
         |""".stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Integer twin of [[FoldDot]] for quantized vectors (`array<long>` —
  * the int8-ANN path q80): exact long arithmetic, so unlike the float
  * fold there is no op-order subtlety at all, just the same
  * CodegenFallback-HOF cost to avoid. Null semantics mirror [[FoldDot]].
  */
case class FoldDotLong(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "fold_dot_long"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"fold_dot_long expects array<bigint> inputs, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val aa = a.asInstanceOf[ArrayData]
    val ba = b.asInstanceOf[ArrayData]
    val n = aa.numElements()
    if (n != ba.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (aa.isNullAt(i) || ba.isNullAt(i)) return null
      acc = acc + aa.getLong(i) * ba.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $a.getLong($i) * $b.getLong($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Nearest-candidate argmin for product quantization: given a query
  * subvector `va` (array&lt;double&gt;) and the candidate codewords `cvs`
  * (array&lt;array&lt;double&gt;&gt;, one entry per codeword in tie-break
  * order), return the 0-BASED INDEX of the squared-L2-nearest codeword.
  * Strict `<` tracking keeps the FIRST minimum, so with cvs sorted by
  * cent_id the winner is (dist asc, cent_id asc) — the PQ oracle's
  * row_number order.
  *
  * Each distance is the `dot(a,a) − 2·dot(a,b) + dot(b,b)` decomposition
  * with the same per-accumulator sequential fold order as [[FoldDot]], so
  * doubles are bit-identical to the oracle's three `list_reduce` folds.
  * The three accumulators advance together in one pass — per accumulator
  * the op sequence is unchanged, so the bits are too.
  *
  * Why an expression and not a UDF: the PQ ENCODE path runs this per
  * corpus row at 100 TB, and a Scala UDF re-decodes the (broadcast,
  * identical-every-row) nested codeword array into boxed Seq[Seq[Double]]
  * per row. This expression reads the ArrayData in place and codegens the
  * nested loop into the enclosing span. Null contract mirrors
  * [[FoldDot]]: null arrays, null elements, empty cvs, or a length
  * mismatch → null. A candidate whose distance is NaN never wins the
  * strict `<` (it is skipped — a NaN confined to one codeword just
  * eliminates that codeword, matching the oracle's NaN-sorts-last
  * order); only when EVERY distance is NaN (e.g. a NaN query subvector)
  * does no candidate win, and that degenerate case is null, never a
  * leaked `-1` index.
  */
case class PqArgmin(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_argmin"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"pq_argmin expects (array<double>, array<array<double>>), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val va = a.asInstanceOf[ArrayData]
    val cvs = b.asInstanceOf[ArrayData]
    val k = cvs.numElements()
    val n = va.numElements()
    if (k == 0) return null
    var best = -1
    var bd = Double.PositiveInfinity
    var c = 0
    while (c < k) {
      if (cvs.isNullAt(c)) return null
      val cv = cvs.getArray(c)
      if (cv.numElements() != n) return null
      var aa = 0.0d; var ab = 0.0d; var bb = 0.0d
      var i = 0
      while (i < n) {
        if (va.isNullAt(i) || cv.isNullAt(i)) return null
        val x = va.getDouble(i); val y = cv.getDouble(i)
        aa = aa + x * x; ab = ab + x * y; bb = bb + y * y
        i += 1
      }
      val d = aa - 2.0d * ab + bb
      if (d < bd) { bd = d; best = c }
      c += 1
    }
    if (best < 0) null else best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val k = ctx.freshName("k")
      val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val cv = ctx.freshName("cv")
      val aa = ctx.freshName("aa")
      val ab = ctx.freshName("ab")
      val bb = ctx.freshName("bb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val d = ctx.freshName("d")
      val bd = ctx.freshName("bd")
      val best = ctx.freshName("best")
      s"""
         |int $k = $b.numElements();
         |int $n = $a.numElements();
         |if ($k == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $best = -1;
         |  double $bd = Double.POSITIVE_INFINITY;
         |  for (int $c = 0; $c < $k && !${ev.isNull}; $c++) {
         |    if ($b.isNullAt($c)) { ${ev.isNull} = true; break; }
         |    org.apache.spark.sql.catalyst.util.ArrayData $cv = $b.getArray($c);
         |    if ($cv.numElements() != $n) { ${ev.isNull} = true; break; }
         |    double $aa = 0.0, $ab = 0.0, $bb = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      if ($a.isNullAt($i) || $cv.isNullAt($i)) { ${ev.isNull} = true; break; }
         |      double $x = $a.getDouble($i);
         |      double $y = $cv.getDouble($i);
         |      $aa += $x * $x; $ab += $x * $y; $bb += $y * $y;
         |    }
         |    double $d = $aa - 2.0 * $ab + $bb;
         |    if (!${ev.isNull} && $d < $bd) { $bd = $d; $best = $c; }
         |  }
         |  if (!${ev.isNull}) {
         |    if ($best < 0) { ${ev.isNull} = true; } else { ${ev.value} = $best; }
         |  }
         |}
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorFold {
  /** Register `fold_dot` in an existing session (idempotent; same
    * pattern as [[graft.geo.Geo.register]] — Spark 4 exposes no public
    * Expression→Column constructor, so custom expressions enter plans
    * through the function registry).
    */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "fold_dot", exprs => FoldDot(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "fold_dot_long", exprs => FoldDotLong(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "pq_argmin", exprs => PqArgmin(exprs(0), exprs(1)), "built-in")
  }

  /** `fold_dot(a, b)` — requires [[register]] to have run on the session
    * that analyzes the plan.
    */
  def dot(a: Column, b: Column): Column = call_function("fold_dot", a, b)

  /** `fold_dot_long(a, b)` — same registration requirement. */
  def dotLong(a: Column, b: Column): Column = call_function("fold_dot_long", a, b)

  /** `pq_argmin(va, cvs)` — same registration requirement. */
  def pqArgmin(va: Column, cvs: Column): Column = call_function("pq_argmin", va, cvs)
}
