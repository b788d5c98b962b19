package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}

/** Native codegen set-intersection count over SORTED string arrays.
  *
  * `size(array_intersect(a, b))` builds an `OpenHashSet` of one side
  * per ROW PAIR — on a similarity-join verify stage that hash set is
  * rebuilt millions of times, the per-element hashing dominates, and the
  * `CodegenFallback` breaks the enclosing whole-stage span. When both
  * arrays are already sorted (one `array_sort` per DOCUMENT, amortized
  * over every pair the document appears in), the intersection size is a
  * two-pointer merge: O(|a|+|b|) binary `UTF8String` comparisons, zero
  * allocation, inline in the join's codegen span. Same treatment as
  * [[FoldDot]] for the ANN fold — this is THE inner loop of the
  * n-gram-Jaccard verify, at 100 TB it runs billions of times.
  *
  * Contract (mirrors how [[graft.dedup.PrefixFilter]] calls it): both
  * inputs are arrays of DISTINCT non-null elements sorted ascending in
  * Spark's binary `UTF8String` order (what `array_sort` yields on
  * `array<string>`); the result is then exactly
  * `size(array_intersect(a, b))` (SetKernelSpec pins the equivalence
  * property-style). Null array → null; a null element encountered
  * during the merge → null (elements the merge never visits are not
  * inspected — distinct+sorted+non-null input is the caller's
  * contract, the null return is a guard, not a semantics).
  */
case class SortedIntersectCount(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "sorted_intersect_count"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_count expects array<string> inputs, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val aa = a.asInstanceOf[ArrayData]
    val ba = b.asInstanceOf[ArrayData]
    val na = aa.numElements()
    val nb = ba.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      if (aa.isNullAt(i) || ba.isNullAt(j)) return null
      val cmp = aa.getUTF8String(i).compareTo(ba.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val cmp = ctx.freshName("cmp")
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |int $i = 0, $j = 0, $c = 0;
         |while ($i < $na && $j < $nb) {
         |  if ($a.isNullAt($i) || $b.isNullAt($j)) { ${ev.isNull} = true; break; }
         |  int $cmp = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($cmp == 0) { $c++; $i++; $j++; }
         |  else if ($cmp < 0) { $i++; } else { $j++; }
         |}
         |if (!${ev.isNull}) ${ev.value} = $c;
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SetKernels {
  /** Register `sorted_intersect_count` in an existing session
    * (idempotent; same registry pattern as [[VectorFold.register]]).
    */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sorted_intersect_count",
      exprs => SortedIntersectCount(exprs(0), exprs(1)), "built-in")

  /** `sorted_intersect_count(a, b)` — requires [[register]] to have run
    * on the analyzing session.
    */
  def intersectCount(a: Column, b: Column): Column =
    call_function("sorted_intersect_count", a, b)
}
