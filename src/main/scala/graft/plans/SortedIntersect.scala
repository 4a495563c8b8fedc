package graft.plans

import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** `|A ∩ B|` over two ASC-SORTED `array<long>` columns as a native
  * codegen'd two-pointer merge — a drop-in for
  * `size(array_intersect(a, b))` on hash arrays.
  *
  * The dedup verify tier (q28 MinHash, q81 n-gram Jaccard, q84
  * containment) intersects one pair of per-doc hash arrays PER
  * CANDIDATE. Spark's `array_intersect` rebuilds a boxed hash set of
  * one side for every row — on the adversarial 10× corpus that stage
  * profiled 860 s of taskRun (dense candidates × hundreds-element
  * arrays). Sorting each doc's array ONCE (amortized across all its
  * candidate pairs) turns every verify into an allocation-free linear
  * merge inside WholeStageCodegen.
  *
  * Contract: inputs sorted ascending with NO null elements (every
  * caller builds them from non-null hash columns); result counts
  * DISTINCT common values (duplicates skipped, matching
  * `array_intersect`'s set semantics, though the dedup callers' arrays
  * are distinct anyway). Null ARRAY → NULL. When the schema admits
  * null elements anyway, a null is poisoned to NULL only if the merge
  * reaches its position before one side exhausts (array_sort places
  * nulls last, where the merge may stop early) — a best-effort guard,
  * not a contract; pass null-free arrays.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
  extends BinaryExpression {

  private def isLongArray(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (isLongArray(left.dataType) && isLongArray(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sorted_intersect_size expects (array<bigint>, array<bigint>), " +
          s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  private lazy val mayHaveNullElems: Boolean =
    left.dataType.asInstanceOf[ArrayType].containsNull ||
      right.dataType.asInstanceOf[ArrayType].containsNull

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = xs.numElements(); val m = ys.numElements()
    var i = 0; var j = 0; var c = 0
    var last = 0L; var hasLast = false
    while (i < n && j < m) {
      if (mayHaveNullElems && (xs.isNullAt(i) || ys.isNullAt(j))) return null
      val x = xs.getLong(i); val y = ys.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else {
        if (!hasLast || x != last) { c += 1; last = x; hasLast = true }
        i += 1; j += 1
      }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val c = ctx.freshName("c")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val last = ctx.freshName("last"); val hasLast = ctx.freshName("hasLast")
      val nullElemCheck =
        if (mayHaveNullElems)
          s"if ($a.isNullAt($i) || $b.isNullAt($j)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $a.numElements(); int $m = $b.numElements();
         |int $i = 0; int $j = 0; int $c = 0;
         |long $last = 0L; boolean $hasLast = false;
         |while ($i < $n && $j < $m) {
         |  $nullElemCheck
         |  long $x = $a.getLong($i); long $y = $b.getLong($j);
         |  if ($x < $y) { $i++; }
         |  else if ($x > $y) { $j++; }
         |  else {
         |    if (!$hasLast || $x != $last) { $c++; $last = $x; $hasLast = true; }
         |    $i++; $j++;
         |  }
         |}
         |if (!${ev.isNull}) { ${ev.value} = $c; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_intersect_size"
}

object SortedIntersectSize {
  /** Column API. */
  def apply(a: Column, b: Column): Column =
    GraftSql.column(SortedIntersectSize(GraftSql.expression(a), GraftSql.expression(b)))
}
