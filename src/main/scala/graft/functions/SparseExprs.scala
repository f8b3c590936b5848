package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, LongType}

/** The two-pointer merge the sparse kernels below share: walk two key
  * arrays sorted ascending as signed longs (the order `array_sort` gives
  * LongType) and, at every key present in both, add the caller's term
  * for that (i, j) match to a long sum. O(|a| + |b|), allocation-free.
  * Elements are assumed non-null and distinct within each array. */
private[graft] object SortedMerge {
  def sum(a1: Any, a2: Any)(term: (Int, Int) => Long): Long = {
    val k1 = a1.asInstanceOf[ArrayData]; val k2 = a2.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var s = 0L
    val n1 = k1.numElements(); val n2 = k2.numElements()
    while (i < n1 && j < n2) {
      val x = k1.getLong(i); val y = k2.getLong(j)
      if (x == y) {
        s += term(i, j); i += 1; j += 1
      } else if (x < y) i += 1
      else j += 1
    }
    s
  }

  /** [[sum]] as generated Java; `term` gets the match's (i, j) names. */
  def code(ctx: CodegenContext, ev: ExprCode, k1: String, k2: String)
          (term: (String, String) => String): String = {
    val i = ctx.freshName("i"); val j = ctx.freshName("j")
    val s = ctx.freshName("s")
    val x = ctx.freshName("x"); val y = ctx.freshName("y")
    s"""
       |int $i = 0; int $j = 0; long $s = 0L;
       |while ($i < $k1.numElements() && $j < $k2.numElements()) {
       |  long $x = $k1.getLong($i); long $y = $k2.getLong($j);
       |  if ($x == $y) {
       |    $s += ${term(i, j)};
       |    $i++; $j++;
       |  } else if ($x < $y) { $i++; } else { $j++; }
       |}
       |${ev.value} = $s;
       """.stripMargin
  }
}

/** A sum over the key-intersection of two SPARSE vectors given as
  * parallel (sorted-keys, weights) array pairs: the [[SortedMerge]] walk
  * over the keys, adding the subclass's [[term]] of the two matched
  * weights. Keys are 64-bit hashes (the q61/q326 fixed-width
  * convention), so the key compare is a single long compare and
  * everything upstream (shuffles, join keys, sort order) is fixed-width
  * too.
  *
  * Nulls: any null input array yields NULL; elements are assumed
  * non-null (builders construct them from non-null groupBy keys).
  */
abstract class SparseMergeSum extends QuaternaryExpression
    with ExpectsInputTypes {
  def ka: Expression
  def wa: Expression
  def kb: Expression
  def wb: Expression
  /** What one key match adds, given the two matched weights. */
  protected def term(w1: Long, w2: Long): Long
  /** [[term]] as Java over the two weight expressions. */
  protected def termCode(w1: String, w2: String): String

  override def first: Expression = ka
  override def second: Expression = wa
  override def third: Expression = kb
  override def fourth: Expression = wb
  override def inputTypes: Seq[AbstractDataType] = Seq.fill(4)(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullable: Boolean =
    ka.nullable || wa.nullable || kb.nullable || wb.nullable

  override def nullSafeEval(a1: Any, a2: Any, a3: Any, a4: Any): Any = {
    val v1 = a2.asInstanceOf[ArrayData]; val v2 = a4.asInstanceOf[ArrayData]
    SortedMerge.sum(a1, a3)((i, j) => term(v1.getLong(i), v2.getLong(j)))
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (k1, v1, k2, v2) =>
      SortedMerge.code(ctx, ev, k1, k2)((i, j) =>
        termCode(s"$v1.getLong($i)", s"$v2.getLong($j)")))
}

/** Σ min(wa, wb) over the key-intersection of two sparse vectors — the
  * weighted-Jaccard verification kernel. The merge runs in O(|a| + |b|)
  * per pair, entirely inside whole-stage codegen: the alternative
  * (per-pair posting-list join + hash re-aggregation) shuffles
  * |pairs|·|doc| rows, which at 10⁵+ candidate pairs is the dominant
  * stage cost (measured on q305: 2.5 s join+agg vs sub-second merge). */
case class SparseMinSumLong(ka: Expression, wa: Expression,
                            kb: Expression, wb: Expression)
    extends SparseMergeSum {
  override def prettyName: String = "graft_sparse_min_sum_long"
  override protected def term(w1: Long, w2: Long): Long = math.min(w1, w2)
  override protected def termCode(w1: String, w2: String): String =
    s"Math.min($w1, $w2)"
  override protected def withNewChildrenInternal(
      first: Expression, second: Expression,
      third: Expression, fourth: Expression): Expression =
    copy(ka = first, wa = second, kb = third, wb = fourth)
}

/** Sparse integer DOT PRODUCT over 64-bit-hashed keys: the cosine
  * verify kernel (q331). Products and the running sum stay in Long —
  * callers quantize weights so Σw² (hence any dot) fits 2⁶³, the q266
  * contract. */
case class SparseDotLong(ka: Expression, wa: Expression,
                         kb: Expression, wb: Expression)
    extends SparseMergeSum {
  override def prettyName: String = "graft_sparse_dot_long"
  override protected def term(w1: Long, w2: Long): Long = w1 * w2
  override protected def termCode(w1: String, w2: String): String =
    s"$w1 * $w2"
  override protected def withNewChildrenInternal(
      first: Expression, second: Expression,
      third: Expression, fourth: Expression): Expression =
    copy(ka = first, wa = second, kb = third, wb = fourth)
}

/** |a ∩ b| of two SORTED long arrays (distinct-element sets) — the
  * set-intersection kernel of every exact n-gram Jaccard / containment
  * verify: the [[SortedMerge]] walk counting matches.
  * `size(array_intersect(a, b))` allocates a hash set AND a result
  * array per pair; at ~10⁶ truth pairs that per-pair allocation is the
  * dominant stage cost, while this merge is allocation-free inside
  * whole-stage codegen. Callers build the inputs once per DOC, not per
  * pair (`Dedup.gramSet`). */
case class SortedIntersectCountLong(ka: Expression, kb: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ExpectsInputTypes {
  override def left: Expression = ka
  override def right: Expression = kb
  override def inputTypes: Seq[AbstractDataType] = Seq.fill(2)(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sorted_intersect_count"
  override def nullable: Boolean = ka.nullable || kb.nullable

  override def nullSafeEval(a1: Any, a2: Any): Any =
    SortedMerge.sum(a1, a2)((_, _) => 1L)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (k1, k2) =>
      SortedMerge.code(ctx, ev, k1, k2)((_, _) => "1L"))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(ka = newLeft, kb = newRight)
}

object SparseExprs {
  def sparseMinSumLong(ka: Column, wa: Column, kb: Column, wb: Column): Column =
    ExpressionUtils.column(SparseMinSumLong(
      ExpressionUtils.expression(ka), ExpressionUtils.expression(wa),
      ExpressionUtils.expression(kb), ExpressionUtils.expression(wb)))
  def sparseDotLong(ka: Column, wa: Column, kb: Column, wb: Column): Column =
    ExpressionUtils.column(SparseDotLong(
      ExpressionUtils.expression(ka), ExpressionUtils.expression(wa),
      ExpressionUtils.expression(kb), ExpressionUtils.expression(wb)))
  def sortedIntersectCountLong(ka: Column, kb: Column): Column =
    ExpressionUtils.column(SortedIntersectCountLong(
      ExpressionUtils.expression(ka), ExpressionUtils.expression(kb)))
}
