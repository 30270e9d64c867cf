package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `bpe_merge_apply(syms, pa, pb) -> array<string>`: one greedy
  * left-to-right BPE merge pass — every adjacent (pa, pb) symbol pair in
  * `syms` is rewritten to the concatenated symbol `pa || pb`, scanning
  * left to right (so `l l l` with pa=pb=`l` becomes `ll l`: a freshly
  * merged symbol is never re-merged with the next input symbol, exactly
  * Sennrich et al.'s apply order).
  *
  * Native replacement (round-17 optimization) for the interpreted
  * `aggregate()` fold that carried a chr(31)-delimited string accumulator
  * per word — the HOF dispatched an interpreted lambda per SYMBOL and the
  * accumulator re-concatenated the whole word per step (quadratic in word
  * length). Semantics are pinned identical to the fold (and to the DuckDB
  * `list_reduce` oracle replay) by BpeSpec: symbols never contain the
  * delimiter, so the fold's endswith(chr(31)||pa) test is exactly
  * "last emitted symbol == pa".
  */
case class BpeMergeApply(syms: Expression, pa: Expression, pb: Expression)
    extends TernaryExpression {

  override def first: Expression = syms
  override def second: Expression = pa
  override def third: Expression = pb

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_merge_apply"

  override def checkInputDataTypes(): TypeCheckResult =
    (syms.dataType, pa.dataType, pb.dataType) match {
      case (ArrayType(StringType, _), StringType, StringType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"bpe_merge_apply requires (array<string>, string, string), got $other")
    }

  protected override def nullSafeEval(symsRaw: Any, paRaw: Any,
      pbRaw: Any): Any =
    BpeMergeApply.merge(symsRaw.asInstanceOf[ArrayData],
      paRaw.asInstanceOf[UTF8String], pbRaw.asInstanceOf[UTF8String])

  // real codegen via a static call (round-17): CollapseCodegenStages
  // drops any operator holding a CodegenFallback expression out of
  // whole-stage codegen — the fallback spelling un-fused the per-round
  // BPE projections (RollingHash pattern).
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, (s1, s2, s3) =>
      s"graft.functions.BpeMergeApply.merge($s1, $s2, $s3)")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): BpeMergeApply =
    copy(syms = newFirst, pa = newSecond, pb = newThird)
}

object BpeMergeApply {
  /** Static hot-path entry — called directly from generated code. */
  def merge(arr: ArrayData, a: UTF8String, b: UTF8String)
      : GenericArrayData = {
    val n = arr.numElements()
    val out = new java.util.ArrayList[UTF8String](n)
    var i = 0
    while (i < n) {
      val x = arr.getUTF8String(i)
      // null elements are skipped, as TrigramShingles does, so the
      // declared containsNull=false holds
      if (x != null) {
        if (b.equals(x) && out.size() > 0 && a.equals(out.get(out.size() - 1)))
          out.set(out.size() - 1, UTF8String.concat(a, b))
        else out.add(x)
      }
      i += 1
    }
    val res = new Array[Any](out.size())
    var j = 0
    while (j < res.length) { res(j) = out.get(j); j += 1 }
    new GenericArrayData(res)
  }
}
