package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `trigram_shingles(raw_tokens) -> array<string>`: distinct word-trigram
  * shingles ("a b c") in first-occurrence order, skipping empty tokens.
  *
  * One native pass per row. The Column-HOF spelling of the same thing —
  * `array_distinct(zip_with(zip_with(slice...), slice, concat))` over a
  * `filter(split(...))` — dispatches interpreted lambdas per ELEMENT
  * (Spark's higher-order functions don't codegen), which made shingling
  * the hot spot of every Jaccard-family query. Semantics are identical:
  * tokens = split minus empties; shingle i = tokens(i..i+2) joined by one
  * space; array_distinct keeps the first occurrence.
  */
case class TrigramShingles(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "trigram_shingles"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"trigram_shingles requires array<string>, got ${other.sql}")
  }

  // real codegen via a static call (round-17): CollapseCodegenStages
  // drops any operator holding a CodegenFallback expression out of
  // whole-stage codegen, so the fallback spelling un-fused every
  // shingle-bearing Generate/Project span (RollingHash pattern).
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TrigramShingles.shingles($c)")

  protected override def nullSafeEval(tokensRaw: Any): Any =
    TrigramShingles.shingles(tokensRaw.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(
      newChild: Expression): TrigramShingles = copy(child = newChild)
}

object TrigramShingles {
  /** Static hot-path entry — called directly from generated code. */
  def shingles(arr: ArrayData): GenericArrayData = {
    val n = arr.numElements()
    // drop empty tokens (split on ' ' emits them for repeated spaces)
    val toks = new java.util.ArrayList[UTF8String](n)
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      if (t != null && t.numBytes() > 0) toks.add(t)
      i += 1
    }
    val m = toks.size()
    if (m < 3) return new GenericArrayData(Array.empty[Any])
    val space = UTF8String.fromString(" ")
    val seen = new java.util.LinkedHashSet[UTF8String](m * 2)
    i = 0
    while (i < m - 2) {
      seen.add(UTF8String.concatWs(space,
        toks.get(i), toks.get(i + 1), toks.get(i + 2)))
      i += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }
}
