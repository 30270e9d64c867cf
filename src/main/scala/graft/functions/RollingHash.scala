package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit polynomial rolling hash of a UTF-8 string — the document
  * fingerprint primitive (SURVEY §2.6 U1: the engine's custom-Expression
  * surface, with real codegen, not a black-box UDF).
  *
  * h = Σ bytes(i) · B^(n-1-i)  mod 2^64,  B = 1000000007.
  *
  * Properties that matter at 100 TB: evaluated inside whole-stage codegen
  * (a static JVM call on the unsafe bytes — no boxing, no Python/JVM hop),
  * null-safe (null in → null out), and deterministic across executors.
  */
case class RollingHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rolling_hash requires STRING input, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  override protected def nullSafeEval(input: Any): Any =
    RollingHash.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RollingHash.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

object RollingHash {
  final val B = 1000000007L

  /** Static hot-path entry — called directly from generated code. */
  def hash(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = h * B + (bytes(i) & 0xffL)
      i += 1
    }
    h
  }
}
