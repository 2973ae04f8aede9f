package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native 32-bit SimHash over whitespace tokens: each token's
  * xxhash64(seed 42) low 32 bits vote ±1 per bit position; the code
  * sets bits with a positive vote sum. Semantics pinned to
  * `Dedup.simHash32Hof` by a differential spec (tokenizer parity with
  * `ShingleMinHashBandKeysExpr`: split on whitespace runs, empty
  * tokens dropped).
  *
  * Native for the same reason as the MinHash kernel: the HOF
  * formulation is CodegenFallback and allocates a 32-element vote
  * array per token — this is a linear pass over the whole corpus, so
  * at 100 TB the interpreted overhead is the dominant cost of the
  * stage.
  */
case class SimHash32Expr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash needs a string input, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType

  /** Per-row kernel; public so generated code can call it. */
  def compute(text: UTF8String): Long = Kernels.simhash(text, 32)

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("simhash", this, classOf[SimHash32Expr].getName)
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $self.compute($t);")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash32Expr =
    copy(child = newChild)
}

object SimHash32Expr {
  /** Column API: native 32-bit SimHash over a text column. */
  def simhash32(text: Column): Column =
    GraftColumnBridge.column(SimHash32Expr(GraftColumnBridge.expression(text)))
}

/** 64-bit SimHash — the full token-hash width, for code spaces where
  * 32 bits invite birthday collisions (2^32 gives >50 % collision odds
  * at ~77 k distinct docs; 2^64 is negligible below ~10^9). No HOF
  * differential exists at this width — 64-bit bit extraction is not
  * exact in the double arithmetic available to higher-order
  * expressions, which is why the 32-bit variant (whose HOF oracle is
  * exact) remains the batch/spec surface.
  */
case class SimHash64Expr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash needs a string input, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType

  /** Per-row kernel; public so generated code can call it. */
  def compute(text: UTF8String): Long = Kernels.simhash(text, 64)

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("simhash64", this, classOf[SimHash64Expr].getName)
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $self.compute($t);")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

object SimHash64Expr {
  /** Column API: native 64-bit SimHash over a text column. */
  def simhash64(text: Column): Column =
    GraftColumnBridge.column(SimHash64Expr(GraftColumnBridge.expression(text)))
}
