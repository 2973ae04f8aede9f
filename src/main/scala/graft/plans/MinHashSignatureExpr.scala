package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

import Kernels.P31

/** Native Catalyst expression computing a MinHash signature from a
  * shingle-hash array: sig[k] = min over h of ((2k+1)·h + b_k) mod
  * (2^31−1).
  *
  * This is preference tier (b) from SURVEY.md §2C — a custom
  * `Expression` with real `doGenCode`: the generated Java is a tight
  * two-level loop over primitive longs with the permutation constants
  * held in a referenced array, no per-element Column-expression
  * interpretation, no intermediate array allocations per shingle
  * (which the higher-order `aggregate`/`zip_with` formulation pays).
  * Interpreted `nullSafeEval` keeps non-codegen paths correct.
  */
case class MinHashSignatureExpr(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_signature needs an array<bigint> input, got ${other.simpleString}")
    }


  @transient private lazy val bConsts: Array[Long] = Kernels.minhashBConsts(numHashes)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val mins = Array.fill(numHashes)(P31)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      Kernels.updateMinima(mins, bConsts, arr.getLong(i))
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bRef = ctx.addReferenceObj("minhashB", bConsts, "long[]")
    nullSafeCodeGen(ctx, ev, arr => {
      val mins = ctx.freshName("mins")
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      s"""
         |long[] $mins = new long[$numHashes];
         |java.util.Arrays.fill($mins, ${P31}L);
         |for (int $i = 0; $i < $arr.numElements(); $i++) {
         |  long $h = $arr.getLong($i);
         |  for (int $k = 0; $k < $numHashes; $k++) {
         |    long $v = ((2L * $k + 1) * $h + $bRef[$k]) % ${P31}L;
         |    if ($v < 0) $v += ${P31}L;
         |    if ($v < $mins[$k]) $mins[$k] = $v;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignatureExpr =
    copy(child = newChild)
}

object MinHashSignatureExpr {
  /** Column API: native MinHash signature over an array<long> column. */
  def minhash_signature(hashes: Column, numHashes: Int): Column =
    GraftColumnBridge.column(
      MinHashSignatureExpr(GraftColumnBridge.expression(hashes), numHashes))
}
