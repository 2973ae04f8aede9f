package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

import Kernels.P31

/** Fully-fused MinHash-LSH banding over raw text: tokenize (whitespace
  * runs, empty tokens dropped) → token `shingleSize`-gram shingles
  * (space-joined; a doc shorter than the shingle size yields one
  * shingle of all its tokens) → xxhash64(seed 42) mod 2^31−1 per
  * shingle → `bands × rowsPerBand` MinHash minima → one polynomial
  * band key per band. Output: array<long> of `bands` keys.
  *
  * Why fuse all the way down to the text (the second q44 lesson,
  * round 3): the Column-level shingle pipeline is built from
  * higher-order functions, and HOFs are CodegenFallback — evaluated
  * interpreted, with no common-subexpression elimination. The
  * `tokens` array is referenced four times across the shingle CASE
  * branches, so split/trim/filter re-ran 4× per row; measured ~6 s of
  * the ~7 s q44 at sf0.1. This expression runs the whole kernel once
  * per row in compiled Scala (invoked from generated code via a
  * reference object — the per-row work is string-heavy, so a method
  * call costs nothing relative to inline Java).
  *
  * Semantics are pinned to the Column formulation
  * `Dedup.lshBandKeys(Dedup.signatureFromHashesHof(Dedup
  * .shingleHashes(text, n), b·r), b, r)` by a differential spec
  * (tokenizer parity: `split(trim(text), "\\s+")` drops leading-tab
  * empty tokens via the non-empty filter — Java `String.split` +
  * `filter(_.nonEmpty)` is byte-identical on UTF-8 input).
  */
case class ShingleMinHashBandKeysExpr(child: Expression, bands: Int,
    rowsPerBand: Int, shingleSize: Int) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"minhash_band_keys needs a string input, got ${child.dataType.simpleString}")

  private def numHashes = bands * rowsPerBand

  @transient private lazy val bConsts: Array[Long] = Kernels.minhashBConsts(numHashes)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  /** The per-row kernel; public so generated code can call it. */
  def compute(text: UTF8String): ArrayData = {
    val toks = Kernels.wsTokens(text)
    val nTok = toks.length
    val mins = Array.fill(numHashes)(P31)
    def addShingle(s: String): Unit =
      Kernels.updateMinima(mins, bConsts, Kernels.stringHashP31(s))
    if (nTok < shingleSize) {
      addShingle(toks.mkString(" "))
    } else {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i + shingleSize <= nTok) {
        sb.setLength(0)
        var k = 0
        while (k < shingleSize) {
          if (k > 0) sb.append(' ')
          sb.append(toks(i + k))
          k += 1
        }
        addShingle(sb.toString)
        i += 1
      }
    }
    new GenericArrayData(Kernels.bandKeys(mins, bands, rowsPerBand))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("shingleMinhash", this, classOf[ShingleMinHashBandKeysExpr].getName)
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = $self.compute($t);")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleMinHashBandKeysExpr =
    copy(child = newChild)
}

object ShingleMinHashBandKeysExpr {
  /** Column API: fused text→LSH-band-keys kernel. */
  def shingle_minhash_band_keys(text: Column, bands: Int, rowsPerBand: Int,
      shingleSize: Int = 3): Column =
    GraftColumnBridge.column(
      ShingleMinHashBandKeysExpr(GraftColumnBridge.expression(text),
        bands, rowsPerBand, shingleSize))
}
