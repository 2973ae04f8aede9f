package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

import Kernels.P31

/** Native Catalyst expression fusing MinHash signature + LSH banding
  * into one pass over the shingle-hash array: computes the
  * `bands × rowsPerBand` signature minima, then folds each band's
  * slice into a single polynomial-hash key
  * (key_b = fold(acc·1000003 + sig[k]) mod 2^31−1).
  *
  * Why fusion (and not `lshBandKeys(signature)` as two Columns):
  * Catalyst's CollapseProject inlines a signature alias into the
  * banding `transform` lambda, and higher-order lambdas re-evaluate
  * their body per element — the full signature was recomputed once per
  * band, 8× per row (the q44 16.8 s regression, BENCH_r02). A single
  * expression evaluates its child exactly once per row regardless of
  * how projections collapse, and `doGenCode` keeps the whole kernel in
  * primitive-long loops inside whole-stage codegen.
  *
  * Semantics are pinned to `Dedup.lshBandKeys(Dedup
  * .signatureFromHashes(h, bands·rowsPerBand), bands, rowsPerBand)` by
  * a differential spec.
  */
case class MinHashBandKeysExpr(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_band_keys(hashes) needs an array<bigint> input, got ${other.simpleString}")
    }

  private def numHashes = bands * rowsPerBand

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
    new GenericArrayData(Kernels.bandKeys(mins, bands, rowsPerBand))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bRef = ctx.addReferenceObj("minhashBandB", bConsts, "long[]")
    nullSafeCodeGen(ctx, ev, arr => {
      val mins = ctx.freshName("mins")
      val keys = ctx.freshName("keys")
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      val b = ctx.freshName("b")
      val r = ctx.freshName("r")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val acc = ctx.freshName("acc")
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
         |long[] $keys = new long[$bands];
         |for (int $b = 0; $b < $bands; $b++) {
         |  long $acc = 0L;
         |  for (int $r = 0; $r < $rowsPerBand; $r++) {
         |    $acc = ($acc * 1000003L + $mins[$b * $rowsPerBand + $r]) % ${P31}L;
         |    if ($acc < 0) $acc += ${P31}L;
         |  }
         |  $keys[$b] = $acc;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($keys);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashBandKeysExpr =
    copy(child = newChild)
}

object MinHashBandKeysExpr {
  /** Column API: native fused signature+banding over an array<long>
    * shingle-hash column. Named `_from_hashes` to keep it distinct
    * from the SQL function `minhash_band_keys`, which takes raw TEXT
    * (the fully-fused `ShingleMinHashBandKeysExpr`) — one name bound
    * to two input contracts confused users porting between APIs.
    */
  def minhash_band_keys_from_hashes(hashes: Column, bands: Int, rowsPerBand: Int): Column =
    GraftColumnBridge.column(
      MinHashBandKeysExpr(GraftColumnBridge.expression(hashes), bands, rowsPerBand))
}
