package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{DataType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native provenance stamp: a `map<string,string>` in, the same map
  * with its provenance tags replaced out. The entries whose key is not
  * a tag key are copied in their order, null values included; then the
  * tags follow in the given order. A NULL map gives the tags alone, so
  * the result is never NULL.
  *
  * Same maps as the higher-order-function form it replaces (kept as the
  * differential oracle in `IngestKernelSpec`):
  * `map_concat(map_filter(coalesce(m, map()), (k, _) => !k.isin(keys)),
  * map(tags))`, including its type, `map<string,string>` with nullable
  * values. A map from Spark's constructors has unique keys, and every
  * tag key is removed before the tags go in, so no key repeats and no
  * de-duplication is needed. One call copies references; no lambda
  * runs and no key is hashed.
  */
case class ProvenanceStampExpr(metadata: Expression, tags: Seq[(String, String)])
    extends UnaryExpression {

  override def child: Expression = metadata
  override def dataType: DataType = MapType(StringType, StringType, valueContainsNull = true)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    metadata.dataType match {
      case MapType(StringType, StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"provenance_stamp needs a map<string,string>, got ${other.simpleString}")
    }

  private val tagKeys: Array[UTF8String] = tags.map(t => UTF8String.fromString(t._1)).toArray
  private val tagValues: Array[UTF8String] = tags.map(t => UTF8String.fromString(t._2)).toArray

  private def isTag(k: UTF8String): Boolean = {
    var i = 0
    while (i < tagKeys.length) {
      if (tagKeys(i) == k) return true
      i += 1
    }
    false
  }

  /** Per-row kernel; public so generated code can call it. */
  def compute(m: MapData): MapData = {
    val n = if (m == null) 0 else m.numElements()
    var keys = new Array[Any](n + tagKeys.length)
    var values = new Array[Any](n + tagKeys.length)
    var j = 0
    if (n > 0) {
      val ks = m.keyArray()
      val vs = m.valueArray()
      var i = 0
      while (i < n) {
        val k = ks.getUTF8String(i)
        if (!isTag(k)) {
          keys(j) = k
          values(j) = if (vs.isNullAt(i)) null else vs.getUTF8String(i)
          j += 1
        }
        i += 1
      }
    }
    System.arraycopy(tagKeys, 0, keys, j, tagKeys.length)
    System.arraycopy(tagValues, 0, values, j, tagValues.length)
    if (j < n) {
      keys = Array.copyOf(keys, j + tagKeys.length)
      values = Array.copyOf(values, j + tagKeys.length)
    }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(values))
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    compute(metadata.eval(input).asInstanceOf[MapData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("provenanceStamp", this, classOf[ProvenanceStampExpr].getName)
    val m = metadata.genCode(ctx)
    ev.copy(code = code"""
      ${m.code}
      ${classOf[MapData].getName} ${ev.value} = $self.compute(${m.isNull} ? null : ${m.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): ProvenanceStampExpr =
    copy(metadata = newChild)
}

object ProvenanceStampExpr {
  /** Column API: `metadata` without its `tags` keys, then the `tags`. */
  def provenance_stamp(metadata: Column, tags: Seq[(String, String)]): Column =
    GraftColumnBridge.column(ProvenanceStampExpr(GraftColumnBridge.expression(metadata), tags))
}
