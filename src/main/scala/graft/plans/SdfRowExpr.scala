package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{DataType, MapType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native SDF row kernel of the SDF source (S1, S2, S14): one record's
  * text in, `struct(identifier, smiles, metadata)` out, the shape
  * `DelimitedRowExpr` gives the ZINC source. The record's property
  * blocks are parsed once ([[SdfPropsExpr.parse]]); then
  *  - `identifier` and `smiles` are the values of their tags, or `""`
  *    when the tag is absent (never NULL). A parsed value is already
  *    trimmed of every byte up to 0x20, so Spark's `trim`, which strips
  *    the space, leaves it as it is;
  *  - `metadata` holds the other tags in parse order, without empty
  *    values, and only the `metadataTags` when they are given. The id
  *    and SMILES tags never enter it, even when listed (reference:
  *    pubchem.py:228-238).
  * A NULL record gives `("", "", NULL)`.
  *
  * Same rows as the form it replaces (kept as the differential oracle
  * in `IngestKernelSpec`): `sdf_props`, then `trim(coalesce(element_at(
  * props, tag), ""))` for the two keys and a `map_filter` over the props
  * for the metadata, whose lambda ran interpreted per row outside the
  * scan's generated code.
  */
case class SdfRowExpr(record: Expression, identifierTag: String, smilesTag: String,
    metadataTags: Option[Seq[String]]) extends UnaryExpression {

  override def child: Expression = record
  override def dataType: DataType = SdfRowExpr.rowType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (record.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sdf_row needs a string input, got ${record.dataType.simpleString}")

  private val idKey = UTF8String.fromString(identifierTag)
  private val smilesKey = UTF8String.fromString(smilesTag)
  private val kept: Option[Set[UTF8String]] = metadataTags.map(_.map(UTF8String.fromString).toSet)

  /** Per-row kernel; public so generated code can call it. */
  def compute(text: UTF8String): InternalRow = {
    if (text == null) return new GenericInternalRow(
      Array[Any](UTF8String.EMPTY_UTF8, UTF8String.EMPTY_UTF8, null))
    val p = SdfPropsExpr.parse(text)
    var identifier = UTF8String.EMPTY_UTF8
    var smiles = UTF8String.EMPTY_UTF8
    val keys = new Array[Any](p.size)
    val values = new Array[Any](p.size)
    var j = 0
    var i = 0
    while (i < p.size) {
      val tag = p.tags(i).asInstanceOf[UTF8String]
      val value = p.values(i).asInstanceOf[UTF8String]
      if (tag == idKey || tag == smilesKey) {
        if (tag == idKey) identifier = value
        if (tag == smilesKey) smiles = value
      } else if (value.numBytes > 0 && kept.forall(_.contains(tag))) {
        keys(j) = tag
        values(j) = value
        j += 1
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](identifier, smiles, new ArrayBasedMapData(
      new GenericArrayData(keys.take(j)), new GenericArrayData(values.take(j)))))
  }

  override def eval(input: InternalRow): Any =
    compute(record.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("sdfRow", this, classOf[SdfRowExpr].getName)
    val r = record.genCode(ctx)
    ev.copy(code = code"""
      ${r.code}
      ${classOf[InternalRow].getName} ${ev.value} =
        $self.compute(${r.isNull} ? null : ${r.value});""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): SdfRowExpr =
    copy(record = newChild)
}

object SdfRowExpr {
  val rowType: StructType = StructType(Seq(
    StructField("identifier", StringType, nullable = false),
    StructField("smiles", StringType, nullable = false),
    StructField("metadata", MapType(StringType, StringType, valueContainsNull = false))))

  /** Column API: the SDF row kernel over one record's text. */
  def sdf_row(record: Column, identifierTag: String, smilesTag: String,
      metadataTags: Option[Seq[String]]): Column =
    GraftColumnBridge.column(SdfRowExpr(GraftColumnBridge.expression(record), identifierTag,
      smilesTag, metadataTags))
}
