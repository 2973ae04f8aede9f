package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{DataType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native SDF `> <TAG>` property-block parser: one record's text in,
  * map<string,string> out. Same semantics as `SdfReader.parseProps`
  * (the Scala-function form, kept as the differential oracle):
  * multi-line values joined with \n and trimmed, malformed `>` lines
  * without a `<TAG>` skipped, later duplicate tags overwrite in first
  * position, molblock before the property section ignored.
  *
  * Native because SDF parsing is the reference workload's hottest
  * per-record path (billions of molecule blocks at full corpus
  * scale): a `udf(...)` pays the Catalyst converter boundary — the
  * result Map is built as Scala objects, then deep-converted to
  * catalyst MapData per record. This expression builds the catalyst
  * map directly, parsing the UTF-8 bytes without building a Java
  * String or running a regex ([[SdfPropsExpr.parse]], shared with the
  * SDF row kernel `SdfRowExpr`).
  */
case class SdfPropsExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType =
    MapType(StringType, StringType, valueContainsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sdf_props needs a string input, got ${child.dataType.simpleString}")

  /** Per-row kernel; public so generated code can call it. */
  def compute(text: UTF8String): MapData = {
    val p = SdfPropsExpr.parse(text)
    new ArrayBasedMapData(new GenericArrayData(p.tags.slice(0, p.size)),
      new GenericArrayData(p.values.slice(0, p.size)))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("sdfProps", this, classOf[SdfPropsExpr].getName)
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $self.compute($t);")
  }

  override protected def withNewChildInternal(newChild: Expression): SdfPropsExpr =
    copy(child = newChild)
}

object SdfPropsExpr {

  /** The property blocks of one record: tag `i` and its value, `i < size`. */
  final class Props(val tags: Array[Any], val values: Array[Any], val size: Int)

  /** The `> <TAG>` blocks of `text` in first-seen order, parsed on the
    * UTF-8 bytes with the semantics of `SdfReader.parseProps`: a record
    * that is not valid UTF-8 is first decoded the way Java decodes it
    * (malformed bytes become U+FFFD); lines end at `\n` only; a line
    * starting with `>` is a tag line when a `<` with a later `>` follows
    * (the regex `<([^>]*)>`: the tag runs from the first `<` to the next
    * `>`), else it is skipped; the value is the lines after it up to an
    * empty line, a `>` line or `$$$$`, joined with `\n` (the bytes in
    * between, as they stand) and trimmed of every byte up to 0x20, as
    * `String.trim` trims; a later duplicate tag overwrites the value in
    * its first position.
    */
  def parse(text0: UTF8String): Props = {
    val text = Utf8.valid(text0)
    val n = text.numBytes
    var tags = new Array[Any](8)
    var values = new Array[Any](8)
    var size = 0
    def lineEnd(from: Int): Int = {
      var i = from
      while (i < n && text.getByte(i) != '\n') i += 1
      i
    }
    def indexOf(b: Byte, from: Int, until: Int): Int = {
      var i = from
      while (i < until && text.getByte(i) != b) i += 1
      if (i < until) i else -1
    }
    def isValueLine(a: Int, b: Int): Boolean =
      b > a && text.getByte(a) != '>' && !(b - a == 4 && (a until b).forall(text.getByte(_) == '$'))
    var start = 0
    while (start <= n) {
      val end = lineEnd(start)
      val lt = if (end > start && text.getByte(start) == '>') indexOf('<', start, end) else -1
      val gt = if (lt < 0) -1 else indexOf('>', lt + 1, end)
      if (gt < 0) start = end + 1 // not a tag line, or a malformed one (sdf.py:34-37)
      else {
        val tag = slice(text, lt + 1, gt)
        var from = end + 1
        var until = from
        var s = end + 1
        var e = if (s <= n) lineEnd(s) else s
        while (s <= n && isValueLine(s, e)) {
          until = e
          s = e + 1
          e = if (s <= n) lineEnd(s) else s
        }
        while (from < until && (text.getByte(from) & 0xff) <= 0x20) from += 1
        while (until > from && (text.getByte(until - 1) & 0xff) <= 0x20) until -= 1
        val value = slice(text, from, until)
        var k = 0
        while (k < size && tags(k) != tag) k += 1
        if (k < size) values(k) = value
        else {
          if (size == tags.length) {
            tags = Array.copyOf(tags, size * 2)
            values = Array.copyOf(values, size * 2)
          }
          tags(size) = tag
          values(size) = value
          size += 1
        }
        start = s // the line that ended the value is read again
      }
    }
    new Props(tags, values, size)
  }

  /** The bytes [from, until) of `s` as a new string. */
  private def slice(s: UTF8String, from: Int, until: Int): UTF8String =
    if (from >= until) UTF8String.EMPTY_UTF8 else s.copyUTF8String(from, until - 1)

  /** Column API: native SDF property-block parser. */
  def sdf_props(record: Column): Column =
    GraftColumnBridge.column(SdfPropsExpr(GraftColumnBridge.expression(record)))
}
