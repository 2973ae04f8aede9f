package graft.plans

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{DataType, MapType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native delimited-row kernel of the ZINC tranche source (S15–S17):
  * one text line and its file name in, `struct(identifier, smiles,
  * metadata)` out, or NULL when the row is dropped. The metadata map
  * holds `source_file` first, then every untrimmed `column_<i>` whose
  * index is neither key column, in index order.
  *
  * Same rows as the higher-order-function form it replaces (kept as
  * the differential oracle in `DelimitedReaderSpec`):
  *  - `delimiter = Some(sep)`: split on the literal separator with
  *    limit −1 (leading, trailing and empty middle cells kept; `|`,
  *    `.` or `||` count literally), as `split(value, quote(sep))`.
  *  - `delimiter = None`: strip the Java `\s` class
  *    (`[ \t\n\x0B\f\r]`) at both ends, then split on runs of it, as
  *    `split(regexp_replace(value, "^\s+|\s+$", ""), "\s+")`. That
  *    regex's `$` also matches before a final line terminator
  *    (U+0085, U+2028, U+2029), so the `\s` run just before one is
  *    removed as well and the terminator kept.
  *  - A line that is not valid UTF-8 is decoded the way Java decodes it
  *    (malformed bytes become U+FFFD) before it is split, as the
  *    regex functions do; the blank-line test reads the raw bytes.
  *
  * Splitting works on the UTF-8 bytes (a valid UTF-8 separator can only
  * match at character boundaries), so no regex runs and no Java String
  * is built per row; the `column_<i>` keys are built once.
  */
case class DelimitedRowExpr(line: Expression, file: Expression, delimiter: Option[String],
    smilesColumn: Int, identifierColumn: Int) extends BinaryExpression {

  require(delimiter.forall(_.nonEmpty), "the delimiter must not be empty")
  require(smilesColumn >= 0 && identifierColumn >= 0, "column indices must not be negative")

  override def left: Expression = line
  override def right: Expression = file
  override def dataType: DataType = DelimitedRowExpr.rowType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (line.dataType == StringType && file.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"delimited_row needs string inputs, got " +
          s"${line.dataType.simpleString} and ${file.dataType.simpleString}")

  private val sep: Array[Byte] = delimiter.map(_.getBytes(UTF_8)).orNull
  private val needed = math.max(smilesColumn, identifierColumn) + 1
  private val columnKeys = Array.tabulate(64)(i => UTF8String.fromString(s"column_$i"))
  private def columnKey(i: Int): UTF8String =
    if (i < columnKeys.length) columnKeys(i) else UTF8String.fromString(s"column_$i")

  /** Per-row kernel; public so generated code can call it. */
  def compute(raw: UTF8String, sourceFile: UTF8String): InternalRow = {
    val blank = isBlank(raw)
    val cells =
      if (blank) Array.empty[UTF8String]
      else {
        val text = Utf8.valid(raw)
        if (sep != null) splitLiteral(text) else splitWhitespace(text)
      }
    val smiles = if (cells.length > smilesColumn) cells(smilesColumn).trim() else null
    val identifier = if (cells.length > identifierColumn) cells(identifierColumn).trim() else null
    // the drop conditions, S16 then S17: blank line, too few cells,
    // an empty key cell
    if (blank || cells.length < needed || smiles.numBytes == 0 || identifier.numBytes == 0)
      return null
    val size = 1 + cells.length - (if (smilesColumn == identifierColumn) 1 else 2)
    val keys = new Array[Any](size)
    val values = new Array[Any](size)
    keys(0) = DelimitedRowExpr.SourceFileKey
    values(0) = sourceFile
    var j = 1
    var i = 0
    while (i < cells.length) {
      if (i != smilesColumn && i != identifierColumn) {
        keys(j) = columnKey(i)
        values(j) = cells(i)
        j += 1
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](identifier, smiles,
      new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(values))))
  }

  /** `length(trim(line)) = 0`: Spark's `trim` strips only the space. */
  private def isBlank(s: UTF8String): Boolean = {
    var i = 0
    while (i < s.numBytes && s.getByte(i) == ' ') i += 1
    i == s.numBytes
  }

  /** The bytes [from, until) as a view over `s`'s bytes: the result row
    * is copied out (projected, or `copy()`'d by a buffering operator)
    * before the scan reuses the line's buffer.
    */
  private def cell(s: UTF8String, from: Int, until: Int): UTF8String =
    if (from == until) UTF8String.EMPTY_UTF8
    else UTF8String.fromAddress(s.getBaseObject, s.getBaseOffset + from, until - from)

  private def splitLiteral(s: UTF8String): Array[UTF8String] = {
    val out = Array.newBuilder[UTF8String]
    val n = s.numBytes
    val m = sep.length
    var from = 0
    var i = 0
    while (i <= n - m) {
      var k = 0
      while (k < m && s.getByte(i + k) == sep(k)) k += 1
      if (k == m) {
        out += cell(s, from, i)
        i += m
        from = i
      } else i += 1
    }
    out += cell(s, from, n)
    out.result()
  }

  private def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** Byte length of a U+0085, U+2028 or U+2029 ending `s`, else 0. */
  private def finalTerminator(s: UTF8String): Int = {
    val n = s.numBytes
    if (n >= 2 && s.getByte(n - 2) == 0xC2.toByte && s.getByte(n - 1) == 0x85.toByte) 2
    else if (n >= 3 && s.getByte(n - 3) == 0xE2.toByte && s.getByte(n - 2) == 0x80.toByte
      && (s.getByte(n - 1) == 0xA8.toByte || s.getByte(n - 1) == 0xA9.toByte)) 3
    else 0
  }

  private def splitWhitespace(s0: UTF8String): Array[UTF8String] = {
    var s = s0
    var start = 0
    while (start < s.numBytes && isSpace(s.getByte(start))) start += 1
    val term = finalTerminator(s)
    if (term > 0) {
      var j = s.numBytes - term
      while (j > start && isSpace(s.getByte(j - 1))) j -= 1
      if (j < s.numBytes - term) {
        s = UTF8String.concat(cell(s, start, j), cell(s, s.numBytes - term, s.numBytes))
        start = 0
      }
    }
    var end = s.numBytes
    while (end > start && isSpace(s.getByte(end - 1))) end -= 1
    val out = Array.newBuilder[UTF8String]
    var from = start
    var i = start
    while (i < end) {
      if (isSpace(s.getByte(i))) {
        out += cell(s, from, i)
        while (isSpace(s.getByte(i))) i += 1
        from = i
      } else i += 1
    }
    out += cell(s, from, end)
    out.result()
  }

  override def eval(input: InternalRow): Any = {
    val l = line.eval(input)
    if (l == null) null
    else compute(l.asInstanceOf[UTF8String], file.eval(input).asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("delimitedRow", this, classOf[DelimitedRowExpr].getName)
    val l = line.genCode(ctx)
    val f = file.genCode(ctx)
    val row = classOf[InternalRow].getName
    ev.copy(code = code"""
      ${l.code}
      ${f.code}
      $row ${ev.value} = ${l.isNull} ? null : $self.compute(${l.value}, ${f.value});
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DelimitedRowExpr = copy(line = newLeft, file = newRight)
}

object DelimitedRowExpr {
  val SourceFileKey: UTF8String = UTF8String.fromString("source_file")

  val rowType: StructType = StructType(Seq(
    StructField("identifier", StringType),
    StructField("smiles", StringType),
    StructField("metadata", MapType(StringType, StringType))))

  /** Column API: the delimited-row kernel over `line` and its `file`. */
  def delimited_row(line: Column, file: Column, delimiter: Option[String],
      smilesColumn: Int, identifierColumn: Int): Column =
    GraftColumnBridge.column(DelimitedRowExpr(GraftColumnBridge.expression(line),
      GraftColumnBridge.expression(file), delimiter, smilesColumn, identifierColumn))
}
