package graft.sinks

import java.io.OutputStream

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{MapType, StringType, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.Utf8

/** JSON lines straight from the internal rows of a frame whose columns
  * are all `string` or `map<string,string>`: per row the bytes of
  * `to_json(struct(*))` plus `\n`, without Jackson and without building
  * a Java String per field.
  *
  * Byte-identical to Spark's generator: fields in column order; a NULL
  * field omitted when `ignoreNullFields` (Spark's
  * `spark.sql.jsonGenerator.ignoreNullFields`), else written `null`; a
  * map as an object in its entry order, a NULL value as `null`. Names,
  * keys and values escape as Jackson escapes them: `"` and `\` get a
  * backslash, a control character below 0x20 becomes `\b`, `\t`, `\n`,
  * `\f`, `\r` or `\u00XX`, and every other byte is copied. A string that
  * is not valid UTF-8 is first decoded as `toString` decodes it, with
  * U+FFFD for the malformed bytes.
  *
  * One instance per task: it reuses one line buffer.
  */
final class JsonLineEncoder private (names: Array[String], maps: Array[Boolean],
    ignoreNullFields: Boolean) extends Serializable {

  /** `"<name>":` per column, escaped once. */
  private val prefixes: Array[Array[Byte]] = names.map { n =>
    val b = new JsonLineEncoder.Bytes
    b.string(UTF8String.fromString(n))
    b.put(':')
    java.util.Arrays.copyOf(b.buf, b.pos)
  }
  @transient private lazy val line = new JsonLineEncoder.Bytes

  /** Writes `row` as one JSON line to `out`. */
  def write(row: InternalRow, out: OutputStream): Unit = {
    val b = line
    b.pos = 0
    b.put('{')
    var first = true
    var i = 0
    while (i < prefixes.length) {
      val isNull = row.isNullAt(i)
      if (!isNull || !ignoreNullFields) {
        if (!first) b.put(',')
        first = false
        b.bytes(prefixes(i))
        if (isNull) b.bytes(JsonLineEncoder.Null)
        else if (maps(i)) {
          val m = row.getMap(i)
          val ks = m.keyArray()
          val vs = m.valueArray()
          b.put('{')
          var j = 0
          while (j < m.numElements()) {
            if (j > 0) b.put(',')
            b.string(ks.getUTF8String(j))
            b.put(':')
            if (vs.isNullAt(j)) b.bytes(JsonLineEncoder.Null) else b.string(vs.getUTF8String(j))
            j += 1
          }
          b.put('}')
        } else b.string(row.getUTF8String(i))
      }
      i += 1
    }
    b.put('}')
    b.put('\n')
    out.write(b.buf, 0, b.pos)
  }
}

object JsonLineEncoder {

  /** The encoder of `schema`, or None when a column is neither `string`
    * nor `map<string,string>`.
    */
  def forSchema(schema: StructType, ignoreNullFields: Boolean): Option[JsonLineEncoder] = {
    val maps = schema.fields.map(_.dataType match {
      case _: StringType => Some(false)
      case MapType(_: StringType, _: StringType, _) => Some(true)
      case _ => None
    })
    if (maps.forall(_.isDefined))
      Some(new JsonLineEncoder(schema.fieldNames, maps.map(_.get), ignoreNullFields))
    else None
  }

  private val Null = "null".getBytes("US-ASCII")

  /** Jackson's escape of each byte below 0x60, null for a byte copied as it is. */
  private val Escapes: Array[Array[Byte]] = Array.tabulate(0x60) { c =>
    val e = c match {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\b' => "\\b"
      case '\t' => "\\t"
      case '\n' => "\\n"
      case '\f' => "\\f"
      case '\r' => "\\r"
      case _ if c < 0x20 => f"\\u00$c%02X"
      case _ => null
    }
    if (e == null) null else e.getBytes("US-ASCII")
  }

  /** A growable byte buffer. */
  private[sinks] final class Bytes {
    var buf = new Array[Byte](1 << 12)
    var pos = 0

    private def room(n: Int): Unit =
      if (pos + n > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, pos + n))

    def put(c: Char): Unit = {
      room(1)
      buf(pos) = c.toByte
      pos += 1
    }

    def bytes(b: Array[Byte]): Unit = {
      room(b.length)
      System.arraycopy(b, 0, buf, pos, b.length)
      pos += b.length
    }

    /** `s` as a quoted, escaped JSON string: the runs of bytes that
      * need no escape are copied whole.
      */
    def string(s0: UTF8String): Unit = {
      val s = Utf8.valid(s0)
      val base = s.getBaseObject
      val off = s.getBaseOffset
      val n = s.numBytes
      room(6 * n + 2)
      buf(pos) = '"'
      pos += 1
      val escapes = Escapes
      var run = 0
      var i = 0
      while (i < n) {
        val c = Platform.getByte(base, off + i)
        if (c >= 0 && c < 0x60 && escapes(c) != null) {
          copy(base, off + run, i - run)
          val e = escapes(c)
          System.arraycopy(e, 0, buf, pos, e.length)
          pos += e.length
          run = i + 1
        }
        i += 1
      }
      copy(base, off + run, n - run)
      buf(pos) = '"'
      pos += 1
    }

    private def copy(base: AnyRef, offset: Long, len: Int): Unit = {
      Platform.copyMemory(base, offset, buf, Platform.BYTE_ARRAY_OFFSET + pos, len)
      pos += len
    }
  }
}
