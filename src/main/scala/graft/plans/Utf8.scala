package graft.plans

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** UTF-8 validity with an ASCII fast path. `UTF8String.isValid` walks
  * every byte through its decoder; on the ingest path, where nearly
  * every string is ASCII, that walk cost more task CPU than the JSON
  * encoding it guarded.
  */
object Utf8 {

  /** True when every byte of `s` is below 0x80 (so `s` is valid UTF-8). */
  def isAscii(s: UTF8String): Boolean = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var i = 0
    while (i + 8 <= n) {
      if ((Platform.getLong(base, off + i) & 0x8080808080808080L) != 0) return false
      i += 8
    }
    while (i < n) {
      if (Platform.getByte(base, off + i) < 0) return false
      i += 1
    }
    true
  }

  /** `s` when it is valid UTF-8, else `s` decoded as `toString` decodes
    * it, each malformed sequence becoming U+FFFD.
    */
  def valid(s: UTF8String): UTF8String =
    if (isAscii(s) || s.isValid) s else UTF8String.fromString(s.toString)
}
