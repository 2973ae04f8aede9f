package graft.plans

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Shared primitives for the native kernel tier. The HOF-oracle parity
  * contract (tokenizer semantics, hash constants, MinHash fold) is
  * single-sourced HERE — every kernel expression calls these, so a
  * semantic change propagates to all of them at once and the
  * differential specs catch it everywhere.
  */
private[graft] object Kernels {

  /** Whitespace tokens, empty tokens dropped — byte-identical to
    * `filter(split(trim(text), "\\s+"), _ =!= "")` on UTF-8 input.
    */
  def wsTokens(text: UTF8String): Array[String] = {
    val toks0 = text.toString.split("\\s+")
    var n = 0
    var i = 0
    while (i < toks0.length) { if (toks0(i).nonEmpty) n += 1; i += 1 }
    if (n == toks0.length) toks0
    else {
      val out = new Array[String](n)
      i = 0; var j = 0
      while (i < toks0.length) {
        if (toks0(i).nonEmpty) { out(j) = toks0(i); j += 1 }
        i += 1
      }
      out
    }
  }

  /** Mersenne prime 2^31−1 — the modulus of every MinHash quantity. It
    * keeps every intermediate product of the HOF forms below 2^63 under
    * Spark's ANSI overflow checking (a ≤ 127, h < 2^31 → a·h + b < 2^40).
    */
  val P31 = 2147483647L

  /** Permutation offsets b_k for the MinHash family. */
  def minhashBConsts(numHashes: Int): Array[Long] =
    Array.tabulate(numHashes)(k => ((k.toLong * 2654435761L) + 1) % P31)

  /** xxhash64(seed 42) of a string's UTF-8 bytes, reduced mod 2^31−1 —
    * matches `pmod(xxhash64(s), P31)`.
    */
  def stringHashP31(s: String): Long = {
    val bytes = s.getBytes(StandardCharsets.UTF_8)
    var h = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET,
      bytes.length, 42L) % P31
    if (h < 0) h += P31
    h
  }

  /** xxhash64(seed 42) of a string's UTF-8 bytes, full width. */
  def stringHash64(s: String): Long = {
    val bytes = s.getBytes(StandardCharsets.UTF_8)
    XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, 42L)
  }

  /** Fold one shingle hash into the running MinHash minima:
    * min_k ← min(min_k, ((2k+1)·h + b_k) mod P31).
    */
  def updateMinima(mins: Array[Long], bConsts: Array[Long], h: Long): Unit = {
    var k = 0
    while (k < mins.length) {
      var v = ((2L * k + 1) * h + bConsts(k)) % P31
      if (v < 0) v += P31
      if (v < mins(k)) mins(k) = v
      k += 1
    }
  }

  /** Fold signature minima into per-band polynomial keys:
    * key_b = fold(acc·1000003 + sig[k]) mod P31 over the band's slice.
    */
  def bandKeys(mins: Array[Long], bands: Int, rowsPerBand: Int): Array[Long] = {
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = 0L
      var r = 0
      while (r < rowsPerBand) {
        acc = (acc * 1000003L + mins(b * rowsPerBand + r)) % P31
        if (acc < 0) acc += P31
        r += 1
      }
      keys(b) = acc
      b += 1
    }
    keys
  }

  /** SimHash over whitespace tokens at the given bit width: per-token
    * hash bits vote ±1; the code sets positive-vote bits. `bits` ≤ 64;
    * the 32-bit form votes on the hash's LOW 32 bits as a non-negative
    * value (`h & 0xffffffff`), matching `pmod(xxhash64(tok), 2^32)` in
    * the HOF oracle.
    */
  def simhash(text: UTF8String, bits: Int): Long = {
    val toks = wsTokens(text)
    val votes = new Array[Int](bits)
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    var i = 0
    while (i < toks.length) {
      val h = stringHash64(toks(i)) & mask
      var b = 0
      while (b < bits) {
        if ((h & (1L << b)) != 0) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var code = 0L
    var b = 0
    while (b < bits) {
      if (votes(b) > 0) code |= 1L << b
      b += 1
    }
    code
  }
}
