package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native k-token-gram MD5 kernels — the digest basis of the span-dedup
  * and winnowing families (q96/q137/q151/q181/q185/q188/q189/q218 and
  * their stores/streams).
  *
  * The HOF formulation
  * `transform(sequence(0, size(t)-k), i -> md5(array_join(slice(t,i+1,k),' ')))`
  * allocates a sliced token array, a joined UTF8String, and a 32-char
  * hex string PER GRAM; these kernels build the document's joined
  * UTF-8 byte image ONCE, then run MD5 over (offset, length) slices of
  * it — zero per-gram copies of token bytes — and emit the RAW 16-byte
  * digest. Raw-vs-hex is order-preserving (fixed-length lowercase hex
  * is a per-byte monotone encoding), so every min/ tie-break/ join/
  * distinct downstream is unchanged, while shuffle width halves.
  * Differential specs pin each kernel to its HOF twin (hex-decoded).
  *
  * Null/short behavior matches the HOF pipelines exactly: null text →
  * null; fewer than k tokens → empty array (the HOF path's
  * `size >= k` filter then drops the row via explode).
  */
private[plans] object GramKernels {

  /** Joined UTF-8 image of the token array + per-token start offsets.
    * starts has n+1 entries; token i spans [starts(i), starts(i+1)-1)
    * — the -1 drops the following space; the LAST token spans
    * [starts(n-1), image.length). Gram (i, k) digests the bytes from
    * starts(i) to the end of token i+k-1: byte-identical to
    * md5(array_join(slice(toks, i+1, k), ' ')).
    */
  final class TokenImage(val image: Array[Byte], val starts: Array[Int], val n: Int) {
    /** Byte length of the gram starting at token i spanning k tokens. */
    def gramLen(i: Int, k: Int): Int = {
      val end = if (i + k == n) image.length else starts(i + k) - 1
      end - starts(i)
    }
  }

  def tokenImage(toks: Array[String]): TokenImage = {
    val n = toks.length
    val bytes = new Array[Array[Byte]](n)
    var total = if (n == 0) 0 else n - 1 // separators
    var i = 0
    while (i < n) {
      val b = toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      bytes(i) = b
      total += b.length
      i += 1
    }
    val image = new Array[Byte](math.max(total, 0))
    val starts = new Array[Int](n + 1)
    var off = 0
    i = 0
    while (i < n) {
      starts(i) = off
      val b = bytes(i)
      System.arraycopy(b, 0, image, off, b.length)
      off += b.length
      if (i < n - 1) { image(off) = ' '; off += 1 }
      i += 1
    }
    starts(n) = off
    new TokenImage(image, starts, n)
  }

  /** All k-gram digests of the doc, in position order (ng = n-k+1
    * rows; empty when n < k). */
  def gramDigests(text: UTF8String, k: Int): Array[Array[Byte]] = {
    val toks = Kernels.wsTokens(text)
    val n = toks.length
    if (n < k) return Array.empty
    val img = tokenImage(toks)
    val md = MessageDigest.getInstance("MD5")
    val ng = n - k + 1
    val out = new Array[Array[Byte]](ng)
    var i = 0
    while (i < ng) {
      md.reset()
      md.update(img.image, img.starts(i), img.gramLen(i, k))
      out(i) = md.digest()
      i += 1
    }
    out
  }

  /** Unsigned lexicographic byte compare — the BinaryType ordering,
    * which equals the lowercase-hex StringType ordering the HOF path
    * sorted/minimized by. */
  def cmp(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i) & 0xff; val y = b(i) & 0xff
      if (x != y) return x - y
      i += 1
    }
    a.length - b.length
  }
}

/** array<struct<pos:int, dg:binary>> of every k-gram — the [[ ]]
  * explode basis of spanGrams. */
case class GramDigestsExpr(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 2, s"gram size must be >= 2, got $k")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"md5_grams needs a string input, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("pos", IntegerType, nullable = false),
      StructField("dg", BinaryType, nullable = false))), containsNull = false)

  def compute(text: UTF8String): ArrayData = {
    val dgs = GramKernels.gramDigests(text, k)
    val out = new Array[Any](dgs.length)
    var i = 0
    while (i < dgs.length) {
      out(i) = new GenericInternalRow(Array[Any](i, dgs(i)))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("gramDigests", this, classOf[GramDigestsExpr].getName)
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $self.compute($t);")
  }

  override protected def withNewChildInternal(newChild: Expression): GramDigestsExpr =
    copy(child = newChild)
}

/** array<binary> of the doc's DISTINCT k-gram digests — the gramDf
  * basis: per-doc dedup happens in the kernel, so the frame-level
  * `(id, dg) distinct` shuffle the HOF path needed disappears (doc
  * ids are per-row, so kernel-distinct rows are globally distinct). */
case class GramDigestSetExpr(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 2, s"gram size must be >= 2, got $k")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"md5_gram_set needs a string input, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)

  def compute(text: UTF8String): ArrayData = {
    val dgs = GramKernels.gramDigests(text, k)
    if (dgs.isEmpty) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.HashSet[java.nio.ByteBuffer](dgs.length * 2)
    val out = new java.util.ArrayList[Any](dgs.length)
    var i = 0
    while (i < dgs.length) {
      if (seen.add(java.nio.ByteBuffer.wrap(dgs(i)))) out.add(dgs(i))
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("gramDigestSet", this, classOf[GramDigestSetExpr].getName)
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $self.compute($t);")
  }

  override protected def withNewChildInternal(newChild: Expression): GramDigestSetExpr =
    copy(child = newChild)
}

/** array<struct<pos:int, dg:binary>> of the doc's WINNOWED fingerprint
  * selection (Schleimer 2003 robust winnowing, rightmost tie-break):
  * the whole per-doc selection — k-gram digests, w-gram sliding
  * window, min-with-rightmost-tie-break, position dedup — runs inside
  * the row kernel. The dataframe formulation exploded every gram into
  * ≤ w window memberships and resolved the min in a doc×window
  * shuffle-aggregate; winnowing is per-document, so none of that data
  * movement is inherent. Output rows are distinct by construction
  * (deduped by position) and in position order.
  *
  * A doc with fewer than w grams winnows as ONE whole-doc window
  * (matching the HOF path's wid range `[max(pos-w+1,0), min(pos,
  * max(ng-w,0))]`); fewer than k tokens → empty array.
  */
case class WinnowSelectExpr(child: Expression, k: Int, w: Int) extends UnaryExpression {
  require(k >= 2 && w >= 2, s"need k >= 2 and w >= 2, got k=$k w=$w")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"winnow_select needs a string input, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("pos", IntegerType, nullable = false),
      StructField("dg", BinaryType, nullable = false))), containsNull = false)

  def compute(text: UTF8String): ArrayData = {
    val dgs = GramKernels.gramDigests(text, k)
    val ng = dgs.length
    if (ng == 0) return new GenericArrayData(Array.empty[Any])
    val out = new java.util.ArrayList[Any](math.max(4, 2 * ng / (w + 1)))
    var lastSel = -1
    var wid = 0
    val lastWid = math.max(ng - w, 0)
    while (wid <= lastWid) {
      // min digest in grams [wid, min(wid+w, ng)-1], rightmost tie-break
      val end = math.min(wid + w, ng)
      var best = wid
      var i = wid + 1
      while (i < end) {
        if (GramKernels.cmp(dgs(i), dgs(best)) <= 0) best = i
        i += 1
      }
      if (best != lastSel) {
        // selections are found in increasing-pos order per window walk,
        // but an earlier pos can win a later window; dedup on pos
        if (lastSel >= 0 && best < lastSel) {
          // rescan: only possible when the new min sits left of the last
          // selection — dedup via linear check (selection lists are short)
          var dup = false
          var j = out.size - 1
          while (j >= 0 && !dup) {
            if (out.get(j).asInstanceOf[GenericInternalRow].getInt(0) == best) dup = true
            j -= 1
          }
          if (!dup) out.add(new GenericInternalRow(Array[Any](best, dgs(best))))
        } else {
          out.add(new GenericInternalRow(Array[Any](best, dgs(best))))
        }
        lastSel = best
      }
      wid += 1
    }
    new GenericArrayData(out.toArray)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("winnowSelect", this, classOf[WinnowSelectExpr].getName)
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $self.compute($t);")
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowSelectExpr =
    copy(child = newChild)
}

object GramDigestsExpr {
  /** Column API: every (pos, md5) k-gram of a text column. */
  def md5_grams(text: Column, k: Int): Column =
    GraftColumnBridge.column(GramDigestsExpr(GraftColumnBridge.expression(text), k))

  /** Column API: the doc's distinct k-gram md5 set. */
  def md5_gram_set(text: Column, k: Int): Column =
    GraftColumnBridge.column(GramDigestSetExpr(GraftColumnBridge.expression(text), k))

  /** Column API: the doc's winnowed (pos, md5) fingerprint selection. */
  def winnow_select(text: Column, k: Int, w: Int): Column =
    GraftColumnBridge.column(WinnowSelectExpr(GraftColumnBridge.expression(text), k, w))
}
