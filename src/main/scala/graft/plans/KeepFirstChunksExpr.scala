package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Intra-document keep-first-chunk kernel: tokenize, group into
  * `chunkTokens`-aligned chunks (single-space-joined; the last chunk may
  * be shorter), and keep only the FIRST occurrence of each distinct
  * chunk, preserving order. Returns a struct
  * `(cleaned STRING, n_removed BIGINT)` — the rebuilt document and how
  * many chunks were dropped.
  *
  * This replaces the HOF formulation
  * `filter(__chunks, (c, i) -> array_position(__chunks, c) = i + 1)`,
  * whose first-occurrence test is a linear `array_position` scan per
  * chunk — O(chunks²) per ROW. That quadratic is doc-bounded, but the
  * operator targets exactly machine-generated repetitive pages, which
  * are often the LONGEST documents: a 1M-token page at the default
  * 8-token chunking is ~125k chunks ≈ 1.6e10 comparisons on one row — a
  * straggler that pins an executor core at scale. Here the
  * first-occurrence test is one hash-set probe per chunk: O(chunks) per
  * row, same outputs (the differential spec pins native ≡ HOF; q197's
  * oracle hash is unchanged). The [[BoilerplateStripExpr]] /
  * [[TokensExpr]] precedent: any per-row compute hot enough to matter
  * gets a codegen'd native kernel with the HOF kept as its differential
  * oracle.
  */
case class KeepFirstChunksExpr(child: Expression, chunkTokens: Int)
    extends UnaryExpression {

  require(chunkTokens >= 1, s"chunk size must be >= 1, got $chunkTokens")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"keep_first_chunks needs a string input, got ${child.dataType.simpleString}")

  override def dataType: DataType = StructType(Seq(
    StructField("cleaned", StringType, nullable = false),
    StructField("n_removed", LongType, nullable = false)))

  /** Per-row kernel; public so generated code can call it. */
  def compute(text: UTF8String): InternalRow = {
    val toks = Kernels.wsTokens(text)
    val nChunks = if (toks.isEmpty) 0 else (toks.length + chunkTokens - 1) / chunkTokens
    if (nChunks == 0)
      return InternalRow(UTF8String.EMPTY_UTF8, 0L)
    // seen-set sized for the no-duplicate common case; chunk strings are
    // built once and reused as both the probe key and the emitted text
    val seen = new java.util.HashSet[String](math.max(16, nChunks * 2))
    val kept = new java.lang.StringBuilder(text.numBytes())
    var removed = 0L
    var c = 0
    while (c < nChunks) {
      val from = c * chunkTokens
      val to = math.min(from + chunkTokens, toks.length)
      val sb = new java.lang.StringBuilder()
      var j = from
      while (j < to) {
        if (j > from) sb.append(' ')
        sb.append(toks(j)); j += 1
      }
      val chunk = sb.toString
      if (seen.add(chunk)) {
        if (kept.length() > 0) kept.append(' ')
        kept.append(chunk)
      } else removed += 1L
      c += 1
    }
    InternalRow(UTF8String.fromString(kept.toString), removed)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("kfc", this, classOf[KeepFirstChunksExpr].getName)
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = (InternalRow) $self.compute($t);")
  }

  override protected def withNewChildInternal(newChild: Expression): KeepFirstChunksExpr =
    copy(child = newChild)
}

object KeepFirstChunksExpr {
  /** Column API: `(cleaned, n_removed)` struct of the keep-first-chunk
    * strip at the given chunk size.
    */
  def keep_first_chunks(text: Column, chunkTokens: Int): Column =
    GraftColumnBridge.column(
      KeepFirstChunksExpr(GraftColumnBridge.expression(text), chunkTokens))
}
