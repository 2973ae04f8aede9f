package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Custom typed aggregate (SURVEY.md §2C "custom agg — fingerprint
  * OR-fold"): unions sparse fingerprint bit-index arrays (as produced
  * by `Chemistry.morgan_fp` / `structural_keys`) across a group into
  * one sparse bitset — the per-scaffold/per-source substructure profile.
  *
  * An `Aggregator[IN, BUF, OUT]` registered through `functions.udaf`
  * gets Spark's full partial-aggregation treatment: map-side combine
  * shrinks each partition to one buffer before the exchange, so the
  * shuffle carries one bitset per (group × partition) — the property
  * that makes it usable across billions of molecules.
  */
object FingerprintAgg {

  /** Buffer = fixed 1024-bit set packed in 16 longs. */
  private val Words = 16

  val orFold: Aggregator[Seq[Int], Array[Long], Seq[Int]] =
    new Aggregator[Seq[Int], Array[Long], Seq[Int]] {
      override def zero: Array[Long] = new Array[Long](Words)

      override def reduce(buf: Array[Long], bits: Seq[Int]): Array[Long] = {
        if (bits != null) bits.foreach { b =>
          val i = b & 1023
          buf(i >> 6) |= (1L << (i & 63))
        }
        buf
      }

      override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
        var i = 0
        while (i < Words) { a(i) |= b(i); i += 1 }
        a
      }

      override def finish(buf: Array[Long]): Seq[Int] =
        (0 until Words * 64).filter(i => (buf(i >> 6) & (1L << (i & 63))) != 0)

      override def bufferEncoder: Encoder[Array[Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
      override def outputEncoder: Encoder[Seq[Int]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Int]]()
    }

  /** Column form: `fingerprint_or(morgan_fp(smiles))`. */
  def fingerprint_or(bits: Column): Column = udaf(orFold).apply(bits)
}
