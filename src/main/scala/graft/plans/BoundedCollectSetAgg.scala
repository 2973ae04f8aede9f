package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** `collect_set` with a HARD per-group membership bound — the hot-key
  * guard for every grouped member-set pair stage (r16).
  *
  * Semantics: identical to `collect_set(child)` for groups whose
  * DISTINCT non-null membership is ≤ `limit`; groups that exceed the
  * limit evaluate to NULL. Every call site pairs the collector with a
  * `size(...) <= cap` filter that drops oversized groups anyway, so
  * `bounded_collect_set(x, cap)` + the existing filter is
  * output-identical to `collect_set(x)` + filter — but the aggregation
  * buffer NEVER holds more than `limit + 1` elements. With plain
  * `collect_set`, one degenerate key (a boilerplate digest, an empty
  * document's band key) appearing in millions of rows accumulates
  * millions of ids in ONE ObjectHashAggregate buffer before the size
  * filter discards them; here the buffer overflows at `limit + 1`,
  * frees its members immediately, and only a boolean rides to the
  * merge. Partial (map-side) buffers are bounded the same way, and an
  * overflowed partial poisons its merged group, exactly like the
  * unbounded set's size would have.
  *
  * NULL inputs are skipped (collect_set's contract). Element order is
  * unspecified (hash-set order), as for collect_set — callers sort
  * with `sort_array` when order matters. The differential spec pins
  * equality against `collect_set` + size filter across element types
  * and plants an over-limit hot key to assert the buffer never grows
  * past the bound.
  */
case class BoundedCollectSetAgg(
    child: Expression,
    limit: Int,
    overflowNull: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BoundedCollectSetAgg.Buffer]
  with UnaryLike[Expression] {

  require(limit >= 1, "bounded_collect_set needs a positive limit")

  override def prettyName: String = "bounded_collect_set"

  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)

  // The default overflow value is the EMPTY ARRAY, not NULL, so the
  // aggregate is non-nullable exactly like builtin collect_set: a
  // nullable member array poisons every downstream expression's
  // nullability (pair-expansion lambdas, join keys — q44 measurably
  // paid an extra isnotnull filter per pair and a null-aware broadcast
  // relation for it). Every symmetric call site drops oversized groups
  // with a `size(...) >= 2` gate, which an empty array fails exactly
  // like the old over-cap set did. The LEFT-join probe sites
  // (incrementalNearDupCandidates, winnow admission cross-probe) opt
  // into `overflowNull = true` instead: there an overflowed STORE bucket
  // must drop the joined row, and an empty array would be
  // indistinguishable from "drop the store contribution only".
  override def nullable: Boolean = overflowNull

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (hasMap(child.dataType))
      TypeCheckResult.TypeCheckFailure(
        "bounded_collect_set does not support map-typed elements")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): BoundedCollectSetAgg.Buffer =
    new BoundedCollectSetAgg.Buffer

  // Array[Byte] has reference equality — a raw binary element would
  // never dedup in the HashSet. Wrap in ByteBuffer for the buffer and
  // unwrap on the way out, exactly Spark's own CollectSet fix
  // (SPARK-31500); nested binary inside structs shares CollectSet's
  // documented limitation and no call site uses it.
  private def toBufferElement(v: Any): Any = v match {
    case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
    case x => x
  }

  private def fromBufferElement(v: Any): Any = v match {
    case b: java.nio.ByteBuffer => b.array()
    case x => x
  }

  override def update(buf: BoundedCollectSetAgg.Buffer,
      input: InternalRow): BoundedCollectSetAgg.Buffer = {
    if (!buf.overflowed) {
      val v = child.eval(input)
      if (v != null) {
        // copy: unsafe-backed values are row-buffer views that the
        // scan reuses (the Collect/CollectSet convention)
        buf.set += toBufferElement(InternalRow.copyValue(v))
        if (buf.set.size > limit) buf.spill()
      }
    }
    buf
  }

  override def merge(buf: BoundedCollectSetAgg.Buffer,
      other: BoundedCollectSetAgg.Buffer): BoundedCollectSetAgg.Buffer = {
    if (other.overflowed) buf.spill()
    else if (!buf.overflowed) {
      // steal the freshly-deserialized set outright when this side is
      // still empty (the overwhelmingly common one-partial-per-group
      // case): `other` is a throwaway the iterator never touches again,
      // and the copy-free adoption skips a rehash of every member
      if (buf.set.isEmpty) buf.set = other.set
      else buf.set ++= other.set
      if (buf.set.size > limit) buf.spill()
    }
    buf
  }

  // the serialized marker stays separate from the empty-array payload
  // even in empty-overflow mode: an overflowed PARTIAL must poison the
  // merged group (its distinct count exceeded the limit), while a
  // genuinely tiny partial must merge normally
  override def eval(buf: BoundedCollectSetAgg.Buffer): Any =
    if (buf.overflowed) {
      if (overflowNull) null else BoundedCollectSetAgg.emptyArray
    } else new GenericArrayData(buf.set.iterator.map(fromBufferElement).toArray)

  // serialized form: the UnsafeRow bytes of the single-column array
  // projection (the Collect serialization) with ONE marker byte
  // appended (1 = overflowed, 0 = live). The marker sits at the END so
  // the payload stays 8-byte aligned for the zero-copy pointTo below.
  @transient private lazy val bufferProjection =
    UnsafeProjection.create(Array[DataType](dataType))

  override def serialize(buf: BoundedCollectSetAgg.Buffer): Array[Byte] =
    if (buf.overflowed) Array[Byte](1)
    else {
      val arr = new GenericArrayData(buf.set.iterator.map(fromBufferElement).toArray)
      val row = bufferProjection.apply(InternalRow.apply(arr))
      val n = row.getSizeInBytes
      // single copy straight out of the projection's reused buffer —
      // getBytes() + arraycopy would pay a second array + memcpy per
      // GROUP, which dominates when groups are millions and tiny
      val out = new Array[Byte](n + 1)
      row.writeToMemory(out, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET)
      out(n) = 0
      out
    }

  override def deserialize(bytes: Array[Byte]): BoundedCollectSetAgg.Buffer = {
    val buf = new BoundedCollectSetAgg.Buffer
    if (bytes(bytes.length - 1) == 1) buf.spill()
    else {
      // zero-copy: point the row at the payload in place and add the
      // element VIEWS to the set — `bytes` is a stable per-buffer
      // array this buffer owns, exactly Collect.deserialize's contract
      // (update() still copies, since scan rows are reused)
      val row = new UnsafeRow(1)
      row.pointTo(bytes, bytes.length - 1)
      row.getArray(0).foreach(child.dataType,
        (_, v: Any) => buf.set += toBufferElement(v))
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedCollectSetAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): BoundedCollectSetAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(newChild: Expression): BoundedCollectSetAgg =
    copy(child = newChild)
}

object BoundedCollectSetAgg {

  private val emptyArray = new GenericArrayData(Array.empty[Any])

  /** Mutable set plus the overflow latch; `spill()` frees the members
    * the moment the bound is crossed — the entire point of the guard.
    */
  final class Buffer {
    var overflowed: Boolean = false
    var set: mutable.HashSet[Any] = new mutable.HashSet[Any]
    def spill(): Unit = { overflowed = true; set = new mutable.HashSet[Any] }
  }

  /** `collect_set(c)` that returns the EMPTY ARRAY for groups with
    * more than `limit` distinct non-null members — pair with the
    * site's existing `size(...) >= 2` cap filter (an empty array fails
    * it, so oversized groups drop exactly as before). Non-nullable,
    * like builtin collect_set.
    */
  def bounded_collect_set(c: Column, limit: Int): Column =
    GraftColumnBridge.column(
      BoundedCollectSetAgg(GraftColumnBridge.expression(c), limit)
        .toAggregateExpression())

  /** [[bounded_collect_set]] that returns NULL for over-limit groups —
    * for the LEFT-join probe sites where an overflowed store bucket
    * must drop the JOINED row (null fails any comparison and is
    * distinguishable from "no store entry" via a join-hit marker).
    */
  def bounded_collect_set_null(c: Column, limit: Int): Column =
    GraftColumnBridge.column(
      BoundedCollectSetAgg(GraftColumnBridge.expression(c), limit,
        overflowNull = true).toAggregateExpression())
}
