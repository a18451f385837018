package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Mergeable bottom-k row sample as a native TypedImperativeAggregate —
  * the 7th sketch beside KMV / Misra-Gries / Bloom / Count-Min /
  * QuantileSketch / HllSketch, and the SAMPLE-emitting face of the KMV
  * lattice: where `kmv_distinct` keeps the k smallest hash keys to
  * ESTIMATE cardinality, this keeps the k smallest (hash, id) keys
  * WITH their row payloads, giving every group a deterministic
  * mergeable exemplar set (the distributed uniform sample every
  * "show me examples from each segment" read and every
  * estimate-vs-exact eval needs). A random-number reservoir sample is
  * neither mergeable nor replayable; the bottom-k-by-content-hash
  * sample is both — the same reason every sketch in this family hashes
  * instead of drawing.
  *
  * Determinism/oracle design: the caller supplies `hash` (the repo's
  * 60-bit md5 device — `conv(substring(md5(id), 1, 15), 16, 10)`,
  * which DuckDB reproduces bit-for-bit), a tiebreaking unique `id`,
  * and the sampled `value`. The kept set is the k smallest (hash, id)
  * pairs — a pure SET function of the input (insertion into a bounded
  * ordered set, commutative/associative/idempotent under merge — the
  * KMV argument verbatim), so ANY partition layout, merge tree, or
  * replay yields the IDENTICAL sample, and a DuckDB
  * `ROW_NUMBER() OVER (ORDER BY hash, id) <= k` reproduces it exactly.
  *
  * eval returns the sampled VALUES ordered by (hash, id) as
  * array<long>. State is ≤ k (hash, id, value) triples — 24k bytes —
  * combining map-side; only sketches cross the shuffle.
  */
case class SampleSketch(
    hashChild: Expression,
    idChild: Expression,
    valueChild: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[
    scala.collection.mutable.TreeSet[(Long, Long, Long)]] {

  private type Buf = scala.collection.mutable.TreeSet[(Long, Long, Long)]

  override def createAggregationBuffer(): Buf =
    scala.collection.mutable.TreeSet.empty[(Long, Long, Long)]

  private def insert(buf: Buf, e: (Long, Long, Long)): Unit = {
    if (buf.size < k) { buf.add(e); () }
    else if (Ordering[(Long, Long, Long)].lt(e, buf.last)) {
      if (buf.add(e)) { buf.remove(buf.last); () }
    }
  }

  override def update(buf: Buf, input: InternalRow): Buf = {
    val h = hashChild.eval(input)
    val id = idChild.eval(input)
    val v = valueChild.eval(input)
    if (h != null && id != null && v != null)
      insert(buf, (h.asInstanceOf[Long], id.asInstanceOf[Long],
        v.asInstanceOf[Long]))
    buf
  }

  override def merge(a: Buf, b: Buf): Buf = {
    b.foreach(insert(a, _))
    a
  }

  override def eval(buf: Buf): Any =
    new GenericArrayData(buf.toSeq.map(_._3).toArray)

  override def serialize(buf: Buf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 24 * buf.size)
    bb.putInt(buf.size)
    buf.foreach { case (h, id, v) =>
      bb.putLong(h); bb.putLong(id); bb.putLong(v)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) {
      buf.add((bb.getLong, bb.getLong, bb.getLong))
      i += 1
    }
    buf
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] =
    Seq(hashChild, idChild, valueChild)
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): SampleSketch =
    copy(hashChild = cs(0), idChild = cs(1), valueChild = cs(2))
  override def withNewMutableAggBufferOffset(o: Int): SampleSketch =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SampleSketch =
    copy(inputAggBufferOffset = o)
}
