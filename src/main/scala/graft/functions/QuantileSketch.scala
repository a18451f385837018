package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, LongType}

/** Mergeable quantile sketch over non-negative longs as a native
  * TypedImperativeAggregate — the 5th sketch beside KMV / Misra-Gries /
  * Bloom / Count-Min, and the unbounded-domain graduate of the #114
  * fixed-bin histogram.
  *
  * Design: a log2-linear histogram (the HdrHistogram / DDSketch bucket
  * family) chosen over KLL/GK/t-digest because its state is a PURE
  * FUNCTION of the value multiset — bucket(v) depends only on v, merge
  * is bucket-wise count addition (commutative, associative, no
  * order-dependent compaction), so any partition layout, merge tree, or
  * replay produces the IDENTICAL sketch and a DuckDB oracle reproduces
  * the estimate bit-for-bit. KLL-style samplers give tighter error per
  * byte but their compactions depend on merge order — un-oracle-able
  * and nondeterministic under AQE re-planning.
  *
  * Buckets: v < 8 exact (ids 0-7); otherwise the top 1+3 bits address
  * the bucket — id = (msb−3)·8 + (v >> (msb−3)) with msb = floor(log2
  * v), i.e. 8 linear sub-buckets per octave, ≤ 488 buckets over the
  * full long range, relative width ≤ 1/8. The quantile read walks the
  * cumulative counts to rank ⌈q·N⌉ and returns the bucket's LOWER
  * BOUND, so estimate ≤ true value < estimate·9/8 (exact below 8).
  *
  * Scale: the partial state is ≤488 (bucket, count) pairs regardless
  * of input size; partials combine map-side and only the tiny
  * histogram crosses the shuffle — the same reason the KMV sketch
  * exists. Negative inputs are rejected (fail-fast beats a silently
  * wrong bucket); nulls skip.
  */
case class QuantileSketch(
    child: Expression,
    q: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeMap[Int, Long]] {

  override def createAggregationBuffer(): java.util.TreeMap[Int, Long] =
    new java.util.TreeMap[Int, Long]()

  override def update(buf: java.util.TreeMap[Int, Long],
      input: InternalRow): java.util.TreeMap[Int, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[Long]
      require(x >= 0L, s"qdigest_quantile: negative input $x")
      buf.merge(QuantileSketch.bucketOf(x), 1L, _ + _)
    }
    buf
  }

  override def merge(a: java.util.TreeMap[Int, Long],
      b: java.util.TreeMap[Int, Long]): java.util.TreeMap[Int, Long] = {
    val it = b.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      a.merge(e.getKey, e.getValue, _ + _)
    }
    a
  }

  override def eval(buf: java.util.TreeMap[Int, Long]): Any = {
    var n = 0L
    val it0 = buf.values().iterator()
    while (it0.hasNext) n += it0.next()
    if (n == 0L) return null
    // rank ⌈q·N⌉ (≥ 1): the same IEEE multiply + ceil the oracle runs
    val rank = math.max(1L, math.ceil(q * n).toLong)
    var cum = 0L
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      cum += e.getValue
      if (cum >= rank) return QuantileSketch.lowerBound(e.getKey)
    }
    QuantileSketch.lowerBound(buf.lastKey()) // unreachable (cum == n)
  }

  override def serialize(buf: java.util.TreeMap[Int, Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 12 * buf.size)
    bb.putInt(buf.size)
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      bb.putInt(e.getKey)
      bb.putLong(e.getValue)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeMap[Int, Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new java.util.TreeMap[Int, Long]()
    var i = 0
    while (i < n) { buf.put(bb.getInt, bb.getLong); i += 1 }
    buf
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): QuantileSketch = copy(child = cs(0))
  override def withNewMutableAggBufferOffset(o: Int): QuantileSketch =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): QuantileSketch =
    copy(inputAggBufferOffset = o)
}

object QuantileSketch {

  /** Bucket id of a non-negative long (SQL mirror in the #286 oracle:
    * `(length(bin(v)) - 4) * 8 + (v >> (length(bin(v)) - 4))`).
    */
  def bucketOf(v: Long): Int = {
    if (v < 8L) v.toInt
    else {
      val msb = 63 - java.lang.Long.numberOfLeadingZeros(v)
      ((msb - 3) * 8 + (v >> (msb - 3))).toInt
    }
  }

  /** Lower bound of a bucket (its reported quantile value). */
  def lowerBound(b: Int): Long =
    if (b < 16) b.toLong
    else ((b % 8 + 8).toLong) << (b / 8 - 1)
}
