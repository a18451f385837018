package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** KMV (k-minimum-values) distinct-count sketch as a native Catalyst
  * TypedImperativeAggregate.
  *
  * Input: an array<long> of element hashes per row. The sketch keeps
  * the k smallest DISTINCT hash values in UNSIGNED order; the
  * cardinality estimate is (k-1) / u_k where u_k is the k-th smallest
  * hash normalized to [0,1). If fewer than k distinct hashes exist the
  * exact distinct count is returned (the estimator's standard exact
  * regime).
  *
  * This is the aggregation shape that matters at 100 TB: the partial
  * state is k longs (not the element set), partials merge
  * associatively map-side, and only sketches cross the shuffle. The
  * result is DETERMINISTIC given the hash function — with md5-derived
  * hashes a DuckDB oracle reproduces it bit-for-bit.
  */
case class KmvSketch(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[Long]] {

  // signed longs ordered by unsigned value: flip the sign bit
  private def toKey(h: Long): Long = h ^ Long.MinValue
  private def fromKey(key: Long): Long = key ^ Long.MinValue

  override def createAggregationBuffer(): java.util.TreeSet[Long] =
    new java.util.TreeSet[Long]()

  override def update(buf: java.util.TreeSet[Long], input: InternalRow):
      java.util.TreeSet[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      var i = 0
      while (i < arr.numElements()) {
        insert(buf, toKey(arr.getLong(i)))
        i += 1
      }
    }
    buf
  }

  private def insert(buf: java.util.TreeSet[Long], key: Long): Unit = {
    if (buf.size < k) { buf.add(key); () }
    else if (key < buf.last()) {
      if (buf.add(key)) { buf.pollLast(); () }
    }
  }

  override def merge(a: java.util.TreeSet[Long], b: java.util.TreeSet[Long]):
      java.util.TreeSet[Long] = {
    val it = b.iterator()
    while (it.hasNext) insert(a, it.next())
    a
  }

  override def eval(buf: java.util.TreeSet[Long]): Any = {
    if (buf.isEmpty) return 0.0
    if (buf.size < k) return buf.size.toDouble
    // u_k = unsigned(h_k) / 2^64; estimate = (k-1) / u_k
    val hk = fromKey(buf.last())
    val unsigned =
      if (hk >= 0) hk.toDouble else hk.toDouble + 1.8446744073709552E19
    (k - 1).toDouble / (unsigned / 1.8446744073709552E19)
  }

  override def serialize(buf: java.util.TreeSet[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new java.util.TreeSet[Long]()
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): KmvSketch = copy(child = cs(0))
  override def withNewMutableAggBufferOffset(o: Int): KmvSketch =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KmvSketch =
    copy(inputAggBufferOffset = o)
}
