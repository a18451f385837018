package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, LongType}

/** Bloom-filter membership sketch as a native Catalyst aggregate +
  * probe expression pair.
  *
  * `bloom_agg(hashes, mBits, k)` folds every 64-bit element hash of
  * every row into an m-bit filter (k probe positions per element via
  * 64-bit double hashing); partials are fixed-size Array[Long] words
  * that merge by bitwise OR — associative, map-side combinable, and
  * only m/8 bytes ever cross the shuffle regardless of input volume.
  * `bloom_any(bloom, hashes, mBits, k)` is the row-side probe: true if
  * ANY element hash has all k bits set.
  *
  * The 100 TB use: membership prefilters against a SMALL reference set
  * (benchmark n-grams, a revoked-id list, yesterday's key set) where
  * the exact shuffle join would explode the big side first. The filter
  * admits no false negatives, so `bloom_any` + exact verify on the
  * survivors returns exactly the join's answer — the bloom only
  * deletes work (the false-positive rate only sizes the verify input,
  * never the result). Mirrors the role of `spark.sql.optimizer.
  * runtimeFilter.bloomFilter` but as an explicit, oracle-checkable
  * operator.
  */
case class BloomAgg(
    child: Expression,
    mBits: Int,
    kProbes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(mBits > 0 && mBits % 64 == 0, "mBits must be a positive multiple of 64")
  require(kProbes > 0, "kProbes must be positive")

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](mBits / 64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      var i = 0
      while (i < arr.numElements()) {
        BloomSketch.set(buf, arr.getLong(i), mBits, kProbes)
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) |= b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.length)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < buf.length) { buf(i) = bb.getLong; i += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): BloomAgg = copy(child = cs(0))
  override def withNewMutableAggBufferOffset(o: Int): BloomAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomAgg =
    copy(inputAggBufferOffset = o)
}

/** Row-side probe: true iff ANY hash in `right` has all k bloom bits
  * set in `left`. The filter column is the same broadcast 1-row
  * aggregate on every row, so the per-row cost is k probes per element
  * hash — no join, no shuffle.
  */
case class BloomMightContainAny(
    left: Expression,
    right: Expression,
    mBits: Int,
    kProbes: Int)
  extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = BooleanType

  override protected def nullSafeEval(bloomAny: Any, hashesAny: Any): Any = {
    val bloom = bloomAny.asInstanceOf[ArrayData]
    val hashes = hashesAny.asInstanceOf[ArrayData]
    // ArrayData.toLongArray would copy per row; probe in place.
    var i = 0
    while (i < hashes.numElements()) {
      if (BloomSketch.mightContain(bloom, hashes.getLong(i), mBits, kProbes))
        return true
      i += 1
    }
    false
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): BloomMightContainAny =
    copy(left = l, right = r)
}

object BloomSketch {

  /** Second hash for double hashing: Stafford mix13 finalizer (public
    * domain splitmix64 constant mixing) — decorrelates probe sequences
    * without a second pass over the element bytes.
    */
  private def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def pos(h1: Long, h2: Long, i: Int, mBits: Int): Int =
    (((h1 + i.toLong * h2) & Long.MaxValue) % mBits).toInt

  def set(words: Array[Long], hash: Long, mBits: Int, k: Int): Unit = {
    val h2 = mix64(hash)
    var i = 0
    while (i < k) {
      val p = pos(hash, h2, i, mBits)
      words(p >>> 6) |= (1L << (p & 63))
      i += 1
    }
  }

  def mightContain(words: ArrayData, hash: Long, mBits: Int, k: Int):
      Boolean = {
    val h2 = mix64(hash)
    var i = 0
    while (i < k) {
      val p = pos(hash, h2, i, mBits)
      if ((words.getLong(p >>> 6) & (1L << (p & 63))) == 0L) return false
      i += 1
    }
    true
  }
}
