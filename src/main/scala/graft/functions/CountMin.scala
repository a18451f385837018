package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Count-Min frequency sketch as a native Catalyst aggregate + probe
  * pair (4th sketch family next to KMV / Misra-Gries / Bloom).
  *
  * `cms_agg(key, w, d)` folds string keys into a d×w counter matrix
  * (one counter bump per row hash); partials are a fixed d·w Long
  * array merged by elementwise ADDITION — associative, map-side
  * combinable, d·w·8 bytes across the shuffle no matter the input.
  * `cms_est(cms, key, w, d)` probes: min over the d row counters — an
  * OVERestimate, never under (estimate − truth ∈ [0, εN] with
  * ε ≈ e/w at confidence 1−(1/e)^d).
  *
  * Row-hash positions are md5-derived from `key || ':' || row` so a
  * SQL oracle reproduces every counter exactly; a production deploy
  * swaps in xxhash positions (same plan, cheaper per element).
  * The 100 TB use: frequency estimates over domains too wide to
  * aggregate exactly (URL hosts, token vocabularies) where Misra-Gries
  * answers only the top-k but CMS answers ANY point query.
  */
case class CountMinAgg(
    child: Expression,
    w: Int,
    d: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(w > 0 && d > 0, "w and d must be positive")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](d * w)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val key = v.toString
      var r = 0
      while (r < d) {
        buf(r * w + CountMin.pos(key, r, w)) += 1L
        r += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
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
      cs: IndexedSeq[Expression]): CountMinAgg = copy(child = cs(0))
  override def withNewMutableAggBufferOffset(o: Int): CountMinAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CountMinAgg =
    copy(inputAggBufferOffset = o)
}

/** Point estimate: min over the d row counters for `right` (a key). */
case class CountMinEstimate(
    left: Expression,
    right: Expression,
    w: Int,
    d: Int)
  extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override protected def nullSafeEval(cmsAny: Any, keyAny: Any): Any = {
    val cms = cmsAny.asInstanceOf[ArrayData]
    val key = keyAny.toString
    var est = Long.MaxValue
    var r = 0
    while (r < d) {
      val c = cms.getLong(r * w + CountMin.pos(key, r, w))
      if (c < est) est = c
      r += 1
    }
    est
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CountMinEstimate =
    copy(left = l, right = r)
}

object CountMin {

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Row-r bucket of a key: first 8 md5 hex chars of "key:r" as an
    * int, mod w — exactly `('0x' || substr(md5(key || ':' || r), 1, 8))
    * ::BIGINT % w` in DuckDB.
    */
  def pos(key: String, r: Int, w: Int): Int = {
    val md = md5Local.get()
    md.reset()
    val digest = md.digest((key + ":" + r).getBytes(StandardCharsets.UTF_8))
    // first 4 bytes == first 8 hex chars, unsigned
    val v = java.lang.Integer.toUnsignedLong(ByteBuffer.wrap(digest).getInt)
    (v % w).toInt
  }
}
