package graft.functions

import java.nio.charset.StandardCharsets
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries heavy-hitters sketch as a native Catalyst
  * TypedImperativeAggregate: `mg_topk(item, k)` returns the candidate
  * item set (sorted array<string>).
  *
  * Guarantee (the reason this is usable at 100 TB): any item whose true
  * frequency exceeds N/k is ALWAYS in the returned candidates,
  * regardless of processing or merge order — so a downstream exact
  * re-count of just the candidates, filtered by `count·k > N`, equals
  * the exact heavy-hitter set while only k counters per partial (not
  * the full item domain) ever cross the shuffle. Partials merge with
  * the Agarwal et al. mergeable-summaries rule: sum counters, then
  * subtract the (k+1)-th largest count and drop non-positives.
  *
  * Counter VALUES are order-dependent (inherent to MG) and therefore
  * never exposed — only the membership, whose superset guarantee is
  * order-free; determinism of any final result comes from the exact
  * verify (same pattern as the LSH candidate → exact-Jaccard ops).
  */
case class MisraGries(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.HashMap[String, Long]] {

  require(k > 0, s"mg_topk needs k > 0, got $k")

  override def createAggregationBuffer(): java.util.HashMap[String, Long] =
    new java.util.HashMap[String, Long]()

  override def update(buf: java.util.HashMap[String, Long],
      input: InternalRow): java.util.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String].toString
      val cur = buf.get(s)
      if (cur != 0L || buf.containsKey(s)) buf.put(s, cur + 1L)
      else if (buf.size < k) buf.put(s, 1L)
      else decrementAll(buf)
    }
    buf
  }

  /** The classic MG miss step: every counter drops by one, zeros leave
    * (the missed item's "count" and one unit of everyone else cancel).
    */
  private def decrementAll(buf: java.util.HashMap[String, Long]): Unit = {
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue <= 1L) it.remove() else e.setValue(e.getValue - 1L)
    }
  }

  override def merge(a: java.util.HashMap[String, Long],
      b: java.util.HashMap[String, Long]): java.util.HashMap[String, Long] = {
    val it = b.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cur = a.get(e.getKey)
      a.put(e.getKey, cur + e.getValue)
    }
    if (a.size > k) {
      // mergeable-summaries shrink: subtract the (k+1)-th largest count
      val counts = new java.util.ArrayList[Long](a.values())
      java.util.Collections.sort(counts, java.util.Collections.reverseOrder())
      val pivot = counts.get(k)
      val it2 = a.entrySet().iterator()
      while (it2.hasNext) {
        val e = it2.next()
        if (e.getValue - pivot <= 0L) it2.remove()
        else e.setValue(e.getValue - pivot)
      }
    }
    a
  }

  override def eval(buf: java.util.HashMap[String, Long]): Any = {
    val keys = new java.util.ArrayList[String](buf.keySet())
    java.util.Collections.sort(keys)
    val out = new Array[Any](keys.size())
    var i = 0
    while (i < keys.size()) {
      out(i) = UTF8String.fromString(keys.get(i)); i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.HashMap[String, Long]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val bytes = e.getKey.getBytes(StandardCharsets.UTF_8)
      out.writeInt(bytes.length)
      out.write(bytes)
      out.writeLong(e.getValue)
    }
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]):
      java.util.HashMap[String, Long] = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new java.util.HashMap[String, Long]()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buf.put(new String(b, StandardCharsets.UTF_8), in.readLong())
      i += 1
    }
    buf
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): MisraGries = copy(child = cs(0))
  override def withNewMutableAggBufferOffset(o: Int): MisraGries =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MisraGries =
    copy(inputAggBufferOffset = o)
}
