package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** HyperLogLog distinct-count sketch as a native
  * TypedImperativeAggregate — the 6th mergeable sketch beside KMV /
  * Misra-Gries / Bloom / Count-Min / QuantileSketch, and THE canonical
  * cardinality sketch (Flajolet et al. 2007): where KMV keeps the k
  * smallest hashes (k·8 bytes, error ~1/√k), HLL keeps one 6-bit
  * leading-zero maximum per register — 512 bytes of state for ~4.6%
  * standard error, constant regardless of cardinality.
  *
  * Determinism/oracle design: the hash is the first 8 bytes of
  * md5(value) read big-endian — exactly DuckDB's
  * `('0x' || substr(md5(v),1,16))::UBIGINT` (the repo-wide md5-parity
  * device). p = 9 → m = 512 registers; register = top 9 hash bits, and
  * rho = (leading zeros of the remaining 55 bits) + 1 ∈ [1, 56].
  * Register state is a pure per-value function combined by MAX —
  * commutative, associative, idempotent — so any partition layout,
  * merge tree, or replay yields the IDENTICAL sketch (the same
  * argument as QuantileSketch's bucket algebra).
  *
  * eval returns the harmonic denominator S = Σ_j 2^(56 − M_j) as
  * DECIMAL(38,0) — an exact INTEGER (max 512·2^56 = 2^65, far inside
  * decimal range), not the float estimate: the oracle reproduces S
  * bit-for-bit in HUGEINT space and both engines then apply the same
  * literal-arithmetic estimate α·m²·2^56 / S, so no float crosses the
  * aggregation. Returns null for an empty group (no register touched;
  * rho ≥ 1 for any update, so all-zero ⟺ never updated).
  *
  * Scale: 512-byte partials combine map-side; only the register array
  * crosses the shuffle — never values. The raw estimate is emitted
  * without the small-range linear-counting branch (a READ-side
  * correction — demonstrated in HllSketchSpec, kept out of the oracle
  * so no cross-engine ln() is needed).
  */
case class HllSketch(
    child: Expression,
    emitRegisters: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with ExpectsInputTypes {

  // analysis-time contract: update() hashes the UTF8String bytes, so a
  // non-string child must fail at analysis (clear error), not as a
  // ClassCastException deep inside execution — callers cast explicitly,
  // keeping the hashed byte representation deliberate
  // (covariant narrowing: AbstractDataType is private[sql], DataType
  // is the public subtype)
  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def createAggregationBuffer(): Array[Byte] =
    new Array[Byte](HllSketch.M)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val h = HllSketch.hash64(v.asInstanceOf[UTF8String].getBytes)
      val idx = (h >>> 55).toInt
      val rem = h << 9
      val rho =
        if (rem == 0L) 56 else java.lang.Long.numberOfLeadingZeros(rem) + 1
      if (rho > buf(idx)) buf(idx) = rho.toByte
    }
    buf
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < HllSketch.M) {
      if (b(i) > a(i)) a(i) = b(i)
      i += 1
    }
    a
  }

  override def eval(buf: Array[Byte]): Any = {
    var touched = false
    var i = 0
    while (i < HllSketch.M) {
      if (buf(i) != 0) touched = true
      i += 1
    }
    if (!touched) null
    else if (emitRegisters) {
      // the raw 512-register state (for streamed partials whose
      // merge-on-read is a register-wise MAX — see StreamingSpec)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        buf.map(_.toInt))
    } else {
      var s = java.math.BigInteger.ZERO
      i = 0
      while (i < HllSketch.M) {
        s = s.add(java.math.BigInteger.ONE.shiftLeft(56 - buf(i)))
        i += 1
      }
      Decimal(new java.math.BigDecimal(s), 38, 0)
    }
  }

  override def serialize(buf: Array[Byte]): Array[Byte] = buf

  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def dataType: DataType =
    if (emitRegisters)
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType, containsNull = false)
    else DecimalType(38, 0)
  override def nullable: Boolean = true
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): HllSketch = copy(child = cs(0))
  override def withNewMutableAggBufferOffset(o: Int): HllSketch =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllSketch =
    copy(inputAggBufferOffset = o)
}

object HllSketch {

  /** Register count (p = 9). */
  val M = 512

  /** Estimate numerator α_m·m²·2^56 as a SQL/Column expression string —
    * every operand is a double literal both engines parse identically
    * and every op is IEEE, so the product is bit-identical; est =
    * [[estNumSql]] / CAST(S AS DOUBLE). Scientific notation is load-
    * bearing: Spark parses plain `0.7213` as DECIMAL(4,4) and would
    * evaluate the chain under decimal rounding rules (measured 1.9e-9
    * off the IEEE value — enough to flip a 4dp round); `0.7213E0`
    * is DOUBLE in both Spark and DuckDB.
    */
  val estNumSql: String =
    "(0.7213E0 / (1.0E0 + 1.079E0 / 512.0E0)) * 262144.0E0 * " +
      "72057594037927936.0E0"

  /** First 8 bytes of md5(bytes), big-endian (DuckDB
    * `('0x' || substr(md5(v),1,16))::UBIGINT` bit pattern).
    */
  def hash64(bytes: Array[Byte]): Long = {
    val d = MessageDigest.getInstance("MD5").digest(bytes)
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  /** Scala-reference S for spec cross-checks. */
  def referenceS(values: Iterable[String]): BigInt = {
    val regs = new Array[Int](M)
    values.foreach { v =>
      val h = hash64(v.getBytes("UTF-8"))
      val idx = (h >>> 55).toInt
      val rem = h << 9
      val rho =
        if (rem == 0L) 56 else java.lang.Long.numberOfLeadingZeros(rem) + 1
      if (rho > regs(idx)) regs(idx) = rho
    }
    regs.map(r => BigInt(1) << (56 - r)).sum
  }
}
