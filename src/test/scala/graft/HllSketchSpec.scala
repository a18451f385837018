package graft

import org.apache.spark.sql.functions._
import graft.functions.HllSketch

/** The 6th mergeable sketch: register algebra, merge-order invariance,
  * the estimate's error, and the read-side linear-counting correction
  * the aggregate deliberately leaves out (the doc-comment demo).
  */
class HllSketchSpec extends GraftSpec {

  private def distinctVals(n: Int): Seq[String] =
    (1 to n).map(i => s"v${i * 2654435761L % 1000003}_$i")

  test("merge-order invariance: any partitioning yields the identical " +
      "harmonic denominator S, equal to the Scala reference") {
    val sp = spark
    import sp.implicits._
    val vals = distinctVals(2000)
    // duplicate every 3rd value — idempotence under repeats is part of
    // the MAX-register algebra
    val withDups = vals ++ vals.zipWithIndex.collect {
      case (v, i) if i % 3 == 0 => v
    }
    def s(parts: Int): java.math.BigDecimal =
      withDups.toDF("v").repartition(parts)
        .agg(expr("hll_agg(v)")).head().getDecimal(0)
    val canonical = s(1)
    assert(s(4).compareTo(canonical) == 0)
    assert(s(32).compareTo(canonical) == 0)
    val ref = HllSketch.referenceS(vals) // dups drop out of the reference
    assert(BigInt(canonical.toBigInteger) == ref,
      s"SQL S $canonical != Scala reference $ref")
  }

  test("estimate accuracy: raw estimate within 15% at n=5000 " +
      "(4.6% standard error at m=512)") {
    val sp = spark
    import sp.implicits._
    val n = 5000
    val s = distinctVals(n).toDF("v").agg(expr("hll_agg(v)"))
      .head().getDecimal(0)
    val estNum = (0.7213 / (1.0 + 1.079 / 512.0)) * 262144.0 *
      72057594037927936.0
    val est = estNum / s.doubleValue()
    assert(math.abs(est - n) / n < 0.15,
      s"raw estimate $est off from $n by more than 15%")
  }

  test("read-side linear-counting correction: for small cardinality the " +
      "zero-register count recovers n where the raw estimate is biased") {
    // The aggregate ships S only; the correction is a READ-side policy.
    // Recompute the registers from the same hash to demonstrate it.
    val n = 30
    val vals = distinctVals(n)
    val regs = new Array[Int](HllSketch.M)
    vals.foreach { v =>
      val h = HllSketch.hash64(v.getBytes("UTF-8"))
      val idx = (h >>> 55).toInt
      val rem = h << 9
      val rho =
        if (rem == 0L) 56 else java.lang.Long.numberOfLeadingZeros(rem) + 1
      if (rho > regs(idx)) regs(idx) = rho
    }
    val zeros = regs.count(_ == 0)
    assert(zeros > 0, "small set must leave empty registers")
    val lc = HllSketch.M * math.log(HllSketch.M.toDouble / zeros)
    assert(math.abs(lc - n) <= math.max(3.0, 0.15 * n),
      s"linear counting $lc off from $n")
    // and the S the aggregate emits is consistent with those registers
    val s = regs.map(r => BigInt(1) << (56 - r)).sum
    assert(s == HllSketch.referenceS(vals))
  }

  test("null inputs are skipped; an empty group evaluates to null") {
    val sp = spark
    import sp.implicits._
    val withNulls = Seq(Some("a"), None, Some("b"), None, Some("a"))
      .toDF("v")
    val s = withNulls.agg(expr("hll_agg(v)")).head().getDecimal(0)
    assert(BigInt(s.toBigInteger) == HllSketch.referenceS(Seq("a", "b")))
    val empty = withNulls.where(lit(false))
      .agg(expr("hll_agg(v)")).head()
    assert(empty.isNullAt(0), "empty group must yield null, not 0-sketch")
  }
}
