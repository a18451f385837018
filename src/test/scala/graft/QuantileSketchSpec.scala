package graft

import org.apache.spark.sql.functions._
import graft.functions.QuantileSketch

/** The 5th mergeable sketch: bucket algebra, merge-order invariance,
  * and the estimate's error contract.
  */
class QuantileSketchSpec extends GraftSpec {

  test("bucket mapping: monotone, lower bound tight, width <= 1/8") {
    val probes = (0L to 2000L) ++
      Seq(4095L, 4096L, 4097L, 1L << 30, (1L << 30) + 12345L,
        Long.MaxValue / 2, Long.MaxValue)
    var prevBucket = -1
    probes.sorted.foreach { v =>
      val b = QuantileSketch.bucketOf(v)
      assert(b >= prevBucket, s"bucketOf not monotone at $v")
      prevBucket = b
      val lb = QuantileSketch.lowerBound(b)
      assert(lb <= v, s"lower bound above value at $v")
      if (v < 16) assert(lb == v, s"small values must be exact: $v")
      else {
        // next bucket's lower bound caps the width at lb/8 (BigInt:
        // the bound above the TOP bucket is 2^63, past Long range)
        val ub = BigInt((b + 1) % 8 + 8) << ((b + 1) / 8 - 1)
        assert(BigInt(v) < ub, s"value $v at/above next bucket bound $ub")
        assert(ub - BigInt(lb) <= BigInt(math.max(1L, lb / 8)),
          s"bucket width ${ub - BigInt(lb)} > lb/8 at $v")
      }
    }
  }

  test("merge-order invariance: any partitioning yields the identical " +
      "estimate (pure function of the multiset)") {
    val sp = spark
    import sp.implicits._
    val vals = (1L to 5000L).map(i => (i * i * 2654435761L) % 100000L)
    def estimate(parts: Int): Seq[Long] = {
      val df = vals.toDF("v").repartition(parts)
      df.agg(expr("qdigest_quantile(v, 0.5)"),
          expr("qdigest_quantile(v, 0.9)"),
          expr("qdigest_quantile(v, 0.99)"))
        .head().toSeq.map(_.asInstanceOf[Long]).toSeq
    }
    val canonical = estimate(1)
    assert(estimate(4) == canonical)
    assert(estimate(32) == canonical)
  }

  test("agg_qdigest: est <= exact < est * 9/8 (exact below 16), and " +
      "the estimate is the rank bucket's lower bound") {
    val rows = operators.Pinnacle.aggQdigest(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      Seq("p50", "p90", "p99").foreach { p =>
        val exact = r.getAs[Long](s"${p}_exact")
        val est = r.getAs[Long](s"${p}_est")
        assert(est <= exact, s"$p: est $est > exact $exact")
        if (est < 16) assert(est == exact, s"$p: small range must be exact")
        else assert(exact.toDouble < est * 9.0 / 8.0,
          s"$p: exact $exact outside est $est * 9/8")
        // the estimate is a representable lower bound
        assert(QuantileSketch.lowerBound(
          QuantileSketch.bucketOf(est)) == est)
      }
    }
  }

  test("nulls skip, empty input evaluates to null, negatives reject") {
    val sp = spark
    import sp.implicits._
    val withNulls = Seq[Option[Long]](Some(5L), None, Some(7L), None)
      .toDF("v")
    assert(withNulls.agg(expr("qdigest_quantile(v, 0.5)"))
      .head().getLong(0) == 5L)
    assert(Seq.empty[Long].toDF("v")
      .agg(expr("qdigest_quantile(v, 0.5)")).head().isNullAt(0))
    val err = intercept[Exception] {
      Seq(-1L).toDF("v").agg(expr("qdigest_quantile(v, 0.5)"))
        .collect()
    }
    assert(err.getMessage != null)
  }
}
