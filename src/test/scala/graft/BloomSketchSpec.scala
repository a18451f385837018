package graft

import org.apache.spark.sql.functions._
import graft.functions.BloomSketch

/** Contract tests for the Bloom membership sketch (SURVEY.md §2 #130):
  * the no-false-negative guarantee (the property the exact-verify
  * pattern rests on), OR-merge associativity across partitions, and
  * end-to-end plan equality of the bloom-prefiltered decontamination
  * with the exact join form.
  */
class BloomSketchSpec extends GraftSpec {

  private val M = 1 << 12
  private val K = 4

  test("bloom: every inserted hash probes positive (no false negatives)") {
    val sp = spark
    import sp.implicits._
    // adversarial-ish values: dense small ints, sign boundary, extremes
    val hashes = (1L to 500L) ++ Seq(0L, -1L, Long.MinValue, Long.MaxValue)
    val df = hashes.map(h => Seq(h)).toDF("hs")
    val bloom = df.agg(expr(s"bloom_agg(hs, $M, $K)").as("bloom"))
    val misses = df.crossJoin(bloom)
      .where(!expr(s"bloom_any(bloom, hs, $M, $K)"))
      .count()
    assert(misses == 0L)
  }

  test("bloom: partial OR-merge equals single-partition build") {
    val sp = spark
    import sp.implicits._
    val df = (1L to 2000L).map(h => Seq(h * 0x9E3779B97F4A7C15L)).toDF("hs")
    val one = df.coalesce(1)
      .agg(expr(s"bloom_agg(hs, $M, $K)")).collect()
      .head.getSeq[Long](0)
    val many = df.repartition(16)
      .agg(expr(s"bloom_agg(hs, $M, $K)")).collect()
      .head.getSeq[Long](0)
    assert(one == many)
  }

  test("bloom: absent keys mostly reject (the filter actually filters)") {
    val sp = spark
    import sp.implicits._
    val m = 1 << 16 // sized ~8 bits/element for the 2k inserted keys
    val df = (1L to 2000L).map(h => Seq(h)).toDF("hs")
    val bloom = df.agg(expr(s"bloom_agg(hs, $m, $K)").as("bloom"))
    val absent = (100001L to 102000L).map(h => Seq(h)).toDF("hs")
    val falsePos = absent.crossJoin(bloom)
      .where(expr(s"bloom_any(bloom, hs, $m, $K)"))
      .count()
    // theoretical fp ≈ (1-e^(-k·n/m))^k ≈ 0.24% at these parameters;
    // 2% is a 8x safety margin against unlucky hashing
    assert(falsePos <= 40L, s"false-positive count $falsePos > 2%")
  }

  test("decontaminate_bloom returns exactly the exact-join answer") {
    val dir = sf
    val exact = operators.Corpus.decontaminate(spark, dir)
      .collect().map(_.toSeq).toSeq
    // tiny filter forces a real false-positive regime; the verify join
    // must still reduce to the identical output
    val viaBloom = operators.Corpus
      .decontaminateBloom(spark, dir, mBits = 256, kProbes = 2)
      .collect().map(_.toSeq).toSeq
    assert(viaBloom == exact)
  }
}
