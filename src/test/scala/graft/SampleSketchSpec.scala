package graft

import org.apache.spark.sql.functions._
import graft.operators.Analytics

/** The 7th sketch: the bottom-k sample must be a pure set function of
  * the input — identical under any partitioning, idempotent under
  * duplicated (replayed) input, exact against a brute-force rank, and
  * complete below k.
  */
class SampleSketchSpec extends GraftSpec {

  private def hashOf(id: Long): BigInt = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
    BigInt(1, d.take(8)) >> 4 // first 15 hex digits = 60 bits
  }

  test("sample equals the brute-force (hash, id) rank under EVERY " +
      "partitioning, and duplicated input cannot move it") {
    val rows = Tables.eventsUs(spark, sf)
      .select(col("event_type"), col("event_id"),
        expr("cast(floor(value * 100.0 + 0.5) as bigint)").as("c"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = rows.groupBy(_._1).map { case (t, g) =>
      t -> g.map { case (_, id, c) => (hashOf(id), id, c) }
        .sortBy(e => (e._1, e._2)).take(32).map(_._3).toSeq
    }
    def run(parts: Int): Map[String, Seq[Long]] = {
      val base = Tables.eventsUs(spark, sf)
        .select(col("event_type"), col("event_id"),
          expr("cast(floor(value * 100.0 + 0.5) as bigint)").as("c"))
        .withColumn("h", expr(
          "cast(conv(substring(md5(cast(event_id as string)), 1, 15)," +
            " 16, 10) as long)"))
      val dup = if (parts == 0) base.unionByName(base) else base
      dup.repartition(math.max(parts, 2))
        .groupBy("event_type")
        .agg(expr("bottomk_sample(h, event_id, c, 32)").as("s"))
        .collect()
        .map(r => r.getString(0) ->
          r.getSeq[Long](1).toSeq).toMap
    }
    val p2 = run(2)
    assert(p2.keySet == expected.keySet)
    expected.foreach { case (t, exp) =>
      assert(p2(t) == exp, s"type $t vs brute force")
    }
    assert(run(7) == p2, "7-partition run diverged")
    assert(run(31) == p2, "31-partition run diverged")
    // replay idempotence: the sample is a SET function
    assert(run(0) == p2, "duplicated input moved the sample")
  }

  test("below k the sample is the whole group, ordered by (hash, id); " +
      "null inputs skip; empty input yields an empty array") {
    val sp = spark
    import sp.implicits._
    val tiny = Seq(
      ("a", 1L, 10L), ("a", 2L, 20L), ("a", 3L, 30L),
      ("b", 9L, 90L))
      .toDF("g", "id", "v")
      .withColumn("h", expr(
        "cast(conv(substring(md5(cast(id as string)), 1, 15), 16, 10)" +
          " as long)"))
    val out = tiny.groupBy("g")
      .agg(expr("bottomk_sample(h, id, v, 32)").as("s"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(out("a").sorted == Seq(10L, 20L, 30L))
    assert(out("a") == Seq(1L, 2L, 3L)
      .map(id => (hashOf(id), id)).sortBy(identity)
      .map { case (_, id) => id * 10L })
    assert(out("b") == Seq(90L))

    val withNull = tiny.withColumn("v",
      when(col("id") === 2L, lit(null).cast("long")).otherwise(col("v")))
    val outN = withNull.groupBy("g")
      .agg(expr("bottomk_sample(h, id, v, 32)").as("s"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(outN("a").sorted == Seq(10L, 30L))

    val empty = tiny.where(col("id") < 0L)
      .agg(expr("bottomk_sample(h, id, v, 32)").as("s"))
      .head().getSeq[Long](0)
    assert(empty.isEmpty)
  }

  test("estimate-vs-exact eval: sample means land near exact means " +
      "(the 32-sample error bound) and sample accounting is exact") {
    val out = Analytics.sampleBottomk(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val n = r.getAs[Long]("n")
      assert(r.getAs[Long]("sample_n") == math.min(n, 32L))
      // a 32-point uniform sample of a bounded value domain: generous
      // bound, but a broken sample (wrong rows) lands far outside it
      if (n >= 32L)
        assert(r.getAs[Double]("rel_err") < 0.5,
          s"${r.getAs[String]("event_type")} rel_err")
    }
  }
}
