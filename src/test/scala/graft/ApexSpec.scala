package graft

import org.apache.spark.sql.functions._
import graft.operators.{Layout, Multimodal, Quality, Relational, Temporal}

/** Invariants of #287-292 and #320: the skyline, Theil-Sen, Shapley
  * and perceptual-hash operators and the first layout audits.
  */
class ApexSpec extends GraftSpec {

  test("parts_skyline: output is mutually non-dominated and dominates " +
      "every excluded part") {
    val parts = Tables(spark, sf, "part")
      .select(col("p_partkey"),
        expr("cast(floor(p_retailprice * 100.0 + 0.5) as bigint)")
          .as("cents"),
        col("p_size").cast("long").as("size"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val sky = Relational.partsSkyline(spark, sf).collect()
      .map(r => (r.getAs[Long]("p_partkey"), r.getAs[Long]("cents"),
        r.getAs[Long]("size")))
    assert(sky.nonEmpty)
    def dominates(a: (Long, Long, Long), b: (Long, Long, Long)): Boolean =
      a._2 <= b._2 && a._3 >= b._3 && (a._2 < b._2 || a._3 > b._3)
    for (a <- sky; b <- sky)
      assert(!dominates(a, b), s"frontier pair $a dominates $b")
    val skyKeys = sky.map(_._1).toSet
    parts.filterNot(p => skyKeys.contains(p._1)).foreach { p =>
      assert(sky.exists(s => dominates(s, p)),
        s"excluded part $p not dominated by any frontier part")
    }
  }

  test("ts_theil_sen: slope is the exact lower-median pairwise slope " +
      "per type") {
    val daily = Tables.eventsUs(spark, sf)
      .groupBy(col("event_type"), expr("ts_us div 86400000000").as("d"))
      .agg(count(lit(1)).as("y"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val out = Temporal.tsTheilSen(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val t = r.getAs[String]("event_type")
      val pts = daily(t).map(p => (p._2, p._3)).sortBy(_._1)
      val slopes = (for {
        i <- pts.indices; j <- pts.indices if pts(i)._1 < pts(j)._1
      } yield (pts(j)._2 - pts(i)._2).toDouble /
          (pts(j)._1 - pts(i)._1).toDouble).sorted
      assert(r.getAs[Long]("n_pairs") == slopes.size)
      val med = slopes((math.ceil(slopes.size / 2.0) - 1).toInt)
      val medR4 = math.floor(med * 10000.0 + 0.5) / 10000.0
      assert(r.getAs[Double]("slope") == medR4, s"type $t")
    }
  }

  test("quality_rule_shapley: shares are non-negative and conserve the " +
      "overall drop rate") {
    val out = Quality.qualityRuleShapley(spark, sf).collect()
    assert(out.length == 4)
    val shares = out.map(_.getAs[Double]("drop_share"))
    shares.foreach(s => assert(s >= 0.0))
    val flags = operators.Pinnacle.ruleFlags(spark, sf)
      .agg(count(lit(1)).as("n"),
        sum(when(col("f0") + col("f1") + col("f2") + col("f3") > 0, 1L)
          .otherwise(0L)).as("n_drop")).head()
    val dropRate = flags.getAs[Long]("n_drop").toDouble /
      flags.getAs[Long]("n")
    // each share is r4'd, so the sum drifts by at most 4·0.5e-4
    assert(math.abs(shares.sum - dropRate) <= 2e-4,
      s"sum ${shares.sum} vs drop rate $dropRate")
  }

  test("layout_partition_advisor: every candidate accounts for the " +
      "same row total; skew >= 1") {
    val rows = Layout.layoutPartitionAdvisor(spark, sf).collect()
    assert(rows.map(_.getAs[String]("candidate")).sorted.toSeq ==
      Seq("month", "priority", "status", "year"))
    val totals = rows.map(_.getAs[Long]("n_rows")).distinct
    assert(totals.length == 1)
    assert(totals.head == Tables(spark, sf, "orders").count())
    rows.foreach { r =>
      assert(r.getAs[Double]("skew") >= 1.0 - 1e-4)
      assert(r.getAs[Long]("max_rows") <= r.getAs[Long]("n_rows"))
    }
  }

  test("layout_skipping_audit: the date-clustered layout never skips " +
      "fewer files than insertion order, file accounting consistent") {
    val rows = Layout.layoutSkippingAudit(spark, sf).collect()
    assert(rows.length == 6)
    rows.groupBy(_.getAs[String]("probe")).foreach { case (p, rs) =>
      val byLayout = rs.map(r =>
        r.getAs[String]("layout") -> r.getAs[Double]("skip_frac")).toMap
      assert(byLayout("date_clustered") >= byLayout("insertion") - 1e-9,
        s"probe $p")
    }
    rows.foreach(r =>
      assert(r.getAs[Long]("n_read") <= r.getAs[Long]("n_files")))
  }

  test("mm_image_phash: real-decode signature matches the closed form; " +
      "sparse noise stays within a small hamming radius") {
    val out = Multimodal.mmImagePhash(spark, sf)
      .where(col("doc_id") < 30).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val w = (16L * (1L + (id * 7 + 3) % 8)).toInt
      val h = (16L * (1L + (id * 5 + 1) % 8)).toInt
      val bw = w / 8
      val bh = h / 8
      val sums = new Array[Long](64)
      var total = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val v = (3L * x + 5L * y + id) % 256L
        sums((y / bh) * 8 + x / bw) += v
        total += v
      }
      var hi = 0L
      var lo = 0L
      for (i <- 0 until 64 if sums(i) * 64 > total)
        if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
      assert(r.getAs[Long]("sig_hi") == hi, s"doc $id hi")
      assert(r.getAs[Long]("sig_lo") == lo, s"doc $id lo")
      // 1-in-97 single-increment noise must not flip many mean bits
      assert(r.getAs[Long]("hamming_noise") <= 8, s"doc $id hamming")
    }
  }

  test("layout_footer_audit: REAL parquet footer min/max/count per file " +
      "equals the simulated rank-chunk closed form, file by file") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_footer_spec").toString
    val o = Tables(spark, sf, "orders")
      .select(col("o_orderkey"),
        datediff(col("o_orderdate"), lit("1970-01-01")).cast("long")
          .as("day"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
    Layout.writeClustered(o, tmp, "month", "day", 512L)
    val real = try Layout.readFooterDayStats(spark, tmp)
      .collect()
      .map(r => (r.getAs[String]("month"), r.getAs[Long]("min_day"),
        r.getAs[Long]("max_day"), r.getAs[Long]("n_rows")))
      .sorted.toSeq
    finally deleteTempLayout(tmp)
    val sim = o
      .withColumn("fid", expr("(row_number() over (partition by month " +
        "order by day, o_orderkey) - 1) div 512"))
      .groupBy("month", "fid")
      .agg(min("day").as("min_day"), max("day").as("max_day"),
        count(lit(1)).as("n_rows"))
      .collect()
      .map(r => (r.getAs[String]("month"), r.getAs[Long]("min_day"),
        r.getAs[Long]("max_day"), r.getAs[Long]("n_rows")))
      .sorted.toSeq
    assert(real.nonEmpty)
    assert(real == sim,
      "real footers diverge from the simulated file cut")
    // and every file respects the 512-record cap
    assert(real.forall(_._4 <= 512L))
  }
}
