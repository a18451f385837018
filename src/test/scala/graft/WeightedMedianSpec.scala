package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import graft.operators.Zenith

/** `agg_weighted_median` against a plain-Scala reference over small
  * random `lineitem` tables, and the shape of its warm plan.
  *
  * Prices come from a handful of values, several sharing one $1
  * bucket, so ties in price and shared covering buckets are common;
  * `(l_orderkey, l_linenumber)` is unique and breaks the ties. The
  * reference sorts each flag's rows by `(price, l_orderkey,
  * l_linenumber)`: the median is the row at rank `(n + 1) div 2`, the
  * weighted median the first row whose running quantity `cumw` has
  * `2·cumw ≥ totw`.
  */
class WeightedMedianSpec extends GraftSpec {

  /** (flag, price, quantity, orderkey, linenumber) */
  private type Line = (String, Double, Long, Long, Int)

  private def r4(d: Double): Double = math.floor(d * 10000.0 + 0.5) / 10000.0

  private def reference(lines: Seq[Line]): Seq[Row] =
    lines.groupBy(_._1).toSeq.sortBy(_._1).map { case (flag, ls) =>
      val sorted = ls.sortBy(l => (l._2, l._4, l._5))
      val totw = sorted.map(_._3).sum
      val cumw = sorted.map(_._3).scanLeft(0L)(_ + _).tail
      val wmed = sorted.zip(cumw).find { case (_, c) => 2 * c >= totw }.get._1
      Row(flag, sorted.size.toLong, totw,
        r4(sorted((sorted.size + 1) / 2 - 1)._2), r4(wmed._2))
    }

  private def run(lines: Seq[Line]): Seq[Row] = {
    val sp = spark
    import sp.implicits._
    val dir = Files.createTempDirectory("graft_wmedian").toString
    lines.toDF("l_returnflag", "l_extendedprice", "l_quantity",
        "l_orderkey", "l_linenumber")
      .selectExpr("l_returnflag", "l_extendedprice",
        "CAST(l_quantity AS DOUBLE) AS l_quantity", "l_orderkey",
        "l_linenumber")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    try Zenith.aggWeightedMedian(spark, dir).collect().toSeq
    finally deleteTempLayout(dir)
  }

  private def matches(lines: Seq[Line]): Prop = {
    val got = run(lines)
    val want = reference(lines)
    Prop(got == want) :| s"engine $got\nreference $want"
  }

  /** Rows get unique (orderkey, linenumber) keys; orderkeys collide so
    * the tie-break reaches the line number.
    */
  private def keyed(rows: Seq[(String, Double, Long)]): Seq[Line] =
    rows.zipWithIndex.map { case ((f, p, w), i) => (f, p, w, i % 5L, i) }

  private val line: Gen[(String, Double, Long)] = for {
    f <- Gen.frequency(4 -> "A", 4 -> "N", 2 -> "R")
    p <- Gen.oneOf(3.25, 3.5, 3.5, 3.75, 7.0, 7.0, 12.5, 40.0)
    w <- Gen.frequency(4 -> Gen.choose(1L, 9L), 1 -> Gen.choose(10L, 50L))
  } yield (f, p, w)

  test("agg_weighted_median: every column equals the sorted reference " +
      "on random lineitems") {
    val prop = Prop.forAllNoShrink(Gen.choose(1, 40).flatMap(
        Gen.listOfN(_, line))) { rows => matches(keyed(rows)) }
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(result.passed, Pretty.pretty(result))
  }

  test("agg_weighted_median: both medians in one bucket, a one-row " +
      "flag, and every row in one bucket") {
    // flag A: median and weighted median both resolve inside $3;
    // flag R: one line
    val shared = keyed(Seq(("A", 1.0, 1L), ("A", 3.25, 2L),
      ("A", 3.5, 2L), ("A", 3.75, 1L), ("A", 9.0, 1L), ("R", 12.5, 4L)))
    // flag N: all lines in $7, one heavy line carries the weight
    val oneBucket = keyed(Seq(("N", 7.75, 1L), ("N", 7.0, 1L),
      ("N", 7.5, 30L), ("N", 7.25, 1L), ("N", 7.0, 2L)))
    for (lines <- Seq(shared, oneBucket, shared ++ oneBucket))
      assert(run(lines) == reference(lines))
  }

  test("agg_weighted_median: a warm run scans lineitem once and sorts " +
      "only bucket-restricted rows") {
    object Plans extends AdaptiveSparkPlanHelper
    Zenith.aggWeightedMedian(spark, sf).collect()
    val warm = Zenith.aggWeightedMedian(spark, sf)
    warm.collect()
    val plan = warm.queryExecution.executedPlan
    def nodes(p: SparkPlan): Seq[SparkPlan] =
      Plans.collectWithSubqueries(p) { case n => n }
    val scans = nodes(plan).collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.getName ==
            "lineitem.parquet") => s
    }
    assert(scans.size == 1, plan.toString)
    // the pass-2 sort must sit above the covering-bucket restriction
    def bucketRestricted(e: Expression): Boolean =
      e.references.map(_.name).toSet.contains("bw_star")
    val windows = nodes(plan).collect { case w: WindowExec => w }
    assert(windows.nonEmpty, plan.toString)
    windows.foreach { w =>
      val below = nodes(w)
      val readsFact = below.exists(_.isInstanceOf[FileSourceScanExec])
      val restricted = below.exists {
        case f: FilterExec => bucketRestricted(f.condition)
        case j: BroadcastHashJoinExec => j.condition.exists(bucketRestricted)
        case _ => false
      }
      assert(!readsFact || restricted, s"data-sized window:\n$w")
    }
  }
}
