package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Timing harness for operator VARIANTS that are deliberately not in
  * `SparkEntry.queries` (no DuckDB oracle — e.g. data-dependent plan
  * parameters the oracle SQL can't reproduce without a sizing stage).
  * Same protocol as Bench: noop-sink write, clearCache between passes,
  * min-of-2, one JSON line. Usage:
  * `SPARK_GRAFT_SF_DIR=<dir> runMain graft.AuxBench [name ...]`.
  */
object AuxBench {

  val variants: Map[String, (SparkSession, String) => DataFrame] = Map(
    // #31's scale dial turned automatically (bits from log2(n))
    "dedup_embedding_auto" ->
      ((s: SparkSession, d: String) => operators.Dedup.dedupEmbeddingAuto(s, d)),
    // #169 with the symmetric edge list persisted (A/B vs the unrolled
    // 27x-recompute plan)
    "graph_kcore_persist" ->
      ((s: SparkSession, d: String) => operators.Curation.graphKcorePersist(s, d)),
    // #266's scale dial turned automatically (bits from log2(n), target
    // bucket occupancy ~2k) — the registered query pins bits=6 for the
    // static oracle; this is the form a growing corpus runs
    "ann_graph_search_auto" ->
      ((s: SparkSession, d: String) => operators.Summit.annGraphSearchAuto(s, d)),
    // the spark.graft.clusterSaturated profile: shared graph edge
    // subplans persist instead of recomputing in parallel — the
    // escape-hatch shape for busy clusters, A/B'd here against the
    // registered (idle-profile) operators' Bench numbers
    "graph_pagerank_saturated" ->
      ((s: SparkSession, d: String) =>
        saturated(s)(operators.Graph.graphPagerank(s, d))),
    "graph_triangles_saturated" ->
      ((s: SparkSession, d: String) =>
        saturated(s)(operators.Graph.graphTriangles(s, d))),
    "graph_kcore_saturated" ->
      ((s: SparkSession, d: String) =>
        saturated(s)(operators.Curation.graphKcore(s, d))))

  /** Build a plan under the saturated-cluster profile (the conf is
    * consulted at plan-build time, so resetting it after construction
    * is safe — the persist decision is already baked into the plan).
    */
  private def saturated(s: SparkSession)(body: => DataFrame): DataFrame = {
    s.conf.set("spark.graft.clusterSaturated", "true")
    try body finally s.conf.set("spark.graft.clusterSaturated", "false")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.isEmpty) variants.keys.toSeq.sorted else args.toSeq
    val unknown = names.toSet.diff(variants.keySet)
    require(unknown.isEmpty,
      s"unknown variants: ${unknown.toSeq.sorted.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString).toInt
    val spark = GraftSession(cpus, "graft-aux-bench")
    def run(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def timeOnce(fn: (SparkSession, String) => DataFrame): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try { run(fn(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
      catch { case NonFatal(e) =>
        System.err.println(s"[aux] failed: ${e.getMessage}"); -1.0
      }
    }
    val results = names.map { n =>
      val fn = variants(n)
      run(fn(spark, "/root/testdata/sf0.001")) // warmup
      val (t1, t2) = (timeOnce(fn), timeOnce(fn))
      n -> (if (t1 < 0 || t2 < 0) -1.0 else math.min(t1, t2))
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(s"""{"metric":"aux","queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
