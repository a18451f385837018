package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Benchmark main: times every registered query at SPARK_GRAFT_SF_DIR and
  * prints exactly one JSON line (raw stdout — build.sbt routes forked run
  * output through StdoutOutput so the driver's parser sees it unprefixed).
  *
  * A query that throws is reported as -1 seconds (never as a fake fast
  * timing) and excluded from the total; a fatal JVM error (out of
  * memory, a linkage error) aborts the run instead.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString).toInt
    // fail fast on unknown query names: a typo'd `runMain graft.Bench
    // nmae` must not silently time an empty set
    val unknown = args.toSet.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")} — " +
        s"valid names are SparkEntry.queries keys")
    val spark = GraftSession(cpus, "graft-bench")
    // The timing action must evaluate EVERY output column: under a
    // terminal count(1), ColumnPruning deletes final projections and
    // EliminateSorts drops top-level ORDER BYs, so projection-heavy
    // queries (windows, per-row text/vector compute) would be timed as
    // scan+count. The noop sink consumes full rows without writing.
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // JIT/codegen warmup: run every query once at the smallest scale
    // factor so the timed loop measures steady-state execution, not
    // whichever query happens to hit a cold JVM path first.
    val warmDir = "/root/testdata/sf0.001"
    // optional arg filter: `runMain graft.Bench name1 name2` times only
    // those queries (iteration loop; the driver's full run passes none)
    val picked =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(args.toSet).toMap
    picked.foreach { case (_, fn) =>
      try run(fn(spark, warmDir)) catch { case NonFatal(_) => () }
    }
    // two timed passes, keep the per-query minimum: the box shows
    // ±30-50% run-to-run noise and min-of-N is the standard estimator
    // for the noise-free cost
    def timeOnce(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) =>
          org.apache.spark.sql.DataFrame): Double = {
      // operators that persist() shared subplans (graph edge lists,
      // dedup clusters) register them in the CacheManager, which
      // dedupes by analyzed plan — without this, a repeat pass (or a
      // sibling query building the SAME subplan) silently reads the
      // previous pass's cache and under-reports the operator's cost
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try { run(fn(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0
      }
    }
    val sorted = picked.toSeq.sortBy(_._1)
    val pass1 = sorted.map { case (n, fn) => n -> timeOnce(n, fn) }.toMap
    val results = sorted.map { case (n, fn) =>
      val t2 = timeOnce(n, fn)
      val t1 = pass1(n)
      n -> (if (t1 < 0 || t2 < 0) -1.0 else math.min(t1, t2))
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // the driver's artifact keeps only a 2000-char tail of stdout, which
    // truncates 148 per-query timings (r04 lost 85 of them) — persist
    // the full line to a file as well so every round has a complete
    // committed record (full runs only; arg-filtered loops would clobber
    // it with partial data)
    if (args.isEmpty) {
      // the committed BENCH_local.json must stay the curated idle sweep:
      // the default artifact name is derived from the sf dir (and is NOT
      // the committed name), so neither the driver's per-round run nor an
      // sf0.01 smoke run can clobber it. Writing the committed artifact
      // requires opting in via SPARK_GRAFT_BENCH_OUT=BENCH_local.json.
      val sfTag = java.nio.file.Paths.get(sfDir).getFileName.toString
        .replaceAll("[^A-Za-z0-9._-]", "_")
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"BENCH_run_$sfTag.json"))
      java.nio.file.Files.write(out,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[bench] full results written to $out")
    }
    spark.stop()
  }
}
