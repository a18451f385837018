package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession builder — the one place session-level scale knobs
  * live (SURVEY.md §4).
  *
  * AQE is on for runtime shuffle coalescing and skew-join splitting;
  * shuffle partitions default to the local core count (a cluster deploy
  * overrides via --conf, and AQE re-coalesces anyway); UTC timezone so
  * timestamp math is environment-independent; parquet TIMESTAMP(NANOS)
  * columns (the `events` log) read as epoch-nanos longs.
  *
  * The session is built with `GraftExtensions`, so graft's SQL
  * functions, `BroadcastDimTables` and the off-by-default
  * `ApproxDistinctRewrite` are in every session it returns and in every
  * session derived from it — the same setup a cluster deploy gets from
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
object GraftSession {

  def apply(
      cores: Int = Runtime.getRuntime.availableProcessors,
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new GraftExtensions()(_))
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      // Spark's parquet reader rejects TIMESTAMP(NANOS); read it as raw
      // epoch-nanos longs (exact — a ns→us cast would lose sub-microsecond
      // order). `Tables.eventsUs` normalizes either landed type.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // coalesce by size, not core count: tiny post-shuffle partitions
      // collapse to few tasks instead of splintering across all cores
      // (at cluster scale the size target dominates either way)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // runtime (bloom) filters: a selective predicate on one side of a
      // shuffle join builds a bloom filter that pre-filters the other
      // side's scan — the 100 TB win is skipping fact rows before the
      // Exchange. Size thresholds gate it, so local runs are unaffected;
      // GraftExtensionsSpec drops the thresholds and asserts the rewrite
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
