package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Schema-stable loaders for the driver-generated testdata tables.
  *
  * Every `SparkEntry.queries` entry receives `(spark, sfDir)` and loads
  * through here, so path handling is fixed in one place. Modeled on
  * the reference catalog's collections
  * (jobs / files / events — see /root/reference/reactor.py:119-218):
  * `events` is the job event log, `documents` the archived outputs.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Plain parquet read. `events` carries TIMESTAMP(NANOS), which the
    * session reads as epoch-nanos longs (`spark.sql.legacy.parquet.
    * nanosAsLong`, set by `GraftSession` when the session is built).
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Loader for COMPUTE-HEAVY consumers: the testdata parquets are
    * single-row-group files, so the scan (and any expensive map-side
    * expression chained on it) would otherwise run as ONE task. A
    * round-robin repartition to the default parallelism costs one
    * narrow shuffle of the raw rows and buys full-core signature /
    * vector compute.
    *
    * Scale adaptivity (r12 verdict item 8): on a real table the scan
    * already splits by row groups / `maxPartitionBytes`, so the extra
    * narrow shuffle is pure overhead. The gate asks the PLANNED scan
    * for its actual split count (file listing × maxPartitionBytes ×
    * openCostInBytes — the exact parallelism the job would get) and
    * repartitions only when that is below the session's default
    * parallelism. Row content is identical either way (round-robin
    * placement only); at bench scale the single-row-group inputs keep
    * the historical repartition plan bit-for-bit.
    */
  def spread(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = apply(spark, dir, name)
    if (df.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism) df
    else df.repartition(spark.sparkContext.defaultParallelism)
  }

  /** Bounded persist slots for operators that cache a shared subplan
    * (the link-prediction edge list, the phash signature table). The
    * result DataFrame is lazy, so the operator can't unpersist before
    * the caller materializes — but an unbounded leak isn't the only
    * alternative: each operator owns ONE named slot, and persisting
    * into it unpersists the slot's previous occupant. A long-lived
    * session running the operator N times holds one cached subplan per
    * operator (reclaimed by `spark.catalog.clearCache()` or session
    * stop), not N.
    */
  private val persistSlots =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  def persistSlot(slot: String, df: DataFrame): DataFrame = {
    val cached = df.persist()
    val prev = persistSlots.put(slot, cached)
    // Spark's CacheManager keys by canonicalized plan: re-persisting the
    // SAME subplan (operator re-run, Bench pass 2) returns the existing
    // entry, so unpersisting `prev` — a different DataFrame object over
    // the same plan — would evict the shared cache and every later call
    // would recompute. Evict only a genuinely different previous plan.
    if (prev != null &&
        !prev.queryExecution.analyzed.sameResult(cached.queryExecution.analyzed))
      prev.unpersist(blocking = false)
    cached
  }

  /** Exact row count of `<dir>/<name>.parquet` read from parquet
    * FOOTER metadata only (block row counts — the same bytes a scan's
    * planning already lists), memoized per path. Used by the
    * [[saturatedSlot]] auto profile to size-gate plan shape without
    * paying a data scan: footers are metadata-plane at any volume.
    */
  def parquetRowCount(spark: SparkSession, dir: String,
      name: String): Long =
    JvmMemo.getOrCompute("rows", name, dir) {
      java.lang.Long.valueOf(
        ParquetFiles.rowCount(spark, s"$dir/$name.parquet"))
    }.longValue()

  /** Saturated-cluster profile dial: `spark.graft.clusterSaturated`
    * (`true` | `false` | `auto`, default auto). The graph family's
    * shared edge subplans measured FASTER recomputed in parallel than
    * persisted on an idle box (the PLANS.md "Evaluated and rejected"
    * A/Bs: persist 15-30% slower at 4-7 subtree refs, 1.6× slower even
    * at kcore's 27 refs) — but that verdict inverts under volume
    * pressure, where duplicate subtrees queue behind real work instead
    * of filling idle cores and recompute costs genuine throughput
    * (measured at the 100× replica: rich-club wall 63.3→45.4 s,
    * graph_hits spill 60→39 GB with the persist ON). This helper is
    * consulted at PLAN BUILD time: it persists the shared subplan into
    * its bounded [[persistSlot]] when the profile says so, and leaves
    * the plan untouched (the measured-faster idle shape) otherwise.
    *
    * AUTO (the default since round 19): explicit `true`/`false` is
    * honored; otherwise the dial flips on the MEASURED fact-table
    * volume — persist engages when lineitem's footer-metadata row
    * count crosses `spark.graft.saturatedAutoRows` (default 2·10⁷,
    * between the 10× replica ~6M rows where interleaved A/Bs showed
    * recompute winning/washing and the 100× ~60M rows where persist
    * measurably won) — so the 100× win engages without operator
    * action while bench-scale plans keep the idle shape. Every
    * profile is result-identical (GraphSaturatedSpec pins it);
    * PLANS.md rounds 14 and 19 carry the per-side A/B numbers.
    */
  def saturatedSlot(slot: String, df: DataFrame, dir: String): DataFrame = {
    val conf = df.sparkSession.conf
    val saturated = conf.get("spark.graft.clusterSaturated", "auto") match {
      case "true" => true
      case "false" => false
      case _ =>
        val threshold = conf.get("spark.graft.saturatedAutoRows",
          (20L * 1000 * 1000).toString).toLong
        parquetRowCount(df.sparkSession, dir, "lineitem") >= threshold
    }
    if (saturated) persistSlot(slot, df) else df
  }

  /** Size-gated broadcast hint for attach-side tables that GROW WITH THE
    * CORPUS (per-doc gram arrays, full doc text, global vocabularies).
    * An unconditional `broadcast()` on such a table is a driver OOM at
    * 100 TB; no hint at all forfeits the broadcast-hash join that wins
    * at bench scale when AQE's runtime stats miss (the attach side is a
    * derived subplan, not a bare scan). So: hint only while the
    * optimizer's size estimate stays under
    * `spark.graft.attachBroadcastMaxBytes` (default 256 MiB — same dial
    * family as BroadcastDimTables' `spark.graft.dimBroadcastMaxBytes`),
    * and past the gate leave planning alone, which yields a shuffle
    * join on the attach key. The estimate comes from the same
    * `Statistics.sizeInBytes` chain join planning itself consults, so
    * the gate tracks file size × column pruning, not a guess.
    */
  def maybeBroadcast(df: DataFrame): DataFrame =
    maybeBroadcast(df, df.sparkSession.conf
      .get("spark.graft.attachBroadcastMaxBytes",
        (256L * 1024 * 1024).toString).toLong)

  /** Per-call-limit form: attaches whose payload rows are WIDE (hash
    * arrays, signatures) squeeze execution memory hard when broadcast
    * near the default gate — the #346 100× probe measured two ~225 MB
    * array broadcasts (under the 256 MB gate) forcing ~3.5 GB of
    * spill in every concurrent shuffle. Callers with wide payloads
    * pass a tighter limit so bench-scale sides still broadcast while
    * corpus-scale sides fall through to their shuffle-join hint.
    */
  def maybeBroadcast(df: DataFrame, limitBytes: Long): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes
        <= BigInt(limitBytes))
      broadcast(df)
    else df
  }

  /** `events` with ts canonicalized to epoch MICROSECONDS (`ts_us`).
    * The testdata generator has emitted the column two ways across
    * rounds — TIMESTAMP(NANOS) (read as a nanos long under the
    * `nanosAsLong` legacy flag) and plain microsecond TIMESTAMP_NTZ —
    * so the canonicalization dispatches on the landed type: nanos long
    * truncates (`div 1000`), a timestamp converts exactly
    * (`unix_micros` under the session's UTC zone). Either path lands on
    * the SAME ts_us the DuckDB oracle's `epoch_us(ts)` computes (DuckDB
    * truncates nanos parquet to its micro TIMESTAMP on read), so every
    * oracle'd event query compares/orders/emits at micro precision on
    * both sides. Raw `ts` is dropped on purpose so no query accidentally
    * depends on the encoding du jour.
    */
  def eventsUs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val df = apply(spark, dir, "events")
    val tsUs = df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => expr("unix_micros(cast(ts as timestamp))")
    }
    df.withColumn("ts_us", tsUs).drop("ts")
  }
}
