package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{CatalogCompaction, CatalogIO, CatalogVacuum}

/** Streamed compaction trigger: the foreachBatch maintenance loop that
  * keeps a CDC-fed catalog read-optimized WHILE the stream runs.
  * Micro-batches append change records to the log; when the PENDING
  * (not-yet-folded) log crosses a row threshold, the loop invokes
  * `CatalogCompaction.compact` on exactly the pending slice and
  * advances a durable `_compacted_through` watermark (max folded seq).
  *
  * The watermark is the exactly-once device AND the correctness
  * boundary: the merge-on-read [[view]] folds only `seq > watermark`
  * over the compacted base, so
  *  - a REPLAYED micro-batch whose records were already folded
  *    re-appends duplicate rows but the view filters them out — the
  *    view cannot regress (replaying a superseded old change through
  *    the fold WOULD resurrect its value; the watermark makes that
  *    impossible by construction, the same reason Delta readers filter
  *    the log at the checkpoint version);
  *  - compaction itself folds only the pending slice, so an
  *    already-folded change can never be re-applied over a newer one.
  *
  * Layout under one `tableDir`:
  * {{{
  *   base/<partitionCol>=<v>/…parquet  the compacted state
  *   log/through=<wm>/…parquet          change records appended while
  *                                      the watermark read <wm>
  *   _compacted_through                 the watermark marker, written
  *                                      atomically (tmp + rename) by
  *                                      `CatalogIO.writeAtomically`
  * }}}
  * Each batch reads the watermark once and appends into the LIVE
  * segment `log/through=<wm>`, so the pending slice is that one
  * segment's `seq > wm` rows: a read lists and scans only it, never
  * the history. A compaction folds the live segment and moves the
  * watermark to its max seq, so every record in segment `W` has
  * seq ≤ the next watermark — older segments hold only folded records
  * and no read opens them. They stay on disk as the raw change
  * history (`spark.read.parquet(s"$tableDir/log")` reads every
  * record, with the segment as a `through` column); deleting them is
  * a retention decision this loop does not make. When the live
  * segment does not exist yet, nothing is pending and the view is the
  * base alone, cast to the log's column types so the view's schema
  * does not depend on whether anything is pending. A table with
  * parquet files directly under `log/` (the layout before segments) is
  * rejected whenever the live segment is missing, which includes the
  * first call on such a table: its pending records would otherwise
  * never be read.
  *
  * Crash windows: a run that compacts but stops before the marker
  * write leaves the watermark behind, so the next batch appends to the
  * same segment and the pending slice re-offers the folded records.
  * The fold keeps the latest seq per key over base and log, and the
  * whole segment is still there, so re-applying them yields the same
  * state. A compaction stopped mid-swap (the process died, or a
  * delete or rename failed) is finished by the next one
  * (`CatalogCompaction.compact`); until then a read sees the
  * partitions it deleted but had not renamed back as empty, the window
  * Spark's dynamic overwrite leaves when its commit stops. The next
  * batch closes it: the watermark did not move, so the pending slice
  * still crosses the threshold and that batch compacts again.
  *
  * Scale: the trigger check is one aggregate query over the pending
  * slice that returns its row count and its max `seq` (the watermark
  * candidate) together (a production loop keeps the pending count in
  * streaming state and skips even that); compaction cost is
  * CatalogCompaction's touched-partitions-only, write-once rewrite.
  */
object CompactionLoop {

  private val marker = "_compacted_through"

  private def fs(spark: SparkSession, tableDir: String) =
    new Path(tableDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

  /** Highest seq folded into the base; -1 before the first compaction. */
  def watermark(spark: SparkSession, tableDir: String): Long =
    CatalogIO.readMarker(spark, s"$tableDir/$marker")
      .map(_.trim.toLong).getOrElse(-1L)

  private def segment(tableDir: String, wm: Long) =
    new Path(s"$tableDir/log/through=$wm")

  /** The log's segments. A table whose `log/` also holds flat
    * parquet files was written before the log had segments; this loop
    * would never read those files' pending records, so such a table
    * fails here rather than serve a view without them.
    */
  private def segments(spark: SparkSession, tableDir: String): Seq[Path] = {
    val log = new Path(s"$tableDir/log")
    val f = fs(spark, tableDir)
    val entries =
      if (f.exists(log)) f.listStatus(log).toSeq.map(_.getPath) else Nil
    val flat = entries.filter(_.getName.endsWith(".parquet"))
    require(flat.isEmpty, s"$log holds change records outside any " +
      s"through=<watermark> segment (${flat.headOption.getOrElse("")}): " +
      "a flat change log is not supported")
    entries.filter(_.getName.startsWith("through="))
  }

  /** A live segment's pending rows: those past the watermark. */
  private def slice(spark: SparkSession, seg: Path, wm: Long): DataFrame =
    spark.read.parquet(seg.toString).where(col("seq") > wm)

  /** Change records not yet folded into the base: the live segment's
    * `seq > watermark` rows (replayed duplicates of folded batches
    * filter out here — the exactly-once boundary); null when the live
    * segment does not exist, i.e. nothing is pending.
    */
  def pendingLog(spark: SparkSession, tableDir: String): DataFrame = {
    val wm = watermark(spark, tableDir)
    val live = segment(tableDir, wm)
    if (fs(spark, tableDir).exists(live)) slice(spark, live, wm)
    else { segments(spark, tableDir); null } // rejects a flat log
  }

  /** The merge-on-read view: compacted base + pending changes. */
  def view(spark: SparkSession, tableDir: String,
      keyCol: String = "doc_id"): DataFrame = {
    val base = spark.read.parquet(s"$tableDir/base")
    val wm = watermark(spark, tableDir)
    val live = segment(tableDir, wm)
    if (fs(spark, tableDir).exists(live))
      CatalogCompaction.mergeOnRead(base, slice(spark, live, wm), keyCol)
    else segments(spark, tableDir) match {
      case Nil => base
      // nothing pending: the newest folded segment gives the log's types
      case segs => CatalogCompaction.alignToLog(base, spark.read.parquet(
        segs.maxBy(_.getName.stripPrefix("through=").toLong).toString))
    }
  }

  /** Process one micro-batch of change records (data cols + op + seq):
    * append to the live log segment, then compact iff the pending slice
    * reached `threshold` rows (a redelivered record counts once). A
    * threshold ≤ 0 compacts on every batch that leaves anything
    * pending; with nothing pending there is nothing to fold. Returns
    * true when a compaction ran.
    */
  def onBatch(spark: SparkSession, tableDir: String, batch: DataFrame,
      threshold: Long, keyCol: String = "doc_id",
      partitionCol: String = "processing_level"): Boolean = {
    val wm = watermark(spark, tableDir)
    val live = segment(tableDir, wm)
    if (!fs(spark, tableDir).exists(live))
      segments(spark, tableDir) // rejects a flat log
    batch.write.mode("append").parquet(live.toString)
    val pending = slice(spark, live, wm)
    // the trigger check and the watermark candidate in one query
    val sizeAndMax = pending.distinct().agg(count(lit(1)), max("seq")).head()
    val n = sizeAndMax.getLong(0)
    if (n == 0 || n < threshold) return false
    CatalogCompaction.compact(spark, s"$tableDir/base", pending,
      keyCol, partitionCol)
    CatalogIO.writeAtomically(spark, s"$tableDir/$marker",
      sizeAndMax.getLong(1).toString.getBytes("UTF-8"))
    true
  }

  /** Mid-stream VACUUM — the triad's third leg running INSIDE the
    * stream loop: process one micro-batch of DATED change records
    * (data cols + op + seq + eff DATE) into a [[CatalogVacuum]]
    * versioned table — append into month segments, and when the
    * pending log (eff beyond the latest snapshot) crosses `threshold`
    * rows, CHECKPOINT at the log's max eff and VACUUM with
    * `retentionDays`. A threshold ≤ 0 runs maintenance on every batch
    * that leaves anything pending; a batch with nothing pending has
    * nothing to checkpoint and runs none. Returns the vacuum stats
    * when maintenance ran.
    *
    * Replay safety ACROSS the vacuum (StreamingSpec family #18): a
    * replayed batch re-appends duplicate records — the (eff, seq)
    * fold is idempotent by value, so retained reads never change; if
    * the replay RECREATES an already-vacuumed month, that segment's
    * row count no longer matches any snapshot's coverage receipt, so
    * the next vacuum provably KEEPS it (no deletion without proof of
    * folding) until a fresh checkpoint covers it. The receipt
    * protocol (CatalogVacuum scaladoc) is exactly what makes vacuum
    * safe under at-least-once delivery — no append-order or
    * no-replay precondition on the stream.
    */
  def onVersionedBatch(spark: SparkSession, tablePath: String,
      batch: DataFrame, threshold: Long, retentionDays: Int,
      keyCol: String = "doc_id"): Option[CatalogVacuum.VacuumStats] = {
    CatalogVacuum.appendLog(spark, tablePath, batch)
    val snaps = CatalogVacuum.snapshots(spark, tablePath)
    require(snaps.nonEmpty,
      s"CatalogVacuum.init the table at $tablePath before streaming")
    // the trigger count (duplicates from replayed batches count once)
    // and the checkpoint watermark in one aggregate over the pending
    // slice: when anything is pending its max eff is the whole log's,
    // since every other record has eff ≤ the latest snapshot
    val pending = spark.read.parquet(s"$tablePath/log")
      .where(col("eff") > to_date(lit(snaps.max)))
      .distinct()
      .agg(count(lit(1)), max(date_format(col("eff"), "yyyy-MM-dd")))
      .head()
    val n = pending.getLong(0)
    if (n == 0 || n < threshold) None
    else {
      CatalogVacuum.checkpoint(spark, tablePath, pending.getString(1), keyCol)
      Some(CatalogVacuum.vacuum(spark, tablePath, retentionDays))
    }
  }
}
