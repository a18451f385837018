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
  * Layout under one `tableDir`: `base/` (partitioned parquet, the
  * compacted state), `log/` (append-only change parquet),
  * `_compacted_through` (the watermark marker, written atomically via
  * tmp+rename by `CatalogIO.writeAtomically`).
  *
  * Scale: the trigger check is one aggregate query over the pending
  * slice that returns its row count and its max `seq` (the watermark
  * candidate) together (a production loop keeps the pending count in
  * streaming state and skips even that); compaction cost is
  * CatalogCompaction's touched-partitions-only rewrite.
  */
object CompactionLoop {

  private val marker = "_compacted_through"

  private def fs(spark: SparkSession, tableDir: String) =
    new Path(tableDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

  /** Highest seq folded into the base; -1 before the first compaction. */
  def watermark(spark: SparkSession, tableDir: String): Long = {
    val f = fs(spark, tableDir)
    val p = new Path(tableDir, marker)
    if (!f.exists(p)) -1L
    else {
      val in = f.open(p)
      try scala.io.Source.fromInputStream(in).mkString.trim.toLong
      finally in.close()
    }
  }

  /** Change records not yet folded into the base (replayed duplicates
    * of folded batches filter out here — the exactly-once boundary).
    */
  def pendingLog(spark: SparkSession, tableDir: String): DataFrame = {
    val f = fs(spark, tableDir)
    if (!f.exists(new Path(s"$tableDir/log"))) return null
    spark.read.parquet(s"$tableDir/log")
      .where(col("seq") > watermark(spark, tableDir))
  }

  /** The merge-on-read view: compacted base + pending changes. */
  def view(spark: SparkSession, tableDir: String,
      keyCol: String = "doc_id"): DataFrame = {
    val base = spark.read.parquet(s"$tableDir/base")
    val pending = pendingLog(spark, tableDir)
    if (pending == null) base
    else CatalogCompaction.mergeOnRead(base, pending, keyCol)
  }

  /** Process one micro-batch of change records (data cols + op + seq):
    * append to the log, then compact iff the pending slice reached
    * `threshold` rows. Returns true when a compaction ran.
    */
  def onBatch(spark: SparkSession, tableDir: String, batch: DataFrame,
      threshold: Long, keyCol: String = "doc_id",
      partitionCol: String = "processing_level"): Boolean = {
    batch.write.mode("append").parquet(s"$tableDir/log")
    val pending = pendingLog(spark, tableDir)
    val pendingD = pending.distinct()
    // the trigger check and the watermark candidate in one query
    val sizeAndMax = pendingD.agg(count(lit(1)), max("seq")).head()
    if (sizeAndMax.getLong(0) < threshold) return false
    val maxSeq = sizeAndMax.getLong(1)
    CatalogCompaction.compact(spark, s"$tableDir/base", pendingD,
      keyCol, partitionCol)
    CatalogIO.writeAtomically(spark, s"$tableDir/$marker",
      maxSeq.toString.getBytes("UTF-8"))
    true
  }

  /** Mid-stream VACUUM — the triad's third leg running INSIDE the
    * stream loop: process one micro-batch of DATED change records
    * (data cols + op + seq + eff DATE) into a [[CatalogVacuum]]
    * versioned table — append into month segments, and when the
    * pending log (eff beyond the latest snapshot) crosses `threshold`
    * rows, CHECKPOINT at the log's max eff and VACUUM with
    * `retentionDays`. Returns the vacuum stats when maintenance ran.
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
    val latest = snaps.max
    val log = spark.read.parquet(s"$tablePath/log")
    // duplicates from replayed batches count once toward the trigger
    val pending = log.where(col("eff") > to_date(lit(latest)))
      .distinct().count()
    if (pending < threshold) None
    else {
      val wm = log.agg(max(date_format(col("eff"), "yyyy-MM-dd")))
        .head().getString(0)
      CatalogVacuum.checkpoint(spark, tablePath, wm, keyCol)
      Some(CatalogVacuum.vacuum(spark, tablePath, retentionDays))
    }
  }
}
