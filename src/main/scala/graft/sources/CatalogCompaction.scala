package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ParquetFiles

/** Catalog compaction: fold the append-only CDC change log back into
  * the partitioned parquet base.
  *
  * The reference's store updates records IN PLACE (`store.indexed`
  * amends Job.state + history — /root/reference/reactor.py:136); a
  * parquet catalog can't, so writers APPEND change records and readers
  * apply the merge-on-read view ([[mergeOnRead]], the same fold as
  * `EventStream.cdcState` / the #238 `cdc_merge_apply` operator). That
  * view re-pays the merge on every read; this module is the maintenance
  * job that pays it ONCE — rewrite exactly the partitions the log
  * touches to their merged state, bound output file sizes, and leave
  * every untouched partition's files byte-identical (zero IO outside
  * the touched set).
  *
  * Change-log contract: the log carries the base's data columns plus
  * `op` ("upsert" | "delete") and a monotone `seq`. `(key, seq)` is
  * unique by construction; at-least-once delivery repeats the SAME
  * record, so the fold's `row_number` over `(key, seq desc)` keeps one
  * of a redelivered record's identical copies — no separate
  * `distinct()` (a shuffle) is needed for exactly-once.
  *
  * Scale:
  *   - Touched-partition discovery is one key-projected scan of the
  *     base (column-pruned to key + partition) semi-joined against the
  *     log's key set — the log is change-sized, so the semi-join
  *     broadcast-gates; partition stats / bloom indexes would skip even
  *     that scan, noted below.
  *   - Only touched partitions are read in full, and they are written
  *     ONCE: into a `.compact-staging` sibling of the base, then
  *     swapped in per partition by directory rename.
  *   - File sizing: the HARD cap is the writer's `maxRecordsPerFile`
  *     (the task rolls to a new file at the bound); the small-file
  *     bound comes from bucketing keys into ~rows/target shuffle
  *     groups, so a huge partition compacts with many parallel tasks,
  *     not one. The row estimate is an upper bound read from metadata:
  *     the touched base files' footer row counts plus the pending
  *     upserts.
  *   - Jobs per run: the touched-partition collect (it also counts the
  *     pending upserts per partition) and the staging write. Row counts
  *     and surviving partitions come from the staging listing and its
  *     footers, read on the driver. An empty log touches nothing and
  *     stops after the collect; no separate emptiness probe runs
  *     before it.
  */
object CatalogCompaction {

  /** What a compaction run did — the audit record a maintenance
    * scheduler logs.
    */
  final case class CompactStats(
      touchedPartitions: Seq[String],
      removedPartitions: Seq[String],
      rowsWritten: Long)

  private val metaCols = Seq("op", "seq")

  /** Base columns cast to the log's types: a parquet read-back infers
    * partition-directory values (processing_level=1 comes back INT
    * where the log carries the STRING "1") — the log's record schema
    * is the contract, so the base aligns to it before any union.
    */
  private[graft] def alignToLog(base: DataFrame, log: DataFrame): DataFrame = {
    val logTypes = log.schema.fields.map(f => f.name -> f.dataType).toMap
    base.select(base.schema.fields.map { f =>
      col(f.name).cast(logTypes.getOrElse(f.name, f.dataType)).as(f.name)
    }.toSeq: _*)
  }

  /** Merge-on-read: base rows rank below every log record (seq -1);
    * the latest seq per key wins; keys whose latest op is a delete
    * drop. One key-partitioned window — the same shape as
    * `EventStream.cdcState`; a redelivered record's identical copies
    * tie on `(key, seq)` and the window keeps one of them.
    */
  def mergeOnRead(base: DataFrame, log: DataFrame, keyCol: String): DataFrame = {
    val aligned = alignToLog(base, log)
    val dataCols = aligned.columns.toSeq
    val asLog = aligned
      .withColumn("op", lit("upsert"))
      .withColumn("seq", lit(-1L))
    val w = Window.partitionBy(keyCol).orderBy(desc("seq"))
    asLog.unionByName(log.select((dataCols ++ metaCols).map(col): _*))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1 && col("op") =!= "delete")
      .select(dataCols.map(col): _*)
  }

  /** Fold `log` into the partitioned parquet base at `basePath`.
    *
    * Rewrites ONLY the partitions the log touches: where affected keys
    * currently live (a key-projected semi-join against the base — a
    * level-move must vacate its old partition) plus where upserts land.
    * Partitions left empty by deletes are removed. Re-running with the
    * same log is idempotent (the merged state is already the base's
    * state); running with an empty log rewrites nothing. `log` may hold
    * redelivered copies of a record.
    *
    * The merged touched partitions are written once, to a
    * `.compact-staging` sibling of the base, before the base is
    * touched: the write's input lineage reads the very files the swap
    * replaces, and a cache()+count() pin is only a hint — if cached
    * blocks were evicted or an executor died after the swap,
    * recomputation would re-read deleted files. The durable staging
    * copy cuts the lineage at a real file boundary (the same reason
    * Delta/Iceberg never rewrite in place), and being a SIBLING no read
    * of the base ever lists it.
    *
    * The swap then takes each touched partition in turn: delete the
    * base's directory, rename the staged one into its place (or leave
    * it deleted when no row survived). These are the steps of Spark's
    * dynamic partition overwrite commit, and they share its window: a
    * reader listing the base between one partition's delete and its
    * rename sees that partition empty, and a run that stops there
    * (the process dies, or a delete or rename fails) leaves the staged
    * directory as the partition's only copy, so a failed swap keeps the
    * staging copy; a failure before the swap starts deletes it. The
    * next run therefore starts by renaming back every partition of a
    * committed (`_SUCCESS`) stale staging copy whose base directory is
    * missing, then deletes the rest of it; a staging copy whose write
    * never committed is deleted unread. Base partitions the stopped run
    * had not swapped yet keep their old rows, which the pending log
    * (still unfolded: `CompactionLoop` advances its watermark only
    * after this returns) overrides on read and on the next fold.
    */
  def compact(spark: SparkSession, basePath: String, log: DataFrame,
      keyCol: String = "doc_id",
      partitionCol: String = "processing_level",
      targetRowsPerFile: Long = 1000000L): CompactStats = {
    val fs = new Path(basePath).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def rename(src: Path, dst: Path): Unit =
      if (!fs.rename(src, dst))
        throw new IllegalStateException(s"rename $src -> $dst failed")
    def delete(p: Path): Unit =
      if (!fs.delete(p, true) && fs.exists(p))
        throw new IllegalStateException(s"delete $p failed")
    // finish a stopped run's swap before the base is listed
    val staging = new Path(basePath + ".compact-staging")
    if (fs.exists(new Path(staging, "_SUCCESS")))
      fs.listStatus(staging).map(_.getPath)
        .filter(_.getName.startsWith(s"$partitionCol="))
        .foreach { src =>
          val dst = new Path(basePath, src.getName)
          if (!fs.exists(dst)) rename(src, dst)
        }
    fs.delete(staging, true)

    val base = alignToLog(spark.read.parquet(basePath), log)
    // partitions holding a changed key today (column-pruned scan: only
    // key + partition columns are read; a production catalog with
    // partition-level key stats or bloom filters skips the scan) and
    // partitions upserts land in, with each one's upsert count (an
    // upper bound: redelivered copies count again). No separate
    // emptiness probe: an empty log touches no partition and returns
    // below, before anything is written
    val oldParts = base.select(col(keyCol), col(partitionCol))
      .join(log.select(col(keyCol)), Seq(keyCol), "left_semi")
      .select(col(partitionCol), lit(0L).as("ups"))
    val newParts = log.where(col("op") === "upsert")
      .select(col(partitionCol), lit(1L).as("ups"))
    val perPart = oldParts.unionByName(newParts)
      .groupBy(col(partitionCol)).agg(sum("ups"))
      .collect().map(r => r.get(0).toString -> r.getLong(1))
    val touched = perPart.map(_._1).sorted.toSeq
    if (touched.isEmpty) return CompactStats(Nil, Nil, 0L)

    def dir(root: String, v: String) = new Path(root,
      ExternalCatalogUtils.getPartitionPathString(partitionCol, v))
    val rowBound = touched.map(v =>
      ParquetFiles.rowCount(spark, dir(basePath, v).toString)).sum +
      perPart.map(_._2).sum
    val merged = mergeOnRead(
      base.where(col(partitionCol).isin(touched: _*)), log, keyCol)
    // until the swap starts the base is untouched, so a failure drops
    // the staging copy
    val (survived, removed, rowsWritten) = try {
      writeCompacted(merged, staging.toString, partitionCol, rowBound,
        targetRowsPerFile)
      val (survived, removed) =
        touched.partition(v => fs.exists(dir(staging.toString, v)))
      (survived, removed, survived.map(v =>
        ParquetFiles.rowCount(spark, dir(staging.toString, v).toString)).sum)
    } catch { case e: Throwable => fs.delete(staging, true); throw e }
    // from the first delete on, a staged directory may be its
    // partition's only copy: a failure leaves the staging copy for the
    // next run's rename-back
    touched.foreach { v =>
      delete(dir(basePath, v))
      if (survived.contains(v))
        rename(dir(staging.toString, v), dir(basePath, v))
    }
    fs.delete(staging, true)
    CompactStats(touched, removed, rowsWritten)
  }

  /** Write the merged state of the touched partitions, partitioned by
    * `partitionCol`, with bounded files: keys bucket into
    * ~rows/target shuffle groups (parallel tasks inside one big
    * partition), `maxRecordsPerFile` is the hard per-file cap.
    */
  private def writeCompacted(merged: DataFrame, path: String,
      partitionCol: String, rows: Long, targetRowsPerFile: Long): Unit = {
    val nBuckets = math.max(1L, (rows + targetRowsPerFile - 1) /
      targetRowsPerFile).toInt
    merged
      .withColumn("_bucket",
        pmod(hash(col(partitionCol) :: merged.columns.map(col).toList: _*),
          lit(nBuckets)))
      .repartition(nBuckets, col(partitionCol), col("_bucket"))
      .drop("_bucket")
      .write
      .mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", targetRowsPerFile)
      .partitionBy(partitionCol)
      .parquet(path)
  }
}
