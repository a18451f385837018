package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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
  * record, so one `distinct()` restores exactly-once (the
  * IncrementalIndexer redelivery argument).
  *
  * Scale:
  *   - Touched-partition discovery is one key-projected scan of the
  *     base (column-pruned to key + partition) semi-joined against the
  *     log's key set — the log is change-sized, so the semi-join
  *     broadcast-gates; partition stats / bloom indexes would skip even
  *     that scan, noted below.
  *   - Only touched partitions are read in full and rewritten; the
  *     write uses dynamic partition overwrite so concurrent readers of
  *     untouched partitions never see a hole.
  *   - File sizing: the HARD cap is the writer's `maxRecordsPerFile`
  *     (the task rolls to a new file at the bound); the small-file
  *     bound comes from bucketing keys into ~rows/target shuffle
  *     groups, so a huge partition compacts with many parallel tasks,
  *     not one.
  *   - Jobs per run: the touched-partition collect, the staging write,
  *     one aggregate over the staged copy (surviving partitions and
  *     the row count that sizes the buckets, together) and the
  *     overwrite. An empty log touches nothing and stops after the
  *     first; no separate emptiness probe runs before it.
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
  private def alignToLog(base: DataFrame, log: DataFrame): DataFrame = {
    val logTypes = log.schema.fields.map(f => f.name -> f.dataType).toMap
    base.select(base.schema.fields.map { f =>
      col(f.name).cast(logTypes.getOrElse(f.name, f.dataType)).as(f.name)
    }.toSeq: _*)
  }

  /** Merge-on-read: base rows rank below every log record (seq -1);
    * the latest seq per key wins; keys whose latest op is a delete
    * drop. One distinct (redelivery collapse) + one key-partitioned
    * window — the same shape as `EventStream.cdcState`.
    */
  def mergeOnRead(base: DataFrame, log: DataFrame, keyCol: String): DataFrame = {
    val aligned = alignToLog(base, log)
    val dataCols = aligned.columns.toSeq
    val asLog = aligned
      .withColumn("op", lit("upsert"))
      .withColumn("seq", lit(-1L))
    val w = Window.partitionBy(keyCol).orderBy(desc("seq"))
    asLog.unionByName(log.distinct().select(
        (dataCols ++ metaCols).map(col): _*))
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
    * state); running with an empty log rewrites nothing.
    */
  def compact(spark: SparkSession, basePath: String, log: DataFrame,
      keyCol: String = "doc_id",
      partitionCol: String = "processing_level",
      targetRowsPerFile: Long = 1000000L): CompactStats = {
    // no separate emptiness probe: an empty log touches no partition
    // and returns below, before anything is written
    val logD = log.distinct()
    val base = alignToLog(spark.read.parquet(basePath), logD)
    // partitions holding a changed key today (column-pruned scan: only
    // key + partition columns are read; a production catalog with
    // partition-level key stats or bloom filters skips the scan)
    val logKeys = logD.select(col(keyCol)).distinct()
    val oldParts = base.select(col(keyCol), col(partitionCol))
      .join(logKeys, Seq(keyCol), "left_semi")
      .select(col(partitionCol))
    // partitions upserts land in
    val newParts = logD.where(col("op") === "upsert")
      .select(col(partitionCol))
    val touched = oldParts.unionByName(newParts).distinct()
      .collect().map(_.get(0).toString).sorted.toSeq
    if (touched.isEmpty) return CompactStats(Nil, Nil, 0L)

    val baseTouched = base.where(col(partitionCol).isin(touched: _*))
    val merged = mergeOnRead(baseTouched, logD, keyCol)

    // Materialize the merged state to a STAGING path before touching
    // the base: the overwrite's input lineage reads the very files the
    // overwrite replaces, and a cache()+count() pin is only a hint —
    // if cached blocks are evicted or an executor dies after the
    // commit, recomputation would re-read overwritten/deleted files
    // and corrupt the rewrite on a multi-node cluster. A durable
    // staging copy cuts the lineage at a real file boundary (the same
    // reason Delta/Iceberg never rewrite in place). The staging dir is
    // a SIBLING of basePath so no read of the base ever lists it.
    val fs = new Path(basePath).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val staging = new Path(basePath + ".compact-staging")
    fs.delete(staging, true)
    try {
      merged.write.mode(SaveMode.Overwrite).parquet(staging.toString)
      val staged = spark.read.parquet(staging.toString)

      // one aggregate gives both the surviving partitions and the row
      // count that sizes the buckets. A touched partition with no
      // surviving rows is not present in the dynamic overwrite's
      // output — remove its directory explicitly
      val perPart = staged.groupBy(col(partitionCol)).count().collect()
      val survivingParts = perPart.map(_.get(0).toString).toSet
      val removed = touched.filterNot(survivingParts)
      val rowsWritten = perPart.map(_.getLong(1)).sum

      writeCompacted(staged, basePath, partitionCol, rowsWritten,
        targetRowsPerFile)

      removed.foreach { v =>
        fs.delete(new Path(basePath, s"$partitionCol=$v"), true)
      }
      CompactStats(touched, removed, rowsWritten)
    } finally fs.delete(staging, true)
  }

  /** Write the merged state of the touched partitions with dynamic
    * partition overwrite and bounded files: keys bucket into
    * ~rows/target shuffle groups (parallel tasks inside one big
    * partition), `maxRecordsPerFile` is the hard per-file cap.
    */
  private def writeCompacted(staged: DataFrame, basePath: String,
      partitionCol: String, rows: Long, targetRowsPerFile: Long): Unit = {
    // `staged` is a parquet read of the staging copy, so the overwrite
    // below re-reads durable files — no cache pin needed
    val nBuckets = math.max(1L, (rows + targetRowsPerFile - 1) /
      targetRowsPerFile).toInt
    staged
      .withColumn("_bucket",
        pmod(hash(col(partitionCol) :: staged.columns.map(col).toList: _*),
          lit(nBuckets)))
      .repartition(nBuckets, col(partitionCol), col("_bucket"))
      .drop("_bucket")
      .write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .option("maxRecordsPerFile", targetRowsPerFile)
      .partitionBy(partitionCol)
      .parquet(basePath)
  }
}
