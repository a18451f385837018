package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Sources and sinks for the catalog pipeline.
  *
  * The reference consumes JSON index messages and writes catalog
  * records to a store; Spark-side that is: schema-enforced semi-
  * structured readers (explicit schema — NEVER runtime inference, which
  * costs an extra full scan and can drift between runs) and a
  * partitioned parquet catalog sink whose layout makes the common
  * discovery predicates partition-prunable.
  */
object CatalogIO {

  /** JSON lines with a required schema. Malformed records are captured
    * in `_corrupt` instead of killing the job (PERMISSIVE) — at 100 TB
    * there WILL be bad records and a failed 6-hour job is the wrong
    * failure mode.
    */
  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema.add("_corrupt", "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)

  /** Streaming twin of [[readJson]]: the same explicit schema and
    * per-row corrupt-capture over a directory being fed new files.
    */
  def readStreamJson(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.readStream
      .schema(schema.add("_corrupt", "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)

  /** CSV with a required schema; header tolerated, malformed captured. */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): DataFrame =
    spark.read
      .schema(schema.add("_corrupt", "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .option("header", header.toString)
      .csv(path)

  /** ORC with a required schema — the other columnar interchange format
    * a catalog ingests from warehouse exports. Schema is enforced the
    * same way as the parquet path (explicit, never inferred); ORC has
    * no per-row corrupt capture (columnar formats fail at the stripe,
    * not the row — a torn file surfaces as a read error, which is the
    * correct failure mode for a corrupted columnar container).
    */
  def readOrc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** ORC twin of [[writeCatalog]]'s layout discipline for exports
    * consumed by ORC-first warehouses: same partition pruning, same
    * pre-write repartition bound on files-per-partition.
    */
  def writeOrc(records: DataFrame, path: String,
      partitionCols: Seq[String] = Seq("processing_level")): Unit =
    records
      .repartition(partitionCols.map(records.col): _*)
      .write
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .orc(path)

  /** Raw media ingestion: every file under `path` (optionally filtered
    * by a glob) as one row of (path, modificationTime, length,
    * content BINARY) — the entry point that turns an archive directory
    * into the multimodal family's binary-payload column without any
    * driver-side listing loop. Spark's binaryFile source distributes
    * the read; `maxBytesPerFile` guards against a single giant blob
    * landing in one task's memory.
    */
  def readBinaryFiles(spark: SparkSession, path: String,
      globFilter: Option[String] = None): DataFrame = {
    val r = spark.read.format("binaryFile")
    globFilter.fold(r)(g => r.option("pathGlobFilter", g)).load(path)
  }

  /** Catalog sink: parquet partitioned by the discovery keys, so
    * `level = …` / `source = …` queries prune whole directories at the
    * file listing, before any IO. Files-per-partition is bounded by a
    * pre-write repartition on the partition keys (without it, every
    * task writes a file into every partition — the classic
    * small-files explosion at cluster scale).
    */
  def writeCatalog(records: DataFrame, path: String,
      partitionCols: Seq[String] = Seq("processing_level")): Unit =
    records
      .repartition(partitionCols.map(records.col): _*)
      .write
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Write one small driver-side file so that readers listing its
    * directory see all of it or none of it: the bytes go to a hidden
    * `.<name>.tmp` sibling (Spark's readers skip `.`/`_` names), which
    * is then renamed over `dest`. The rename replaces an existing
    * `dest` by delete-then-rename, because a Hadoop rename onto an
    * existing file fails.
    */
  def writeAtomically(spark: SparkSession, dest: String,
      bytes: Array[Byte]): Unit = {
    val target = new Path(dest)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(target.getParent, s".${target.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    fs.delete(target, false)
    if (!fs.rename(tmp, target))
      throw new IllegalStateException(s"rename $tmp -> $target failed")
  }

  /** The UTF-8 text of a small marker file (one written by
    * [[writeAtomically]]); None when it does not exist.
    */
  def readMarker(spark: SparkSession, path: String): Option[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }
  }
}
