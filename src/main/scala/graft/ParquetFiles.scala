package graft

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}

/** Parquet file listing and footer reading: the metadata plane the
  * layout family (zone maps, row groups, blooms) and the row-count
  * gate read instead of data.
  *
  * Listing.
  *
  * Measured (LAYOUT_decomp_r13.json, this box): Hadoop's
  * LocalFileSystem `fs.listFiles(root, true)` costs ~4 ms per entry —
  * 2.6 s to list a 621-file layout-tree pair — and that listing runs
  * DRIVER-side at plan-build time in every layout_* footer query, so
  * it was the single largest component of the family's amortized
  * cost. A plain NIO walk of the same tree takes ~13 ms. So:
  * local (no scheme / `file:`) paths list via NIO; any other
  * filesystem (HDFS/object stores — e.g. a `spark.graft.cacheRoot`
  * deployment) keeps the Hadoop listing, where the FS client is the
  * only correct interface. Output is sorted, so downstream plans see
  * one deterministic file order regardless of backend (results never
  * depend on it — every consumer keys by file path).
  *
  * Footers. [[withReader]] is the one place a parquet file is opened;
  * [[readEach]] runs it distributed, once per file, on executors. The
  * readers built on it (row-group min/max, blooms) return one row per
  * file or row group: metadata-sized at any data volume.
  */
object ParquetFiles {

  def list(spark: SparkSession, path: String): Seq[String] = {
    val scheme = try java.net.URI.create(path).getScheme catch {
      case _: IllegalArgumentException => null // not a URI: local path
    }
    if (scheme == null || scheme == "file") {
      val local =
        if (scheme == null) path else java.net.URI.create(path).getPath
      val root = java.nio.file.Paths.get(local)
      if (!java.nio.file.Files.exists(root)) Seq.empty
      else {
        val s = java.nio.file.Files.walk(root)
        try {
          import scala.jdk.CollectionConverters._
          // regular files only: the table ROOT is itself a directory
          // named *.parquet, and Hadoop's listFiles never returned it
          s.iterator().asScala
            .filter(p => java.nio.file.Files.isRegularFile(p))
            .map(_.toString)
            .filter(_.endsWith(".parquet")).toVector.sorted
        } finally s.close()
      }
    } else {
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val f = it.next().getPath
        if (f.getName.endsWith(".parquet")) buf += f.toString
      }
      buf.toVector.sorted
    }
  }

  /** Open `path`'s parquet footer, run `read`, and close the file.
    * `read` must return a strict value: the reader is closed after it.
    */
  def withReader[T](path: String, conf: Configuration)(
      read: ParquetFileReader => T): T = {
    val reader = ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), conf))
    try read(reader) finally reader.close()
  }

  /** Rows in the parquet files under `path`, summed from their footers
    * on the driver (zero when `path` does not exist).
    */
  def rowCount(spark: SparkSession, path: String): Long = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    list(spark, path).map(withReader(_, conf)(
      _.getFooter.getBlocks.asScala.map(_.getRowCount).sum)).sum
  }

  /** Run `read` over each item's file on executors (at most 32 tasks):
    * the listing stays driver-side, footer decoding is distributed.
    */
  def readEach[A: Encoder, T: Encoder](spark: SparkSession, items: Seq[A])(
      path: A => String)(read: (A, ParquetFileReader) => Seq[T]): Dataset[T] = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    spark.createDataset(items)
      .repartition(math.max(1, math.min(items.size, 32)))
      .mapPartitions(_.flatMap(a =>
        withReader(path(a), conf.value)(read(a, _))))
  }

  /** Per-(file, ROW GROUP, stat column) min/max/count of integer
    * columns read from REAL parquet footers under `path`: one row per
    * (data file, row-group ordinal, column in `statCols`). Row groups
    * are the unit parquet actually skips at (a reader can drop a row
    * group of a file it must otherwise open); per-file stats are folds
    * of these rows.
    */
  def readFooterRowGroupStats(spark: SparkSession, path: String,
      statCols: String*): DataFrame = {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val colsB = statCols.toList
    readEach(spark, list(spark, path))(identity) { (p, reader) =>
      reader.getFooter.getBlocks.asScala.toSeq.zipWithIndex.flatMap {
        case (b, i) => colsB.map { c =>
          val st = chunk(b, c, p).getStatistics
          (p, i, c,
            st.genericGetMin.asInstanceOf[java.lang.Long].longValue,
            st.genericGetMax.asInstanceOf[java.lang.Long].longValue,
            b.getRowCount)
        }
      }
    }.toDF("path", "rg_idx", "stat_col", "min_v", "max_v", "n_rows")
  }

  /** Per-(file, probe-key) skipping audit off REAL parquet footers:
    * for every data file under `path` and every key in `keys`, read
    * the `statCol` column chunk's [min,max] (zone-map verdict:
    * `zm_hit` — would a min/max index have to read this file?) AND
    * its serialized BLOOM FILTER (point-index verdict: `bloom_hit` —
    * does the bloom say the key may be present in ANY row group?).
    * `has_bloom` reports whether the writer actually emitted a bloom
    * for every row group; a missing bloom degrades to a conservative
    * must-read (`bloom_hit` = true), never a false skip — the same
    * no-false-negative contract the pruned-scan executors rely on.
    * A bloom is KBs per row group at any data volume.
    */
  def readFooterBloomAudit(spark: SparkSession, path: String,
      statCol: String, keys: Seq[Long]): DataFrame = {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    readEach(spark, list(spark, path))(identity) { (p, reader) =>
      val per = reader.getFooter.getBlocks.asScala.toSeq.map { b =>
        val cc = chunk(b, statCol, p)
        val st = cc.getStatistics
        val bf = reader.getBloomFilterDataReader(b).readBloomFilter(cc)
        (st.genericGetMin.asInstanceOf[java.lang.Long].longValue,
          st.genericGetMax.asInstanceOf[java.lang.Long].longValue,
          Option(bf))
      }
      val hasBloom = per.forall(_._3.isDefined)
      keys.map { k =>
        val zm = per.exists(t => t._1 <= k && k <= t._2)
        val bh = per.exists(t => t._3 match {
          case Some(bf) => bf.findHash(bf.hash(k))
          case None => true // no bloom => conservative must-read
        })
        (p, k, zm, bh, hasBloom)
      }
    }.toDF("path", "k", "zm_hit", "bloom_hit", "has_bloom")
  }

  private def chunk(b: org.apache.parquet.hadoop.metadata.BlockMetaData,
      c: String, p: String) = {
    import scala.jdk.CollectionConverters._
    b.getColumns.asScala.find(_.getPath.toDotString == c).getOrElse(
      throw new IllegalStateException(s"no '$c' column chunk in $p"))
  }
}
