package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.sources.{CatalogCompaction, CatalogIO}

/** The maintenance half of the catalog's update story: physical
  * compaction must equal the merge-on-read view, be idempotent, bound
  * file sizes, and never touch partitions the log doesn't.
  */
class CatalogCompactionSpec extends GraftSpec {

  /** A documents-shaped catalog base: 60 records across 3 levels. */
  private def baseRecords = {
    val s = spark
    import s.implicits._
    (0L until 60L).map { i =>
      (i, s"src${i % 4}/f$i.txt", 100L + i, (i % 3 + 1).toString, "jobA")
    }.toDF("doc_id", "path", "n_chars", "processing_level", "generated_by")
  }

  /** Change log: content update (doc 3), level move 1→3 (doc 6),
    * delete (doc 9), insert (doc 100 at level 2), and a superseded
    * earlier update of doc 3 (seq 1 < seq 5) that must lose.
    */
  private def changeLog = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, 3L, "src3/f3.txt", 999L, "1", "jobB", "upsert"),
      (5L, 3L, "src3/f3.txt", 103L, "1", "jobC", "upsert"),
      (2L, 6L, "src2/f6.txt", 106L, "3", "jobB", "upsert"),
      (3L, 9L, "src1/f9.txt", 109L, "1", "jobB", "delete"),
      (4L, 100L, "src0/f100.txt", 200L, "2", "jobB", "upsert")
    ).toDF("seq", "doc_id", "path", "n_chars", "processing_level",
      "generated_by", "op")
      .select("doc_id", "path", "n_chars", "processing_level",
        "generated_by", "op", "seq")
  }

  // processing_level normalizes to string: a parquet read-back infers
  // the partition-directory value as INT
  private def stateOf(df: DataFrame): Set[Row] =
    df.select(col("doc_id"), col("path"), col("n_chars"),
      col("processing_level").cast("string").as("processing_level"),
      col("generated_by")).collect().toSet

  test("compacted base == merge-on-read view; level moves vacate the " +
      "old partition; deletes drop; latest seq wins") {
    val dir = Files.createTempDirectory("graft_compact").toString
    CatalogIO.writeCatalog(baseRecords, dir)
    val before = spark.read.parquet(dir)
    val expected = stateOf(
      CatalogCompaction.mergeOnRead(before, changeLog, "doc_id"))

    val stats = CatalogCompaction.compact(spark, dir, changeLog,
      targetRowsPerFile = 8L)
    val after = spark.read.parquet(dir)

    assert(stateOf(after) == expected)
    // doc 3: the seq-5 update won, not the superseded seq-1 one
    assert(after.where(col("doc_id") === 3L).collect()
      .map(r => (r.getAs[Long]("n_chars"), r.getAs[String]("generated_by")))
      .toSeq == Seq((103L, "jobC")))
    // doc 6 moved 1→3: gone from level 1, present at level 3
    assert(after.where(col("doc_id") === 6L)
      .select(col("processing_level").cast("string"))
      .collect().map(_.getString(0)).toSeq == Seq("3"))
    // doc 9 deleted, doc 100 inserted at level 2
    assert(after.where(col("doc_id") === 9L).count() == 0)
    assert(after.where(col("doc_id") === 100L)
      .select(col("processing_level").cast("string"))
      .head().getString(0) == "2")
    // every level held an affected key (move/update/delete/insert),
    // so all three were touched; none emptied
    assert(stats.touchedPartitions == Seq("1", "2", "3"))
    assert(stats.removedPartitions.isEmpty)
  }

  test("compaction is idempotent: empty log is a no-op, replaying the " +
      "folded log leaves the state fixed") {
    val dir = Files.createTempDirectory("graft_compact_idem").toString
    CatalogIO.writeCatalog(baseRecords, dir)
    CatalogCompaction.compact(spark, dir, changeLog,
      targetRowsPerFile = 8L)
    val once = stateOf(spark.read.parquet(dir))

    // empty log: nothing rewritten at all
    val emptyStats = CatalogCompaction.compact(spark, dir,
      changeLog.limit(0), targetRowsPerFile = 8L)
    assert(emptyStats.touchedPartitions.isEmpty &&
      emptyStats.rowsWritten == 0L)
    assert(stateOf(spark.read.parquet(dir)) == once)

    // replaying the already-folded log (at-least-once delivery of the
    // whole batch): rewrites happen but the state is a fixpoint
    CatalogCompaction.compact(spark, dir, changeLog,
      targetRowsPerFile = 8L)
    assert(stateOf(spark.read.parquet(dir)) == once)
  }

  test("untouched partitions keep their files byte-identical; touched " +
      "partitions respect the per-file row cap") {
    val dir = Files.createTempDirectory("graft_compact_files").toString
    CatalogIO.writeCatalog(baseRecords, dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def files(level: String) =
      fs.listStatus(new org.apache.hadoop.fs.Path(
          dir, s"processing_level=$level"))
        .filter(_.getPath.getName.startsWith("part-"))
        .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
        .sortBy(_._1).toSeq
    val level3Before = files("3")

    // log touching ONLY levels 1 and 2 (update + insert, no moves)
    val s = spark
    import s.implicits._
    val log12 = Seq(
      (1L, 0L, "src0/f0.txt", 555L, "1", "jobB", "upsert"),
      (2L, 200L, "src0/f200.txt", 300L, "2", "jobB", "upsert")
    ).toDF("seq", "doc_id", "path", "n_chars", "processing_level",
      "generated_by", "op")
      .select("doc_id", "path", "n_chars", "processing_level",
        "generated_by", "op", "seq")
    val stats = CatalogCompaction.compact(spark, dir, log12,
      targetRowsPerFile = 8L)
    assert(stats.touchedPartitions == Seq("1", "2"))
    // the swap never rewrote level 3
    assert(files("3") == level3Before)
    // hard cap: no file in a rewritten partition exceeds the target
    Seq("1", "2").foreach { lvl =>
      files(lvl).foreach { case (name, _, _) =>
        val n = spark.read.parquet(
          s"$dir/processing_level=$lvl/$name").count()
        assert(n <= 8L, s"file $name in level $lvl has $n rows")
      }
    }
  }

  test("deletes that empty a partition remove its directory") {
    val dir = Files.createTempDirectory("graft_compact_rm").toString
    CatalogIO.writeCatalog(baseRecords, dir)
    val s = spark
    import s.implicits._
    // level 2 holds doc_ids ≡ 1 mod 3 — delete every one of them
    val delAll = (0L until 60L).filter(_ % 3 == 1).zipWithIndex.map {
      case (id, i) =>
        (i.toLong, id, s"src${id % 4}/f$id.txt", 100L + id, "2", "jobA",
          "delete")
    }.toDF("seq", "doc_id", "path", "n_chars", "processing_level",
      "generated_by", "op")
      .select("doc_id", "path", "n_chars", "processing_level",
        "generated_by", "op", "seq")
    val stats = CatalogCompaction.compact(spark, dir, delAll,
      targetRowsPerFile = 8L)
    assert(stats.removedPartitions == Seq("2"))
    val after = spark.read.parquet(dir)
    assert(after.where(col("processing_level") === "2").count() == 0)
    assert(after.count() == 40)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      dir, "processing_level=2")))
  }
}
