package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import graft.sources.{CatalogCompaction, CatalogIO}
import graft.streaming.CompactionLoop
import graft.streaming.EventStream.CatRec

/** `CompactionLoop` under at-least-once delivery: the merge-on-read view
  * against a plain-Scala exactly-once fold, the crash windows between
  * its steps, the live-segment layout, and the Spark jobs each step
  * costs.
  */
class CompactionLoopSpec extends GraftSpec with AdaptiveSparkPlanHelper {

  /** (doc_id, n_chars, processing_level) */
  private type Doc = (Long, Long, String)

  private def rec(seq: Long, id: Long, chars: Long, lvl: String,
      op: String) =
    CatRec(id, s"src${id % 4}/f$id.txt", chars, lvl, "jobB", op, seq)

  private def newTable(base: Seq[Doc]): String = {
    val sp = spark
    import sp.implicits._
    val dir = Files.createTempDirectory("graft_cloop_spec").toString
    CatalogIO.writeCatalog(
      base.map { case (id, n, l) => (id, s"src${id % 4}/f$id.txt", n, l, "jobA") }
        .toDF("doc_id", "path", "n_chars", "processing_level", "generated_by"),
      s"$dir/base")
    dir
  }

  private def batchDf(b: Seq[CatRec]): DataFrame = {
    val sp = spark
    import sp.implicits._
    b.toDF().select("doc_id", "path", "n_chars", "processing_level",
      "generated_by", "op", "seq")
  }

  /** Exactly-once fold: every distinct delivered record, by seq. */
  private def fold(base: Seq[Doc], delivered: Seq[CatRec]): Set[Doc] = {
    val st = scala.collection.mutable.Map[Long, Doc]()
    base.foreach(d => st(d._1) = d)
    delivered.distinct.sortBy(_.seq).foreach { c =>
      if (c.op == "delete") st.remove(c.doc_id)
      else st(c.doc_id) = (c.doc_id, c.n_chars, c.processing_level)
    }
    st.values.toSet
  }

  private def stateOf(df: DataFrame): Set[Doc] =
    df.select(col("doc_id"), col("n_chars"),
        col("processing_level").cast("string"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  private def viewState(dir: String): Set[Doc] =
    stateOf(CompactionLoop.view(spark, dir))

  private def baseState(dir: String): Set[Doc] =
    stateOf(spark.read.parquet(s"$dir/base"))

  /** Fold whatever is still pending into the base (the watermark is
    * left as is, so this is also the "compacted, marker not written"
    * crash state).
    */
  private def compactPending(dir: String): Unit = {
    val pending = CompactionLoop.pendingLog(spark, dir)
    if (pending != null)
      CatalogCompaction.compact(spark, s"$dir/base", pending)
  }

  // a small key domain, so updates, moves and deletes keep colliding
  private val doc: Gen[Doc] = for {
    id <- Gen.choose(0L, 11L)
    n <- Gen.choose(1L, 500L)
    l <- Gen.oneOf("1", "2", "3")
  } yield (id, n, l)

  private val change: Gen[(Long, Long, String, String)] = for {
    id <- Gen.choose(0L, 11L)
    n <- Gen.choose(1L, 500L)
    l <- Gen.oneOf("1", "2", "3")
    op <- Gen.frequency(3 -> "upsert", 1 -> "delete")
  } yield (id, n, l, op)

  /** A step delivers a new batch (Left: its changes) or redelivers the
    * i-th earlier batch (Right: i modulo the batches so far).
    */
  private val step: Gen[Either[List[(Long, Long, String, String)], Int]] =
    Gen.frequency(
      3 -> Gen.choose(1, 5).flatMap(Gen.listOfN(_, change)).map(Left(_)),
      2 -> Gen.choose(0, 100).map(Right(_)))

  test("view equals the exactly-once fold after every batch under " +
      "redelivery, and the compacted base equals it after the run") {
    val prop = Prop.forAllNoShrink(
        Gen.choose(1, 6).flatMap(Gen.listOfN(_, doc)),
        Gen.choose(1, 7).flatMap(Gen.listOfN(_, step)),
        Gen.choose(1L, 8L)) { (baseDocs, steps, threshold) =>
      val base = baseDocs.groupBy(_._1).values.map(_.head).toSeq
      val dir = newTable(base)
      val batches = scala.collection.mutable.ArrayBuffer[Seq[CatRec]]()
      val delivered = scala.collection.mutable.ArrayBuffer[CatRec]()
      var seq = 0L
      try {
        val perStep = steps.map { s =>
          val b = s match {
            case Right(i) if batches.nonEmpty => batches(i % batches.size)
            case _ =>
              val cs = s.left.toOption.getOrElse(Nil).map {
                case (id, n, l, op) => seq += 1; rec(seq, id, n, l, op)
              }
              batches += cs
              cs
          }
          CompactionLoop.onBatch(spark, dir, batchDf(b), threshold)
          delivered ++= b
          val want = fold(base, delivered.toSeq)
          val got = viewState(dir)
          Prop(got == want) :| s"after ${b.map(_.seq)}: view $got, fold $want"
        }
        compactPending(dir)
        val want = fold(base, delivered.toSeq)
        val got = baseState(dir)
        Prop.all(perStep: _*) &&
          (Prop(got == want) :| s"compacted base $got, fold $want")
      } finally deleteTempLayout(dir)
    }
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(result.passed, Pretty.pretty(result))
  }

  test("mergeOnRead over a log with redelivered copies equals " +
      "mergeOnRead over its distinct") {
    val prop = Prop.forAllNoShrink(
        Gen.choose(1, 6).flatMap(Gen.listOfN(_, doc)),
        Gen.choose(0, 8).flatMap(Gen.listOfN(_, change)),
        Gen.listOf(Gen.choose(0, 100))) { (baseDocs, changes, dups) =>
      val sp = spark
      import sp.implicits._
      val base = baseDocs.groupBy(_._1).values.map(_.head).toSeq
        .toDF("doc_id", "n_chars", "processing_level")
      val log = changes.zipWithIndex.map { case ((id, n, l, op), i) =>
        (id, n, l, op, i.toLong)
      }
      val copies = if (log.isEmpty) Nil else dups.map(i => log(i % log.size))
      def merged(recs: Seq[(Long, Long, String, String, Long)]) = stateOf(
        CatalogCompaction.mergeOnRead(base,
          recs.toDF("doc_id", "n_chars", "processing_level", "op", "seq"),
          "doc_id"))
      val got = merged(log ++ copies)
      val want = merged((log ++ copies).distinct)
      Prop(got == want) :| s"with copies $got, distinct $want"
    }
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(result.passed, Pretty.pretty(result))
  }

  private val base60: Seq[Doc] =
    (0L until 60L).map(i => (i, 100L + i, (i % 3 + 1).toString))
  private val b1 = Seq(rec(1, 3, 999, "1", "upsert"),
    rec(2, 6, 106, "3", "upsert"), rec(3, 9, 109, "1", "delete"),
    rec(4, 12, 212, "1", "upsert"), rec(5, 3, 103, "1", "upsert"))
  private val b2 = Seq(rec(6, 100, 200, "2", "upsert"),
    rec(7, 15, 215, "2", "upsert"), rec(8, 18, 218, "3", "upsert"),
    rec(9, 21, 221, "1", "delete"), rec(10, 12, 312, "2", "upsert"))
  private val b3 = Seq(rec(11, 24, 324, "1", "upsert"),
    rec(12, 3, 403, "1", "upsert"), rec(13, 27, 327, "2", "delete"))

  test("a compaction whose watermark marker was never written: the " +
      "next batch and the view still equal the fold") {
    val dir = newTable(base60)
    try {
      assert(!CompactionLoop.onBatch(spark, dir, batchDf(b1), 100L))
      compactPending(dir)
      assert(CompactionLoop.watermark(spark, dir) == -1L)
      assert(viewState(dir) == fold(base60, b1))
      assert(!CompactionLoop.onBatch(spark, dir, batchDf(b2), 100L))
      assert(viewState(dir) == fold(base60, b1 ++ b2))
      // the next real compaction re-folds the whole segment
      assert(CompactionLoop.onBatch(spark, dir, batchDf(b3), 1L))
      assert(CompactionLoop.watermark(spark, dir) == 13L)
      assert(viewState(dir) == fold(base60, b1 ++ b2 ++ b3))
      assert(baseState(dir) == fold(base60, b1 ++ b2 ++ b3))
    } finally deleteTempLayout(dir)
  }

  test("a stale staging copy from a stopped compaction: the next " +
      "compaction is still correct, and a partition deleted mid-swap " +
      "comes back") {
    val sp = spark
    import sp.implicits._
    val fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
    // stopped before its write committed: junk rows, no _SUCCESS
    val dir = newTable(base60)
    try {
      Seq((7L, "junk", 1L, "9", "jobZ")).toDF("doc_id", "path", "n_chars",
          "processing_level", "generated_by")
        .write.partitionBy("processing_level")
        .parquet(s"$dir/base.compact-staging")
      fs.delete(new Path(s"$dir/base.compact-staging/_SUCCESS"), false)
      assert(CompactionLoop.onBatch(spark, dir, batchDf(b1), 1L))
      assert(baseState(dir) == fold(base60, b1))
      assert(!fs.exists(new Path(s"$dir/base.compact-staging")))
    } finally deleteTempLayout(dir)

    // stopped mid-swap: level 2 was deleted from the base, its staged
    // copy committed, and the watermark never moved
    val dir2 = newTable(base60)
    try {
      assert(!CompactionLoop.onBatch(spark, dir2, batchDf(b1), 100L))
      val staging = new Path(s"$dir2/base.compact-staging")
      fs.mkdirs(staging)
      assert(fs.rename(new Path(s"$dir2/base/processing_level=2"),
        new Path(staging, "processing_level=2")))
      fs.create(new Path(staging, "_SUCCESS")).close()
      assert(CompactionLoop.onBatch(spark, dir2, batchDf(b2), 1L))
      assert(viewState(dir2) == fold(base60, b1 ++ b2))
      assert(baseState(dir2) == fold(base60, b1 ++ b2))
    } finally deleteTempLayout(dir2)

    // the swap's own rename fails after level 2's base directory was
    // deleted: the staged copy, level 2's only copy, must outlive the
    // failure, and the next compaction renames it back
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.${FailingRenameFs.uri.getScheme}.impl",
      classOf[FailingRenameFs].getName)
    val dir3 = newTable(base60)
    val table = s"${FailingRenameFs.uri.getScheme}://$dir3"
    try {
      assert(!CompactionLoop.onBatch(spark, table, batchDf(b1), 100L))
      FailingRenameFs.failRenameTo = Some(s"$dir3/base/processing_level=2")
      try intercept[IllegalStateException](
        CompactionLoop.onBatch(spark, table, batchDf(b2), 1L))
      finally FailingRenameFs.failRenameTo = None
      assert(!fs.exists(new Path(s"$dir3/base/processing_level=2")))
      assert(fs.exists(
        new Path(s"$dir3/base.compact-staging/processing_level=2")))
      // until the next batch a read sees level 2 empty (the mid-swap
      // window); the watermark did not move, so the pending slice still
      // crosses the threshold and that batch compacts again
      assert(CompactionLoop.watermark(spark, table) == -1L)
      assert(CompactionLoop.onBatch(spark, table, batchDf(b3), 1L))
      assert(viewState(table) == fold(base60, b1 ++ b2 ++ b3))
      assert(baseState(table) == fold(base60, b1 ++ b2 ++ b3))
      assert(!fs.exists(new Path(s"$dir3/base.compact-staging")))
    } finally deleteTempLayout(dir3)
  }

  test("a table whose log holds flat parquet files is rejected, not " +
      "read without its pending records") {
    val dir = newTable(base60)
    try {
      batchDf(b1).write.parquet(s"$dir/log")
      for (call <- Seq[() => Any](
          () => CompactionLoop.onBatch(spark, dir, batchDf(b2), 1L),
          () => CompactionLoop.pendingLog(spark, dir),
          () => CompactionLoop.view(spark, dir))) {
        val e = intercept[IllegalArgumentException](call())
        assert(e.getMessage.contains("flat change log"), e.getMessage)
      }
    } finally deleteTempLayout(dir)
  }

  private def scannedRoots(df: DataFrame): Seq[String] = {
    df.collect()
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString)
    }.flatten
  }

  test("after a compaction the view reads no log file, the pending read " +
      "lists only the live segment, and the view's schema does not " +
      "depend on whether anything is pending") {
    val dir = newTable(base60)
    try {
      assert(!CompactionLoop.onBatch(spark, dir, batchDf(b1), 8L))
      val pendingSchema = CompactionLoop.view(spark, dir).schema
      assert(CompactionLoop.onBatch(spark, dir, batchDf(b2), 8L))
      val wm = CompactionLoop.watermark(spark, dir)
      assert(wm == 10L)

      // (c) nothing pending: the plan scans the base only
      val roots = scannedRoots(CompactionLoop.view(spark, dir))
      assert(roots.nonEmpty && roots.forall(r => !r.contains("/log")), roots)
      // (e) one schema, pending or not; the level is the log's string
      val compactedSchema = CompactionLoop.view(spark, dir).schema
      assert(compactedSchema == pendingSchema)
      assert(compactedSchema("processing_level").dataType.typeName == "string")

      // (d) a later batch: the pending read lists the live segment only,
      // although the folded segment is still on disk
      assert(!CompactionLoop.onBatch(spark, dir, batchDf(b3), 8L))
      val live = new Path(s"$dir/log/through=$wm").toUri.getPath
      val files = CompactionLoop.pendingLog(spark, dir).inputFiles
      assert(files.nonEmpty &&
        files.forall(f => new Path(f).toUri.getPath.startsWith(live + "/")),
        files.toSeq)
      assert(spark.read.parquet(s"$dir/log").inputFiles.length > files.length)
      assert(CompactionLoop.view(spark, dir).schema == pendingSchema)
      assert(viewState(dir) == fold(base60, b1 ++ b2 ++ b3))
    } finally deleteTempLayout(dir)
  }

  /** Spark jobs `f` starts on this thread: they carry a fresh job group,
    * and a sentinel job seen after them on the listener queue proves
    * every earlier job start has been delivered.
    */
  private def jobsOf(f: => Unit): Int = {
    val tag = s"graft-cloop-${java.util.UUID.randomUUID()}"
    val sentinel = s"$tag-sentinel"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, "measured")
      try f finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains(sentinel) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.contains(sentinel), "listener never saw the sentinel job")
      seen.asScala.count(_ == tag)
    } finally sc.removeSparkListener(listener)
  }

  test("Spark jobs: at most 14 for a compacting batch, 6 for a plain " +
      "one, 4 for a view read with nothing pending") {
    val dir = newTable(base60)
    try {
      // warm the session's code paths on the same shapes first
      assert(!CompactionLoop.onBatch(spark, dir, batchDf(b1), 8L))
      val plain = jobsOf(
        assert(!CompactionLoop.onBatch(spark, dir, batchDf(b2), 100L)))
      val compacting = jobsOf(
        assert(CompactionLoop.onBatch(spark, dir, batchDf(b3), 8L)))
      val read = jobsOf(CompactionLoop.view(spark, dir).collect())
      info(s"jobs: plain $plain, compacting $compacting, read $read")
      assert(plain <= 6, s"plain batch ran $plain jobs")
      assert(compacting <= 14, s"compacting batch ran $compacting jobs")
      assert(read <= 4, s"view read with nothing pending ran $read jobs")
      assert(viewState(dir) == fold(base60, b1 ++ b2 ++ b3))
    } finally deleteTempLayout(dir)
  }
}

/** The local filesystem under its own scheme, whose rename onto the
  * path in `FailingRenameFs.failRenameTo` returns false: a swap step
  * that fails inside the process, not by the process dying.
  */
class FailingRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = FailingRenameFs.uri
  override def getScheme: String = FailingRenameFs.uri.getScheme
  override def rename(src: Path, dst: Path): Boolean =
    if (FailingRenameFs.failRenameTo.contains(dst.toUri.getPath)) false
    else super.rename(src, dst)
  // plain statuses: the local ones load their permissions through a
  // `file:` URI, which this scheme is not
  private def plain(s: FileStatus) = new FileStatus(s.getLen, s.isDirectory,
    s.getReplication, s.getBlockSize, s.getModificationTime, s.getPath)
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(plain)
  override def getFileStatus(f: Path): FileStatus =
    plain(super.getFileStatus(f))
}

object FailingRenameFs {
  val uri: java.net.URI = java.net.URI.create("graftfailrename:///")
  @volatile var failRenameTo: Option[String] = None
}
