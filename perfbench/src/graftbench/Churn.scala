package graftbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import graft.sources.CatalogIO
import graft.streaming.CompactionLoop

/** `catalog-churn`: change-log batches fed to `CompactionLoop.onBatch`
  * (compacting whenever the pending log crosses the threshold), each
  * followed by point and partition reads of the merge-on-read view.
  */
final class Churn(spark: SparkSession, p: Params, seed: Long, trace: Trace,
    tailBeyond: Int)
    extends Workload(spark, p, trace, tailBeyond) {

  private val gen = new ChurnGen(p, seed)
  private val readRnd = new java.util.Random(seed ^ 0x5eed)
  private var table: Path = _
  private def tableDir = table.toString

  def prepare(d: Path): Unit = {
    table = d.resolve("table")
    val base = spark.createDataFrame(gen.base.map(_.row).asJava, ChurnGen.baseSchema)
    CatalogIO.writeCatalog(base, table.resolve("base").toString)
  }

  private var coldCycleS = 0.0
  private val batchS = ArrayBuffer.empty[Double]
  private val compactS = ArrayBuffer.empty[Double]
  private val plainS = ArrayBuffer.empty[Double]
  private val readS = ArrayBuffer.empty[Double]
  private var changes = 0L
  private var compactions = 0L
  private var inputBytes = 0L
  private var writtenBytes = 0L

  /** Size of every data file under base/ and log/, by path. */
  private def sizes(): Map[Path, Long] =
    Seq("base", "log").flatMap(s => Workload.dataFiles(table.resolve(s)))
      .map(f => f -> Files.size(f)).toMap

  /** Batches run in whole compaction cycles (a cycle ends with the
    * batch that compacts), so every run holds the same mix of plain and
    * compacting batches. The first cycle is the cold start; each batch
    * of the measured cycles is followed by one view read, point and
    * partition reads taking turns.
    */
  def run(seconds: Double): Unit = {
    setScope("catalog-churn")
    var b = 0
    def cycle(measured: Boolean): Unit = {
      var compacted = false
      while (!compacted && b < p.int("batches")) {
        val batch = gen.nextBatch()
        op(s"batch-$b") { compacted = applyBatch(measured, batch) }
        if (measured) {
          if (readS.length % 2 == 0) op(s"point-$b")(pointRead())
          else op(s"partition-$b")(partitionRead())
        }
        b += 1
      }
    }
    cycle(measured = false)
    for (_ <- 0 until units(seconds)) cycle(measured = true)
  }

  private def applyBatch(measured: Boolean, batch: IndexedSeq[ChurnGen.Change]): Boolean = {
    val df = spark.createDataFrame(batch.map(_.row).asJava, ChurnGen.logSchema)
    val before = if (trace.enabled) sizes() else Map.empty[Path, Long]
    val t0 = System.nanoTime()
    val compacted = trace.span("streaming.on_batch") {
      CompactionLoop.onBatch(spark, tableDir, df, p.int("compaction_threshold"))
    }
    val s = Stats.secs(t0, System.nanoTime())
    if (compacted) compactions += 1
    if (trace.enabled) {
      writtenBytes += sizes().iterator.collect {
        case (f, n) if !before.get(f).contains(n) => n
      }.sum
      inputBytes += batch.iterator.map(_.jsonBytes.toLong).sum
    }
    if (!measured) coldCycleS += s
    else {
      batchS += s
      changes += batch.length
      (if (compacted) compactS else plainS) += s
    }
    compacted
  }

  private def timedRead[T](f: => T): T = {
    val t0 = System.nanoTime()
    val r = trace.span("sources.view_read")(f)
    readS += Stats.secs(t0, System.nanoTime())
    r
  }

  private def pointRead(): Unit = {
    val key = gen.hotKey()
    val got = timedRead {
      CompactionLoop.view(spark, tableDir).where(col("doc_id") === key).collect()
    }.map(Churn.norm).toSet
    val want = gen.expected.get(key).toSet
    expect(got == want, s"view read of doc_id $key gave $got, expected $want")
  }

  private def partitionRead(): Unit = {
    val level = gen.levels(readRnd.nextInt(gen.levels.length))
    val got = timedRead {
      CompactionLoop.view(spark, tableDir)
        .where(col("processing_level").cast("string") === level).count()
    }
    val want = gen.expected.valuesIterator.count(_.level == level).toLong
    expect(got == want, s"view of level $level holds $got rows, expected $want")
  }

  def check(): Unit = {
    val got = CompactionLoop.view(spark, tableDir).collect().map(Churn.norm)
    val want = gen.expected.values.toSet
    expect(got.length == want.size && got.toSet == want,
      s"final view has ${got.length} rows (${(got.toSet -- want).size} unexpected), " +
        s"the fold of the log has ${want.size}")
  }

  def endToEnd: Map[String, Double] =
    latencyMetrics("op", batchS.toSeq) ++ latencyMetrics("read", readS.toSeq) ++ Map(
      "work_per_s" -> changes / batchS.sum,
      "cold_s" -> coldCycleS)

  def perLayer(counters: SparkCounters): Map[String, Double] = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    Map(
      "sources.batch_nocompact_s" -> med(plainS.toSeq),
      "sources.batch_compact_s" -> med(compactS.toSeq),
      "sources.compactions" -> compactions.toDouble,
      "sources.write_amp" -> (if (inputBytes == 0) 0.0 else writtenBytes.toDouble / inputBytes),
      "sources.base_files" -> Workload.dataFiles(table.resolve("base")).length.toDouble,
      "sources.log_files" -> Workload.dataFiles(table.resolve("log")).length.toDouble,
      "sources.view_read_s" -> med(readS.toSeq))
  }
}

object Churn {
  /** A view row as the generator's record (the base's partition column
    * reads back as an integer until a merge casts it).
    */
  def norm(r: Row): ChurnGen.Rec = ChurnGen.Rec(
    r.getAs[Long]("doc_id"), r.getAs[String]("path"), r.getAs[Long]("n_chars"),
    r.getAs[Any]("processing_level").toString, r.getAs[String]("generated_by"))
}
