package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import graft.catalog.{FileIndexer, IndexRequests}
import graft.sources.CatalogIO
import graft.streaming.IncrementalIndexer

/** `catalog-ingest`: a bulk index of the archive, then index requests
  * one at a time, each waited on until its job reads FINISHED and its
  * catalog rows can be read.
  */
final class Ingest(spark: SparkSession, p: Params, seed: Long, trace: Trace,
    tailBeyond: Int)
    extends Workload(spark, p, trace, tailBeyond) {

  private val gen = new IngestGen(p, seed)
  private var dir: Path = _
  private def sub(name: String): String = dir.resolve(name).toString

  private val eventsSchema = StructType.fromDDL(
    "uuid STRING, name STRING, phase STRING, job_state STRING, n_files BIGINT, batch_id BIGINT")

  private val catalogSchema = StructType.fromDDL(
    "doc_id BIGINT, path STRING, n_chars BIGINT, generated_by STRING, processing_level STRING")

  def prepare(d: Path): Unit = {
    dir = d
    val archive = Files.createDirectories(d.resolve("archive"))
    val parts = p.int("bulk_manifest_files")
    gen.archive.grouped((gen.archive.length + parts - 1) / parts).zipWithIndex
      .foreach { case (rows, i) =>
        Files.write(archive.resolve(s"manifest-$i.json"), rows.map(_.json).asJava, UTF_8)
      }
    Files.write(d.resolve("bulk-request.json"), Seq(gen.bulkMessage).asJava, UTF_8)
    Seq("msgs", "in", "staging").foreach(s => Files.createDirectories(d.resolve(s)))
  }

  // bulk phase
  private val bulkRate = ArrayBuffer.empty[Double]
  private val bulkWriteS = ArrayBuffer.empty[Double]
  private var matchedRatio = 0.0
  // request phase
  private var coldS = 0.0
  private val requestS = ArrayBuffer.empty[Double]
  private val lookupS = ArrayBuffer.empty[Double]
  private val routeS = ArrayBuffer.empty[Double]
  private val queryS = ArrayBuffer.empty[Double]
  private val stateS = ArrayBuffer.empty[Double]
  private val catalogS = ArrayBuffer.empty[Double]
  private val progress = ArrayBuffer.empty[Map[String, Double]]
  private var routed = 0L
  private var measuring = false
  private var deadLettered = 0L
  private var expectedDeadLetters = 0L

  private def route(file: String): Array[Row] =
    IndexRequests.routed(IndexRequests.read(spark, file),
      contextFiltersJson = Some(gen.urlFiltersJson)).collect()

  /** The first bulk index and the requests up to the first routed one
    * are the cold start of the batch and streaming write paths. After
    * it the JIT is still compiling those paths, and each request or
    * bulk index runs faster than the one before: `warmup_requests`
    * routed requests run untimed (but checked) before the measured
    * ones, and the warm bulk indexes come last.
    */
  def run(seconds: Double): Unit = {
    setScope("catalog-ingest")
    bulk(0)
    var i = 0
    def requestsUntil(target: Long): Unit =
      while (routed < target && i < gen.requests.length) {
        op(s"request-$i")(request(i, gen.requests(i)))
        i += 1
      }
    val c0 = System.nanoTime()
    requestsUntil(1)
    coldS += Stats.secs(c0, System.nanoTime())
    requestsUntil(routed + p.int("warmup_requests"))
    measuring = true
    requestsUntil(routed + units(seconds))
    for (r <- 1 to p.int("bulk_reps")) bulk(r)
  }

  /** One bulk index of the whole archive into a fresh catalog; `r` 0 is
    * the cold one.
    */
  private def bulk(r: Int): Unit = op(s"bulk-$r") {
    val out = sub(s"bulk-catalog-$r")
    val t0 = System.nanoTime()
    val req = trace.span("catalog.route")(route(sub("bulk-request.json"))).head
    val files = trace.span("sources.read_manifest") {
      CatalogIO.readJson(spark, sub("archive"), IncrementalIndexer.manifestSchema)
        .where(col("_corrupt").isNull).drop("_corrupt")
    }
    val indexed = trace.span("catalog.index") {
      FileIndexer.index(files, "path", IndexRequests.filtersOf(req),
        req.getAs[String]("uuid"), req.getAs[String]("level"))
    }
    val w0 = System.nanoTime()
    trace.span("sources.write_catalog")(CatalogIO.writeCatalog(indexed, out))
    val t1 = System.nanoTime()
    System.err.println(f"[graftbench] bulk-$r ${Stats.secs(t0, t1)}%.3f s")
    if (r == 0) coldS += Stats.secs(t0, t1)
    else {
      bulkWriteS += Stats.secs(w0, t1)
      bulkRate += gen.archive.length / Stats.secs(t0, t1)
    }
    val n = spark.read.parquet(out).count()
    matchedRatio = n.toDouble / gen.archive.length
    expect(n == gen.bulkExpected,
      s"bulk index wrote $n catalog rows, expected ${gen.bulkExpected}")
  }

  private def request(i: Int, msg: IngestGen.Message): Unit = {
    if (msg.deadLetters) expectedDeadLetters += 1
    val file = sub(s"msgs/$i.json")
    Files.write(dir.resolve(s"msgs/$i.json"), Seq(msg.json).asJava, UTF_8)
    val expected =
      if (msg.deadLetters) 0L else gen.expectedMatches(msg.job.files, msg.filters)
    val t0 = System.nanoTime()
    val row = trace.span("catalog.route")(route(file)).head
    val t1 = System.nanoTime()
    routeS += Stats.secs(t0, t1)
    if (row.getAs[String]("reject_reason") != null) {
      trace.span("sources.dead_letter") {
        spark.createDataFrame(java.util.List.of(row), row.schema)
          .write.mode("append").json(sub("dead"))
      }
      deadLettered += 1
      expect(msg.deadLetters, s"request $i (${msg.kind}) was dead-lettered")
      return
    }
    routed += 1
    expect(!msg.deadLetters, s"request $i (${msg.kind}) was routed")
    val uuid = row.getAs[String]("uuid")
    // the manifest lands atomically: written aside, then renamed in
    val staged = dir.resolve(s"staging/job-$i.json")
    Files.write(staged, msg.job.files.map(_.json).asJava, UTF_8)
    Files.move(staged, dir.resolve(s"in/job-$i.json"), StandardCopyOption.ATOMIC_MOVE)
    val q0 = System.nanoTime()
    val q = trace.span("streaming.request_query") {
      val q = IncrementalIndexer.startWithProtocol(spark, sub("in"), sub("catalog"),
        sub("reject"), sub("events"), sub("checkpoint"),
        IndexRequests.filtersOf(row), uuid, row.getAs[String]("level"))
      q.awaitTermination()
      q
    }
    val q1 = System.nanoTime()
    val states = trace.span("ingest.state_read") {
      IncrementalIndexer.jobStates(spark.read.schema(eventsSchema).json(sub("events")))
        .where(col("uuid") === uuid).collect()
    }
    val q2 = System.nanoTime()
    val rows = trace.span("ingest.catalog_read") {
      // a job that matched nothing leaves no catalog directory behind
      if (!Files.exists(dir.resolve("catalog"))) 0L
      else spark.read.schema(catalogSchema).parquet(sub("catalog"))
        .where(col("generated_by") === uuid).count()
    }
    val t2 = System.nanoTime()

    if (measuring) {
      requestS += Stats.secs(t0, t2)
      lookupS += Stats.secs(q1, t2)
      queryS += Stats.secs(q0, q1)
      stateS += Stats.secs(q1, q2)
      catalogS += Stats.secs(q2, t2)
      val ps = q.recentProgress
      def dur(k: String) = ps.iterator.map(pr =>
        Option(pr.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1000.0
      progress += Map(
        "trigger_s" -> dur("triggerExecution"), "add_batch_s" -> dur("addBatch"),
        "wal_commit_s" -> dur("walCommit"), "latest_offset_s" -> dur("latestOffset"),
        "start_overhead_s" -> (Stats.secs(q0, q1) - dur("triggerExecution")),
        "batches" -> ps.length.toDouble,
        "input_rows" -> ps.iterator.map(_.numInputRows).sum.toDouble)
    }
    expect(states.length == 1 && states.head.getAs[String]("job_state") == "FINISHED",
      s"request $i: job $uuid state ${states.map(_.toString).mkString}, expected FINISHED")
    expect(states.forall(_.getAs[Long]("n_files") == expected),
      s"request $i: job $uuid n_files ${states.map(_.getAs[Long]("n_files")).mkString}, expected $expected")
    expect(rows == expected, s"request $i: job $uuid has $rows catalog rows, expected $expected")
  }

  def check(): Unit = {
    expect(deadLettered == expectedDeadLetters,
      s"$deadLettered requests dead-lettered, generator made $expectedDeadLetters bad ones")
    val stored = if (deadLettered == 0) 0L else spark.read.json(sub("dead")).count()
    expect(stored == deadLettered, s"dead-letter sink holds $stored rows, expected $deadLettered")
  }

  def endToEnd: Map[String, Double] =
    latencyMetrics("op", requestS.toSeq) ++ latencyMetrics("read", lookupS.toSeq) ++ Map(
      "work_per_s" -> Stats.median(bulkRate.toSeq),
      "cold_s" -> coldS)

  def perLayer(counters: SparkCounters): Map[String, Double] = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val streaming = Seq("trigger_s", "add_batch_s", "wal_commit_s", "latest_offset_s",
      "start_overhead_s").map(k => s"streaming.$k" -> med(progress.map(_(k)).toSeq)) ++
      Seq("batches", "input_rows").map(k => s"streaming.$k" -> progress.map(_(k)).sum)
    Map(
      "catalog.route_s" -> med(routeS.toSeq),
      "catalog.requests_routed" -> routed.toDouble,
      "catalog.requests_dead_lettered" -> deadLettered.toDouble,
      "catalog.files_matched_ratio" -> matchedRatio,
      "sources.write_catalog_s" -> med(bulkWriteS.toSeq),
      "sources.catalog_files" -> Workload.dataFiles(dir.resolve("catalog")).length.toDouble,
      "sources.events_files" -> Workload.dataFiles(dir.resolve("events")).length.toDouble,
      "streaming.request_query_s" -> med(queryS.toSeq),
      "ingest.state_read_s" -> med(stateS.toSeq),
      "ingest.catalog_read_s" -> med(catalogS.toSeq)) ++ streaming
  }
}
