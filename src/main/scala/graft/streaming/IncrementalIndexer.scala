package graft.streaming

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.catalog.FileIndexer
import graft.catalog.FileIndexer.IndexFilter

/** The reference's index action as a CONTINUOUS pipeline: new
  * file-manifest messages land in a directory, each is regex-filtered
  * and level-assigned, and matching records append to the partitioned
  * parquet catalog — i.e. `reactor.py`'s message-driven indexing
  * (`/root/reference/reactor.py:147-218`) re-expressed as a Structured
  * Streaming job with exactly-once file-sink semantics.
  *
  * Scale: the stream is stateless (pure filter+project per batch), so
  * no state store grows; the sink partitions by processing_level the
  * same way the batch writer does; checkpointing makes restart
  * exactly-once over input files.
  */
object IncrementalIndexer {

  /** Manifest row schema: one JSON line per archived file. */
  val manifestSchema: StructType = StructType.fromDDL(
    "doc_id BIGINT, path STRING, n_chars BIGINT")

  /** The reference's event-forwarding settings, mirrored from its
    * `config.yml` defaults (`state_enter: false`, `state_exit: true`,
    * `standalone: false`): `stateEnter`/`stateExit` gate the
    * enter/exit `forward_event` calls around each handled action
    * (`/root/reference/reactor.py:130-141, 158-176`), and `standalone`
    * short-circuits forwarding entirely
    * (`/root/reference/reactor.py:32`) — while the two-message
    * `indexed` handshake STILL sends (reactor.py:190-208: standalone
    * only re-addresses it, it never suppresses it).
    */
  final case class ProtocolSettings(
      stateEnter: Boolean = false,
      stateExit: Boolean = true,
      standalone: Boolean = false) {
    def forwardEnter: Boolean = !standalone && stateEnter
    def forwardExit: Boolean = !standalone && stateExit
  }

  /** Exactly-once READ of the append-only catalog under at-least-once
    * message delivery: the reference sends every protocol message with
    * `retryMaxAttempts=10` (`/root/reference/reactor.py:40-42,206-208`),
    * so a redelivered index request re-runs the (deterministic) indexing
    * of the same manifest and appends identical records. Its catalog
    * absorbs that because `store.index` upserts by content; the Spark
    * analogue is merge-on-read — one `dropDuplicates` over the record's
    * full content key. Deterministic content + content-keyed dedupe =
    * idempotent catalog state, no matter how many times the message
    * arrives.
    *
    * Scale: one hash aggregation keyed on the content columns — the
    * same shuffle shape as `dedup_exact`, linear, no join.
    */
  def catalogState(catalog: DataFrame): DataFrame =
    catalog.dropDuplicates(
      Seq("doc_id", "path", "n_chars", "processing_level", "generated_by"))

  /** Fold of the handshake event log into per-job state — the job
    * manager's half of the two-message protocol ("two messages required
    * to move a job to FINISHED", `/root/reference/reactor.py:183-215`).
    * Duplicate deliveries of one `indexed` message collapse on its
    * `(uuid, batch_id)` identity BEFORE any count aggregates, so a
    * replayed handshake can't inflate `n_files` or resurrect a state:
    * FINISHED is a fixpoint, exactly as the reference's job-manager
    * transition is idempotent under its retried sends.
    */
  def jobStates(events: DataFrame): DataFrame =
    // hash-partitioned by uuid once: both aggregates below group on
    // keys that contain uuid, so neither needs a shuffle of its own
    events.where(col("name") === "indexed")
      .repartition(col("uuid"))
      .groupBy(col("uuid"), col("batch_id"))
      .agg(max("n_files").as("n_files"))
      .groupBy(col("uuid"))
      .agg(sum("n_files").as("n_files"),
        count(lit(1)).as("n_batches"))
      .select(col("uuid"), lit("FINISHED").as("job_state"),
        col("n_files"), col("n_batches"))

  /** Start indexing manifests arriving in `inDir` into the parquet
    * catalog at `outDir`.
    */
  def start(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, filters: Seq[IndexFilter],
      generatedBy: String): StreamingQuery = {
    val manifests = spark.readStream
      .schema(manifestSchema)
      .json(inDir)
    val indexed = FileIndexer.index(manifests, "path", filters, generatedBy)
    indexed.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("processing_level")
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** The full reference protocol as one streaming job: validate each
    * manifest row, dead-letter the malformed ones, index the good ones,
    * and emit the `indexed` handshake event.
    *
    * The reference does NOT transition the job itself after indexing —
    * it sends a second `{uuid, name: "indexed"}` message to the job
    * manager, which owns the INDEXING → FINISHED transition
    * (`/root/reference/reactor.py:183-215`: "two messages required to
    * move a job to FINISHED"). Here that handshake is a record per
    * drained micro-batch appended to `eventsDir` — the same event log
    * the catalog operators fold (`idx_job_states` consumes exactly this
    * shape), so the index → indexed → FINISHED composition is testable
    * end-to-end.
    *
    * Delivery: foreachBatch sinks are at-least-once under failure
    * replay (the reference's `retryMaxAttempts=10` messaging is too);
    * the handshake carries `batch_id` so downstream folds can
    * deduplicate, and the catalog write is idempotent per batch via
    * deterministic content. A micro-batch with no bad rows runs ONE
    * Spark job, the catalog write: two observations ride it, one on
    * the raw batch counting bad rows and one on the indexed rows
    * counting `n_files`; the reject write runs only when the bad count
    * is above zero. The forwarded events and the handshake are a few
    * hundred bytes, so the driver appends them itself — one JSON-lines
    * file per write point (the exit event and the handshake share
    * one), written hidden and renamed to a unique `part-*.json`, so a
    * reader of `eventsDir` sees whole files only. A replayed batch
    * re-appends the same `(uuid, batch_id)`, which [[jobStates]]
    * collapses.
    */
  def startWithProtocol(spark: SparkSession, inDir: String, outDir: String,
      rejectDir: String, eventsDir: String, checkpointDir: String,
      filters: Seq[IndexFilter], generatedBy: String,
      defaultLevel: String = "1",
      settings: ProtocolSettings = ProtocolSettings()): StreamingQuery = {
    val manifests = graft.sources.CatalogIO.readStreamJson(
      spark, inDir, manifestSchema)
    // forward_event, Spark-side: one record per gated call appended to
    // the same event log the handshake uses. `phase` distinguishes
    // enter from exit; `job_state` mirrors the reference's reading
    // (INDEXING on enter — reactor.py:160 literal — and still INDEXING
    // on exit, because `store.index(transition=False)` never moves the
    // state itself; FINISHED needs the second message).
    def forward(batchId: Long, phase: String, nFiles: Long): Seq[(String, Any)] =
      Seq("uuid" -> generatedBy, "name" -> "index", "phase" -> phase,
        "job_state" -> "INDEXING", "n_files" -> nFiles, "batch_id" -> batchId)
    manifests.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val isBad = col("_corrupt").isNotNull || col("path").isNull
        val badObs = Observation(s"graft_index_bad_$batchId")
        val filesObs = Observation(s"graft_index_files_$batchId")
        if (settings.forwardEnter)
          appendEvents(spark, eventsDir, Seq(forward(batchId, "state_enter", 0L)))
        val good = batch.observe(badObs, count(when(isBad, true)).as("bad"))
          .where(!isBad).drop("_corrupt")
        val indexed = FileIndexer.index(good, "path", filters, generatedBy,
          defaultLevel)
        indexed.observe(filesObs, count(lit(1)).as("n_files"))
          .write.mode("append")
          .partitionBy("processing_level").parquet(outDir)
        // both counts came back with the write, unless the optimizer
        // proved the indexed plan empty (no filters and a null default
        // level) and pruned the raw batch's observation with it
        val nBad = badObs.get.getOrElse("bad", batch.where(isBad).count())
        if (nBad.asInstanceOf[Long] > 0L)
          batch.where(isBad).withColumn("reject_reason",
              when(col("_corrupt").isNotNull, "malformed_json")
                .otherwise("missing_path"))
            .write.mode("append").json(rejectDir)
        // this batch's indexed count (the reference's `len(resp)`),
        // counted on the micro-batch as it was written — never a rescan
        // of the accumulated catalog
        val nFiles = filesObs.get("n_files").asInstanceOf[Long]
        // two-message protocol: tell the job manager we indexed — sent
        // in EVERY mode, standalone included (reactor.py:190-208)
        val handshake = Seq("uuid" -> generatedBy, "name" -> "indexed",
          "n_files" -> nFiles, "batch_id" -> batchId)
        appendEvents(spark, eventsDir,
          (if (settings.forwardExit) Seq(forward(batchId, "state_exit", nFiles))
           else Nil) :+ handshake)
        ()
      }
      .start()
  }

  private val json = new ObjectMapper()

  /** Append `events` to the event log at `eventsDir` as one new
    * JSON-lines file (fields in the given order, null fields left out
    * as Spark's JSON writer does), written hidden and renamed in.
    */
  private def appendEvents(spark: SparkSession, eventsDir: String,
      events: Seq[Seq[(String, Any)]]): Unit = {
    val lines = events.map { fields =>
      val m = new java.util.LinkedHashMap[String, Any]()
      fields.foreach { case (k, v) => if (v != null) m.put(k, v) }
      json.writeValueAsString(m) + "\n"
    }
    graft.sources.CatalogIO.writeAtomically(spark,
      s"$eventsDir/part-${java.util.UUID.randomUUID()}.json",
      lines.mkString.getBytes("UTF-8"))
  }
}
