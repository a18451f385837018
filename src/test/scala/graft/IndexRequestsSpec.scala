package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.catalog.{FileIndexer, IndexRequests}
import graft.catalog.FileIndexer.IndexFilter
import graft.streaming.IncrementalIndexer

/** The reference's inbound-message contract: schema validation with a
  * dead-letter route, message→context→env→default parameter resolution
  * (level defaults to "1"), no-filters indexing, and the two-message
  * index → indexed handshake.
  */
class IndexRequestsSpec extends GraftSpec {

  private def writeMessages(lines: String): String = {
    val dir = Files.createTempDirectory("graft_req")
    Files.writeString(dir.resolve("msgs.jsonl"), lines)
    dir.toString
  }

  /** One protocol pipeline's directories under a fresh temp root. */
  private final class Proto(prefix: String) {
    val base: Path = Files.createTempDirectory(prefix)
    val in: Path = Files.createDirectories(base.resolve("in"))
    def dir(name: String): String = base.resolve(name).toString
    /** Land `manifest` as `in/<name>` and drain it on the one checkpoint. */
    def drain(name: String, manifest: String, uuid: String,
        filters: Seq[IndexFilter] = Seq(IndexFilter("1", Seq("\\.csv$"))),
        defaultLevel: String = "1"): StreamingQuery = {
      Files.writeString(in.resolve(name), manifest)
      val q = IncrementalIndexer.startWithProtocol(spark, in.toString,
        dir("catalog"), dir("rejected"), dir("events"), dir("chk"),
        filters = filters, generatedBy = uuid, defaultLevel = defaultLevel)
      q.awaitTermination()
      q
    }
    /** Every regular file under `name`, hidden ones included. */
    def files(name: String): Seq[Path] = {
      val root = base.resolve(name)
      if (!Files.exists(root)) Nil
      else {
        val s = Files.walk(root)
        try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector
        finally s.close()
      }
    }
    def dataFiles(name: String): Seq[Path] = files(name).filterNot { f =>
      val n = f.getFileName.toString
      n.startsWith(".") || n.startsWith("_")
    }
    def states(uuid: String): Seq[(String, Long, Long)] =
      IncrementalIndexer.jobStates(spark.read.json(dir("events")))
        .where(col("uuid") === uuid)
        .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
        .toSeq
  }

  test("good messages validate; bad messages dead-letter with reasons") {
    // index01.json-shaped good message + one of each failure mode
    val dir = writeMessages(
      """{"uuid": "107a54fe", "name": "index", "filters": [{"processing_level": "2", "patterns": [".txt$", ".tsv$"]}], "token": "f13c12566ccdea21"}
        |{"uuid": "22222222", "name": "indexed"}
        |{"uuid": "33333333", "name": "transmogrify"}
        |{"name": "index"}
        |{"uuid": "55555555"}
        |{"uuid": "66666666", "name": "index", "filters": [{"processing_level": "1", "patterns": []}]}
        |this is not json at all
        |""".stripMargin)
    val msgs = IndexRequests.read(spark, dir)
    val ok = IndexRequests.accepted(msgs).collect()
    assert(ok.map(_.getString(0)).toSet == Set("107a54fe", "22222222"))
    val dead = IndexRequests.deadLetter(msgs)
      .select("reject_reason").collect().map(_.getString(0)).sorted
    assert(dead.toSeq == Seq("bad_filter_shape", "malformed_json",
      "missing_name", "missing_uuid", "unknown_action"))
  }

  test("urlparams fallback: schema-invalid messages still index " +
    "(reference reactor.py:66, 147)") {
    // missing name / unknown action: the reference sets
    // action="urlparams" before validation and indexes anyway
    val dir = writeMessages(
      """{"uuid": "107a54fe", "name": "index"}
        |{"uuid": "22222222", "name": "indexed"}
        |{"uuid": "33333333", "name": "transmogrify"}
        |{"uuid": "44444444", "level": "3"}
        |{"name": "index"}
        |this is not json at all
        |""".stripMargin)
    val msgs = IndexRequests.read(spark, dir)

    val routed = IndexRequests.routed(msgs)
    val byUuid = routed.where(col("reject_reason").isNull).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    // valid messages keep their schema action; invalid-but-addressable
    // ones fall back to urlparams and resolve params the same way
    assert(byUuid == Map(
      "107a54fe" -> ("index", "1"),
      "22222222" -> ("indexed", "1"),
      "33333333" -> ("urlparams", "1"),
      "44444444" -> ("urlparams", "3")))
    // the only hard failures: no uuid anywhere (reference would build
    // its job instance with uuid=None and fail)
    val dead = routed.where(col("reject_reason").isNotNull)
      .select("reject_reason").collect().map(_.getString(0)).sorted
    assert(dead.toSeq == Seq("malformed_json", "missing_uuid"))

    // context uuid rescues even unparseable JSON (reference mes={}
    // path: params resolve entirely from context/env)
    val rescued = IndexRequests.routed(msgs,
      contextUuid = Some("ctx-uuid"), contextLevel = Some("2"))
    assert(rescued.where(col("reject_reason").isNotNull).count() == 0)
    assert(rescued.where(col("uuid") === "ctx-uuid")
      .collect().map(r => (r.getString(1), r.getString(2))).toSet ==
      Set(("urlparams", "2")))

    // strict mode restores the auditable dead-letter contract
    val strict = IndexRequests.routed(msgs, strict = true)
    assert(strict.where(col("reject_reason").isNull).collect()
      .map(_.getString(0)).toSet == Set("107a54fe", "22222222"))
  }

  test("token and filters also resolve message -> context -> env " +
    "(reference PARAMS, reactor.py:90-102)") {
    val dir = writeMessages(
      """{"uuid": "a", "name": "index", "token": "msg-tok", "filters": [{"processing_level": "9", "patterns": [".msg$"]}]}
        |{"uuid": "b", "name": "index"}
        |""".stripMargin)
    val msgs = IndexRequests.read(spark, dir)
    val ctxFilters = """[{"processing_level": "2", "patterns": [".ctx$"]}]"""
    val routed = IndexRequests.routed(msgs,
      contextToken = Some("ctx-tok"), envToken = Some("env-tok"),
      contextFiltersJson = Some(ctxFilters))
      .orderBy("uuid").collect()
    // message values win for both params
    assert(routed(0).getString(3) == "msg-tok")
    assert(IndexRequests.filtersOf(routed(0)) ==
      Seq(IndexFilter("9", Seq(".msg$"))))
    // absent values resolve context-first (context beats env for token)
    assert(routed(1).getString(3) == "ctx-tok")
    assert(IndexRequests.filtersOf(routed(1)) ==
      Seq(IndexFilter("2", Seq(".ctx$"))))
    // env is the last non-default resort
    val envOnly = IndexRequests.routed(msgs, envToken = Some("env-tok"))
      .orderBy("uuid").collect()
    assert(envOnly(1).getString(3) == "env-tok")
    // with nothing anywhere, token/filters stay null (their PARAMS
    // default is None — only level defaults to "1")
    val bare = IndexRequests.routed(msgs).orderBy("uuid").collect()
    assert(bare(1).isNullAt(3) && bare(1).isNullAt(4))
  }

  test("?filters percent-decoding: URL-encoded patterns index " +
    "identically to their decoded forms (reference TODO, " +
    "reactor.py:106-110)") {
    // schema-invalid message (no name): the urlparams path, where the
    // ?filters parameter rides in percent-encoded
    val dir = writeMessages("""{"uuid": "u1"}""" + "\n")
    val msgs = IndexRequests.read(spark, dir)
    // %5C -> backslash, %24 -> dollar; the literal '+' in log%5Cd+%24
    // is regex one-or-more and must SURVIVE (unquote semantics, not
    // form-decoding where + means space)
    val encoded = """[{"processing_level": "2",""" +
      """ "patterns": ["%5C.txt%24", "log%5Cd+%24"]}]"""
    val row = IndexRequests.routed(msgs,
      contextFiltersJson = Some(encoded)).collect()(0)
    val decoded = IndexRequests.filtersOf(row)
    assert(decoded == Seq(IndexFilter("2", Seq("\\.txt$", "log\\d+$"))))

    val sp = spark
    import sp.implicits._
    val files = Seq((1L, "a/x.txt"), (2L, "a/run/log123"),
      (3L, "a/y.log"), (4L, "a/x.txt.bak")).toDF("doc_id", "path")
    val viaEncoded = FileIndexer.index(files, "path", decoded, "u1")
    val viaPlain = FileIndexer.index(files, "path",
      Seq(IndexFilter("2", Seq("\\.txt$", "log\\d+$"))), "u1")
    assert(viaEncoded.collect().toSet == viaPlain.collect().toSet)
    assert(viaEncoded.select("doc_id").collect().map(_.getLong(0))
      .toSet == Set(1L, 2L))
    // message-borne filters stay untouched: a plain pattern containing
    // a percent-escape-looking literal must NOT decode on that path
    val msgDir = writeMessages(
      """{"uuid": "m1", "name": "index", "filters": [{"processing_level": "3", "patterns": ["%24raw"]}]}""" + "\n")
    val msgRow = IndexRequests.routed(IndexRequests.read(spark, msgDir))
      .collect()(0)
    assert(IndexRequests.filtersOf(msgRow) ==
      Seq(IndexFilter("3", Seq("%24raw"))))
  }

  test("level resolves message -> context/env -> default '1'") {
    val dir = writeMessages(
      """{"uuid": "a", "name": "index", "level": "3"}
        |{"uuid": "b", "name": "index"}
        |""".stripMargin)
    val msgs = IndexRequests.read(spark, dir)
    // message value wins; absent falls to default "1"
    val byUuid = IndexRequests.accepted(msgs).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(byUuid == Map("a" -> "3", "b" -> "1"))
    // context/env fallback beats the default for the absent case only
    val withCtx = IndexRequests.accepted(msgs, contextLevel = Some("2"))
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(withCtx == Map("a" -> "3", "b" -> "2"))
  }

  test("filtersOf extracts the typed filter list; empty when absent") {
    val dir = writeMessages(
      """{"uuid": "a", "name": "index", "filters": [{"processing_level": "2", "patterns": [".txt$"]}]}
        |{"uuid": "b", "name": "index"}
        |""".stripMargin)
    val rows = IndexRequests.accepted(IndexRequests.read(spark, dir))
      .orderBy("uuid").collect()
    assert(IndexRequests.filtersOf(rows(0)) ==
      Seq(IndexFilter("2", Seq(".txt$"))))
    assert(IndexRequests.filtersOf(rows(1)).isEmpty)
  }

  test("no filters indexes every file at the resolved default level") {
    val sp = spark
    import sp.implicits._
    val files = Seq((1L, "a/x.csv"), (2L, "a/y.log"), (3L, "a/z.txt"))
      .toDF("doc_id", "path")
    val indexed = FileIndexer.index(files, "path", Seq.empty, "job-B")
    assert(indexed.count() == 3)
    assert(indexed.select("processing_level").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("1"))
    val atLevel5 = FileIndexer.index(files, "path", Seq.empty, "job-B",
      defaultLevel = "5")
    assert(atLevel5.select("processing_level").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("5"))
  }

  test("protocol run: dead-letters bad manifests, emits indexed handshake") {
    val base = Files.createTempDirectory("graft_proto")
    val in = base.resolve("in"); Files.createDirectories(in)
    val out = base.resolve("catalog").toString
    val rej = base.resolve("rejected").toString
    val ev = base.resolve("events").toString
    val chk = base.resolve("chk").toString
    Files.writeString(in.resolve("w1.jsonl"),
      """{"doc_id": 1, "path": "a/x.csv", "n_chars": 10}
        |{"doc_id": 2, "path": "a/y.log", "n_chars": 20}
        |{"doc_id": 3, "n_chars": 30}
        |not json
        |""".stripMargin)
    val q = IncrementalIndexer.startWithProtocol(spark, in.toString, out,
      rej, ev, chk,
      filters = Seq(IndexFilter("1", Seq("\\.csv$")), IndexFilter("2", Seq("\\.log$"))),
      generatedBy = "job-C")
    q.awaitTermination()

    val catalog = spark.read.parquet(out)
    assert(catalog.count() == 2) // csv + log indexed, bad rows excluded
    val rejected = spark.read.json(rej)
    assert(rejected.count() == 2)
    assert(rejected.select("reject_reason").collect()
      .map(_.getString(0)).sorted.toSeq ==
      Seq("malformed_json", "missing_path"))
    // the indexed handshake: the second message of the two-message
    // protocol, addressed with the requesting job's uuid
    val handshake = spark.read.json(ev)
    val h = handshake.select("uuid", "name", "n_files").collect()
    assert(h.exists(r => r.getString(0) == "job-C" &&
      r.getString(1) == "indexed" && r.getLong(2) == 2L))
    // reference config.yml defaults: state_enter=false, state_exit=true
    // — so exactly one forwarded exit event rides the log, no enter
    val fwd = handshake.where(col("name") === "index")
      .select("phase", "job_state", "n_files").collect()
    assert(fwd.map(_.getString(0)).toSeq == Seq("state_exit"))
    assert(fwd.head.getString(1) == "INDEXING") // transition=False:
    // the index action never moves the state itself
    assert(fwd.head.getLong(2) == 2L)
  }

  test("minify strips exactly the reference's key list, no-ops when absent") {
    val sp = spark
    import sp.implicits._
    val full = Seq(("u1", "index", "x", "y", "z", "keep"))
      .toDF("uuid", "name", "_links", "retries", "localId", "extra")
    val slim = IndexRequests.minify(full)
    assert(slim.columns.toSeq == Seq("uuid", "name", "extra"))
    // absent strip keys: drop is a no-op, nothing else is touched
    val already = Seq(("u1", "index")).toDF("uuid", "name")
    assert(IndexRequests.minify(already).columns.toSeq ==
      Seq("uuid", "name"))
    assert(slim.collect().head.toSeq == Seq("u1", "index", "keep"))
  }

  test("at-least-once redelivery: duplicated manifests and replayed " +
    "handshakes leave catalog state and job state idempotent") {
    val base = Files.createTempDirectory("graft_redeliver")
    val in = base.resolve("in"); Files.createDirectories(in)
    val out = base.resolve("catalog").toString
    val rej = base.resolve("rejected").toString
    val ev = base.resolve("events").toString
    val manifest =
      """{"doc_id": 1, "path": "a/x.csv", "n_chars": 10}
        |{"doc_id": 2, "path": "a/y.csv", "n_chars": 20}
        |""".stripMargin
    def drain(chk: String): Unit =
      IncrementalIndexer.startWithProtocol(spark, in.toString, out, rej,
        ev, chk, filters = Seq(IndexFilter("1", Seq("\\.csv$"))),
        generatedBy = "job-R").awaitTermination()

    val chk = base.resolve("chk").toString
    Files.writeString(in.resolve("m1.jsonl"), manifest)
    drain(chk)
    val once = IncrementalIndexer.catalogState(spark.read.parquet(out))
      .collect().map(_.toSeq).toSet
    assert(once.size == 2)

    // the messaging layer redelivers the SAME index request (new file =
    // new message; reference sends with retryMaxAttempts=10): the raw
    // append-only log grows, but the merge-on-read catalog state is
    // byte-identical — indexed exactly once
    // same checkpoint: the file source's exactly-once tracking skips
    // m1.jsonl and processes only the redelivered copy
    Files.writeString(in.resolve("m1_redelivered.jsonl"), manifest)
    drain(chk)
    assert(spark.read.parquet(out).count() == 4)
    assert(IncrementalIndexer.catalogState(spark.read.parquet(out))
      .collect().map(_.toSeq).toSet == once)

    // replay the handshake messages themselves (duplicate every event
    // line): the job-state fold dedupes on (uuid, batch_id), so state,
    // file count, and batch count are unchanged
    val statesBefore = IncrementalIndexer
      .jobStates(spark.read.json(ev)).collect().map(_.toSeq).toSet
    val evDir = java.nio.file.Paths.get(ev)
    java.nio.file.Files.list(evDir).forEach { p =>
      if (p.toString.endsWith(".json"))
        Files.writeString(evDir.resolve("replay_" + p.getFileName),
          Files.readString(p))
    }
    val statesAfter = IncrementalIndexer
      .jobStates(spark.read.json(ev)).collect().map(_.toSeq).toSet
    assert(statesAfter == statesBefore)
    assert(statesBefore.size == 1)
    val row = statesBefore.head
    // FINISHED with 2 files per delivered batch, 2 batches total — the
    // duplicate-manifest path above is visible here as n_batches=2,
    // exactly like the reference job manager seeing two indexed sends
    assert(row(1) == "FINISHED" && row(3) == 2L)
  }

  test("state_enter/state_exit forwarding: gated by settings, " +
    "standalone mutes forwarding but never the handshake") {
    import graft.streaming.IncrementalIndexer.ProtocolSettings
    def run(settings: ProtocolSettings): (Seq[String], Long) = {
      val base = Files.createTempDirectory("graft_fwd")
      val in = base.resolve("in"); Files.createDirectories(in)
      Files.writeString(in.resolve("w1.jsonl"),
        """{"doc_id": 1, "path": "a/x.csv", "n_chars": 10}
          |""".stripMargin)
      val q = IncrementalIndexer.startWithProtocol(spark, in.toString,
        base.resolve("catalog").toString, base.resolve("rej").toString,
        base.resolve("events").toString, base.resolve("chk").toString,
        filters = Seq(IndexFilter("1", Seq("\\.csv$"))),
        generatedBy = "job-F", settings = settings)
      q.awaitTermination()
      val evs = spark.read.json(base.resolve("events").toString)
      // with forwarding fully muted, no record carries `phase` and the
      // inferred schema omits it — that IS the expected empty case
      val phases =
        if (!evs.columns.contains("phase")) Seq.empty[String]
        else evs.where(col("name") === "index")
          .select("phase").collect().map(_.getString(0)).sorted.toSeq
      (phases, evs.where(col("name") === "indexed").count())
    }
    // both gates open: enter AND exit forwarded (reactor.py:130-176)
    assert(run(ProtocolSettings(stateEnter = true, stateExit = true)) ==
      (Seq("state_enter", "state_exit"), 1L))
    // both gates closed: nothing forwarded
    assert(run(ProtocolSettings(stateEnter = false, stateExit = false)) ==
      (Seq.empty, 1L))
    // standalone overrides open gates (reactor.py:32) — yet the
    // two-message handshake still sends (reactor.py:190-208)
    assert(run(ProtocolSettings(stateEnter = true, stateExit = true,
      standalone = true)) == (Seq.empty, 1L))
  }

  test("a clean one-file manifest drains in one Spark job and writes " +
    "no reject file") {
    val p = new Proto("graft_jobs")
    // jobs are tagged with the streaming query's id; a sentinel job from
    // this thread, seen after them on the same listener queue, proves
    // every earlier job start has been delivered
    val sentinel = s"graft-jobs-sentinel-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { props =>
          Seq("sql.streaming.queryId", "spark.jobGroup.id")
            .flatMap(k => Option(props.getProperty(k))).foreach(seen.add)
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val q = p.drain("m1.jsonl",
        """{"doc_id": 1, "path": "a/x.csv", "n_chars": 10}
          |{"doc_id": 2, "path": "a/y.csv", "n_chars": 20}
          |""".stripMargin, "job-J")
      sc.setJobGroup(sentinel, "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains(sentinel) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.contains(sentinel), "listener never saw the sentinel job")
      // the catalog write is the batch's only job: the bad-row and
      // n_files counts ride it, the events are driver-side appends
      assert(seen.asScala.count(_ == q.id.toString) == 1)
    } finally sc.removeSparkListener(listener)
    assert(p.files("rejected").isEmpty)
    assert(p.states("job-J") == Seq(("FINISHED", 2L, 1L)))
  }

  test("an all-bad manifest rejects every row with its reason, indexes " +
    "nothing and still hands off n_files = 0") {
    val p = new Proto("graft_allbad")
    p.drain("m1.jsonl",
      """not json
        |{"doc_id": 3, "n_chars": 30}
        |{"doc_id": 4, "path": null, "n_chars": 40}
        |""".stripMargin, "job-B")
    assert(spark.read.json(p.dir("rejected")).select("reject_reason")
      .collect().map(_.getString(0)).sorted.toSeq ==
      Seq("malformed_json", "missing_path", "missing_path"))
    assert(!p.files("catalog").exists(_.toString.endsWith(".parquet")))
    assert(p.states("job-B") == Seq(("FINISHED", 0L, 1L)))
  }

  test("a clean manifest that matches no filter hands off n_files = 0 " +
    "and rejects nothing") {
    val p = new Proto("graft_nomatch")
    p.drain("m1.jsonl",
      """{"doc_id": 1, "path": "a/x.txt", "n_chars": 10}
        |{"doc_id": 2, "path": "a/y.log", "n_chars": 20}
        |""".stripMargin, "job-N")
    assert(p.files("rejected").isEmpty)
    assert(!p.files("catalog").exists(_.toString.endsWith(".parquet")))
    val evs = spark.read.json(p.dir("events"))
    assert(evs.where(col("name") === "index")
      .select("phase", "n_files").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("state_exit", 0L)))
    assert(p.states("job-N") == Seq(("FINISHED", 0L, 1L)))
  }

  test("no filters and a null default level index nothing, still reject " +
    "bad rows and hand off n_files = 0") {
    val p = new Proto("graft_nulllevel")
    p.drain("m1.jsonl",
      """{"doc_id": 1, "path": "a/x.csv", "n_chars": 10}
        |not json
        |""".stripMargin, "job-V", filters = Nil, defaultLevel = null)
    assert(spark.read.json(p.dir("rejected")).select("reject_reason")
      .collect().map(_.getString(0)).toSeq == Seq("malformed_json"))
    assert(!p.files("catalog").exists(_.toString.endsWith(".parquet")))
    assert(p.states("job-V") == Seq(("FINISHED", 0L, 1L)))
  }

  test("event files land whole: no tmp leftovers, every visible file " +
    "parses as complete JSON lines") {
    val p = new Proto("graft_evfiles")
    p.drain("m1.jsonl",
      """{"doc_id": 1, "path": "a/x.csv", "n_chars": 10}
        |""".stripMargin, "job-E")
    p.drain("m2.jsonl",
      """{"doc_id": 2, "path": "a/y.csv", "n_chars": 20}
        |{"doc_id": 3, "path": "a/z.txt", "n_chars": 30}
        |""".stripMargin, "job-E")
    assert(!p.files("events").exists(_.getFileName.toString.endsWith(".tmp")))
    val visible = p.dataFiles("events")
    // one file per batch: the exit event and the handshake share it
    assert(visible.size == 2)
    val mapper = new ObjectMapper()
    val lines = visible.flatMap { f =>
      val text = Files.readString(f)
      assert(text.endsWith("\n"), s"$f ends mid-line")
      text.split("\n").toSeq
    }
    val names = lines.map(l => mapper.readTree(l).get("name").asText())
    assert(names.sorted == Seq("index", "index", "indexed", "indexed"))
    assert(p.states("job-E") == Seq(("FINISHED", 2L, 2L)))
  }

  test("jobStates folds on one uuid partitioning: a single Exchange, " +
    "duplicates collapsed") {
    val sp = spark
    import sp.implicits._
    val events = Seq(
      ("u1", "indexed", 2L, 0L), ("u1", "indexed", 2L, 0L),
      ("u1", "indexed", 3L, 1L), ("u2", "indexed", 0L, 0L),
      ("u2", "index", 5L, 0L))
      .toDF("uuid", "name", "n_files", "batch_id")
    val states = IncrementalIndexer.jobStates(events)
    object Plans extends AdaptiveSparkPlanHelper
    val exchanges = Plans.collect(states.queryExecution.executedPlan) {
      case e: ShuffleExchangeLike => e
    }
    assert(exchanges.size == 1, states.queryExecution.executedPlan.toString)
    assert(states.collect().map(_.toSeq).toSet == Set(
      Seq("u1", "FINISHED", 5L, 2L), Seq("u2", "FINISHED", 0L, 1L)))
  }
}
