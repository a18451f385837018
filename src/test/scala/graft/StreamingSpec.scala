package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{CompactionLoop, EventStream}
import graft.streaming.EventStream.{CatRec, Chg, Doc, Ev, PDoc, Session}

/** SURVEY.md §2 #40: streaming/batch equivalence. The same event set fed
  * through the Structured Streaming operators must produce exactly the
  * batch operators' results once the stream is drained.
  */
class StreamingSpec extends GraftSpec {

  private def loadEvents(): Seq[Ev] = {
    Tables.eventsUs(spark, sf)
      .select("event_id", "user_id", "event_type", "ts_us", "value")
      .collect()
      .map(r => Ev(r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getDouble(4)))
      .toSeq
  }

  test("streaming tumbling agg == batch ts_tumbling") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val events = loadEvents()
    val stream = MemoryStream[Ev]
    val q = EventStream.tumbling(stream.toDF())
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode("append").start()
    // three micro-batches to exercise incremental state, then a
    // watermark-advancing flush so every window closes
    val (b1, rest) = events.splitAt(events.size / 3)
    val (b2, b3) = rest.splitAt(rest.size / 2)
    Seq(b1, b2, b3).foreach { b => stream.addData(b); q.processAllAvailable() }
    val flushTs = events.map(_.ts_us).max + 100L * 3600L * 1000000L
    stream.addData(Ev(-1L, -1L, "flush", flushTs, 0.0))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("tumbling_out")
      .where(col("event_type") =!= "flush")
      .select("hour_us", "event_type", "n", "sum_value")
      .collect().map(_.toSeq).toSet
    val batch = operators.Temporal.tsTumbling(spark, sf)
      .select(col("hour_us"), col("event_type"), col("n"),
        col("sum_value"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
  }

  test("streaming sessionize == batch sessionize") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val events = loadEvents()
    val stream = MemoryStream[Ev]
    val q = EventStream.sessionize(stream.toDS())
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    val (b1, b2) = events.splitAt(events.size / 2)
    Seq(b1, b2).foreach { b => stream.addData(b); q.processAllAvailable() }
    // per-user far-future flush event closes every open session; its own
    // session is filtered out below by session start time
    val flushTs = events.map(_.ts_us).max + 100L * 3600L * 1000000L
    events.map(_.user_id).distinct.foreach { u =>
      stream.addData(Ev(-1L, u, "flush", flushTs, 0.0))
    }
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("sessions_out")
      .where(col("start_us") < flushTs)
      .select("user_id", "session_id", "n_events", "start_us", "end_us")
      .collect().map(_.toSeq).toSet
    val batch = operators.Temporal.sessionize(spark, sf)
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("start_us"), col("end_us"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
  }

  test("built-in session_window agg == batch sessionize (modulo numbering)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val events = loadEvents()
    val stream = MemoryStream[Ev]
    val q = EventStream.sessionWindowAgg(stream.toDF())
      .writeStream.format("memory").queryName("swin_out")
      .outputMode("append").start()
    val (b1, b2) = events.splitAt(events.size / 2)
    Seq(b1, b2).foreach { b => stream.addData(b); q.processAllAvailable() }
    // one far-future event advances the (global) watermark past every
    // open window's end, closing them all
    val flushTs = events.map(_.ts_us).max + 100L * 3600L * 1000000L
    stream.addData(Ev(-1L, -1L, "flush", flushTs, 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("swin_out")
      .where(col("start_us") < flushTs)
      .select("user_id", "n_events", "start_us", "end_us")
      .collect().map(_.toSeq).toSet
    val batch = operators.Temporal.sessionize(spark, sf)
      .select(col("user_id"), col("n_events"), col("start_us"),
        col("end_us"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
  }

  test("sessionize flushes idle users via event-time timeout") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val stream = MemoryStream[Ev]
    val q = EventStream.sessionize(stream.toDS())
      .writeStream.format("memory").queryName("timeout_out")
      .outputMode("append").start()
    val t0 = 1000L * 3600L * 1000000L // epoch + 1000h, in micros
    val hourUs = 3600L * 1000000L
    // user 100 has a 2-event session, then goes silent FOREVER
    stream.addData(Ev(1L, 100L, "a", t0, 0.0),
      Ev(2L, 100L, "a", t0 + 60L * 1000000L, 0.0))
    q.processAllAvailable()
    // a DIFFERENT user's far-future events advance the watermark past
    // user 100's gap horizon; two batches because the watermark computed
    // at the end of batch N drives the timeout sweep in batch N+1
    stream.addData(Ev(3L, 200L, "a", t0 + 100L * hourUs, 0.0))
    q.processAllAvailable()
    stream.addData(Ev(4L, 200L, "a", t0 + 101L * hourUs, 0.0))
    q.processAllAvailable()
    q.stop()
    // the idle user's open session was emitted WITHOUT any closing event
    val flushed = spark.table("timeout_out")
      .where(col("user_id") === 100L)
      .select("session_id", "n_events", "start_us", "end_us")
      .collect().map(_.toSeq)
    assert(flushed.toSeq ==
      Seq(Seq(1L, 2L, t0, t0 + 60L * 1000000L)))
  }

  test("stream-stream interval join == batch view->purchase join") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val events = loadEvents()
    val stream = MemoryStream[Ev]
    val q = EventStream.viewPurchaseJoin(stream.toDF())
      .writeStream.format("memory").queryName("vp_out")
      .outputMode("append").start()
    // three batches: join state must hold views across batch boundaries
    // until the purchase side's watermark proves no more matches
    val (b1, rest) = events.splitAt(events.size / 3)
    val (b2, b3) = rest.splitAt(rest.size / 2)
    Seq(b1, b2, b3).foreach { b => stream.addData(b); q.processAllAvailable() }
    val flushTs = events.map(_.ts_us).max + 100L * 3600L * 1000000L
    stream.addData(Ev(-1L, -1L, "view", flushTs, 0.0))
    stream.addData(Ev(-2L, -1L, "purchase", flushTs, 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("vp_out")
      .where(col("user_id") =!= -1L)
      .collect().map(_.toSeq).toSet
    val batch = EventStream.viewPurchaseBatch(
      Tables.eventsUs(spark, sf)
        .select("event_id", "user_id", "event_type", "ts_us", "value"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("watermarked streaming dedup == batch dropDuplicates") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val events = loadEvents()
    val stream = MemoryStream[Ev]
    val q = EventStream.dedupEventsStream(stream.toDF())
      .writeStream.format("memory").queryName("evdedup_out")
      .outputMode("append").start()
    // send every batch twice: cross-batch duplicates must be suppressed
    val (b1, b2) = events.splitAt(events.size / 2)
    Seq(b1, b1, b2, b2).foreach { b => stream.addData(b); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("evdedup_out")
      .collect().map(_.toSeq).toSet
    val batch = Tables.eventsUs(spark, sf)
      .select("event_id", "user_id", "event_type", "ts_us", "value")
      .dropDuplicates("event_id")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
  }

  test("streaming minhash-LSH candidate index == batch lshCandidates, " +
      "idempotent under redelivery") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val docs = Tables(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => Doc(r.getLong(0), r.getString(1))).sortBy(_.doc_id).toSeq
    val stream = MemoryStream[Doc]
    val q = EventStream
      .nearDupCandidatesStream(stream.toDS(), numHashes = 16, bandRows = 4)
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    // two batches, then REDELIVER the first batch: the per-bucket state
    // must suppress the replayed ids, so no pair is emitted twice with
    // swapped order and no self-pair appears
    val (b1, b2) = docs.splitAt(docs.size / 2)
    Seq(b1, b2, b1).foreach { b => stream.addData(b); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("neardup_out")
      .select("id_a", "id_b").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val grams = Tables(spark, sf, "documents")
      .withColumn("hsh", expr("ngram_hashes(split(text, ' '), 3)"))
      .select("doc_id", "hsh")
    val batch = operators.Dedup.lshCandidates(grams, "hsh", 16, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch,
      s"stream-only: ${streamed.diff(batch).take(5)}, " +
        s"batch-only: ${batch.diff(streamed).take(5)}")
    // and the verified near-dup set is reachable from the streamed
    // candidates: every batch-verified pair is a streamed candidate
    val verified = operators.Dedup.dedupMinhashLsh(spark, sf)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.subsetOf(streamed))
  }

  test("streamed near-dup ingest (family #24): transformWithState LSH " +
      "signature index with in-stream exact-Jaccard verify == batch " +
      "dedup_minhash_lsh on a planted re-ingest slice, across batch " +
      "boundaries and under full redelivery") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // the TWS RocksDB scoping discipline (the #22 pattern)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = sp.conf.getOption(key)
    sp.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    val base = Tables(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => Doc(r.getLong(0), r.getString(1))).sortBy(_.doc_id).toSeq
    // planted re-ingest: every 7th doc returns under a fresh id (the
    // dedup_incremental device) — guaranteed j=1.0 near-dups, so the
    // verify leg is exercised whatever the organic near-dup density
    val replay = base.filter(_.doc_id % 7 == 0)
      .map(d => Doc(d.doc_id + 5000000L, d.text))
    val docs = base ++ replay
    val streamed = try {
      val stream = MemoryStream[Doc]
      val q = EventStream
        .nearDupIngestStream(stream.toDS(), numHashes = 16, bandRows = 4)
        .writeStream.format("memory").queryName("neardup_ingest_out")
        .outputMode("append").start()
      // two batches, then redeliver the FIRST batch: the occupant
      // state must suppress replayed ids (no duplicate/self matches)
      val (b1, b2) = docs.splitAt(docs.size / 2)
      Seq(b1, b2, b1).foreach { b =>
        stream.addData(b); q.processAllAvailable()
      }
      q.stop()
      spark.table("neardup_ingest_out").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    } finally {
      prev match {
        case Some(v) => sp.conf.set(key, v)
        case None => sp.conf.unset(key)
      }
    }
    // the batch contract over the SAME planted frame
    val doc = Tables(spark, sf, "documents").select("doc_id", "text")
    val union = doc.unionByName(doc.where(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text")))
    val sh = union
      .withColumn("hsh", expr("ngram_hashes(split(text, ' '), 3)"))
      .select("doc_id", "hsh")
    val batch = operators.Dedup.minhashPairsOn(sh, 16, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(streamed == batch,
      s"stream-only: ${streamed.diff(batch).take(5)}, " +
        s"batch-only: ${batch.diff(streamed).take(5)}")
    // non-vacuous: every planted re-ingest pair is found at j = 1.0
    val planted = base.filter(_.doc_id % 7 == 0)
      .map(d => (d.doc_id, d.doc_id + 5000000L, 1.0)).toSet
    assert(planted.subsetOf(streamed), "planted re-ingests missed")
  }

  test("streaming exact dedup == batch dedup_exact keep set") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val docs = Tables(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => Doc(r.getLong(0), r.getString(1))).sortBy(_.doc_id).toSeq
    val stream = MemoryStream[Doc]
    val q = EventStream.dedupExactStream(stream.toDS())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    // two batches; re-send the first batch again to exercise the
    // cross-batch state (all re-sent docs must be suppressed)
    val (b1, b2) = docs.splitAt(docs.size / 2)
    Seq(b1, b2, b1).foreach { b => stream.addData(b); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("dedup_out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val batch = operators.Dedup.dedupExact(spark, sf)
      .select("keep_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch)
  }

  test("transformWithState timer sessionize == batch sessionize") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = sp.conf.getOption(key)
    sp.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val events = loadEvents()
      val stream = MemoryStream[Ev]
      val q = EventStream.sessionizeTws(stream.toDS())
        .writeStream.format("memory").queryName("tws_sessions_out")
        .outputMode("append").start()
      val (b1, b2) = events.splitAt(events.size / 2)
      Seq(b1, b2).foreach { b => stream.addData(b); q.processAllAvailable() }
      // a single far-future event advances the watermark past every
      // open session's idle deadline → the TIMERS flush them
      val flushTs = events.map(_.ts_us).max + 100L * 3600L * 1000000L
      stream.addData(Ev(-1L, -1L, "flush", flushTs, 0.0))
      q.processAllAvailable()
      q.stop()
      val streamed = spark.table("tws_sessions_out")
        .where(col("user_id") >= 0)
        .select("user_id", "session_id", "n_events", "start_us", "end_us")
        .collect().map(_.toSeq).toSet
      val batch = operators.Temporal.sessionize(spark, sf)
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("start_us"), col("end_us"))
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
    } finally {
      prev match {
        case Some(v) => sp.conf.set(key, v)
        case None => sp.conf.unset(key)
      }
    }
  }

  test("transformWithState running totals == batch aggregate") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // transformWithState requires the RocksDB state store; scope the
    // provider override to this query and restore the default after
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = sp.conf.getOption(key)
    sp.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val events = loadEvents()
      val stream = MemoryStream[Ev]
      val q = EventStream.runningTotals(stream.toDS())
        .writeStream.format("memory").queryName("totals_out")
        .outputMode("update").start()
      val (b1, rest) = events.splitAt(events.size / 3)
      val (b2, b3) = rest.splitAt(rest.size / 2)
      Seq(b1, b2, b3).foreach { b =>
        stream.addData(b); q.processAllAvailable()
      }
      q.stop()
      // totals are monotone per user: the max emission is the final one
      val streamed = spark.table("totals_out")
        .groupBy("user_id")
        .agg(max("n_events").as("n"), max("sum_scaled").as("s"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val batch = Tables.eventsUs(spark, sf)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          sum(expr("cast(floor(value * 10000.0 + 0.5) as bigint)")).as("s"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(streamed == batch)
    } finally {
      prev match {
        case Some(v) => sp.conf.set(key, v)
        case None => sp.conf.unset(key)
      }
    }
  }

  test("stream-static dim enrichment == batch left join") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val events = loadEvents()
    val dim = Tables(spark, sf, "customer")
      .select("c_custkey", "c_mktsegment")
    val stream = MemoryStream[Ev]
    val q = EventStream.enrichStream(stream.toDF(), dim)
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    val (b1, b2) = events.splitAt(events.size / 2)
    Seq(b1, b2).foreach { b => stream.addData(b); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("enrich_out").collect().map(_.toSeq).toSet
    val batch = EventStream.enrichStream(
      Tables.eventsUs(spark, sf)
        .select("event_id", "user_id", "event_type", "ts_us", "value"),
      dim).collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("foreachBatch incremental view maintenance == batch tumbling agg") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val events = loadEvents()
    val outDir = java.nio.file.Files
      .createTempDirectory("graft_ivm").toString
    val stream = MemoryStream[Ev]
    // the IVM pattern: each micro-batch appends PARTIAL aggregates
    // (mergeable: counts + decimal sums) to a keyed store; the view is
    // the merge-on-read re-aggregation. No per-key state in the stream,
    // no watermark needed — late data just lands as one more partial.
    val q = stream.toDF()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch
          .withColumn("hour_us", expr("(ts_us div 3600000000) * 3600000000"))
          .groupBy("hour_us", "event_type")
          .agg(count(lit(1)).as("pn"),
            sum(col("value").cast("decimal(18,2)")).as("psum"))
          .write.mode("append").parquet(outDir)
        ()
      }
      .start()
    // uneven batches, one of them out of time order: merge-on-read IVM
    // must be insensitive to both
    val (b1, rest) = events.splitAt(events.size / 4)
    val (b2, b3) = rest.splitAt(rest.size / 3)
    Seq(b2, b1, b3).foreach { b => stream.addData(b); q.processAllAvailable() }
    q.stop()
    val merged = spark.read.parquet(outDir)
      .groupBy("hour_us", "event_type")
      .agg(sum(col("pn")).cast("long").as("n"),
        sum(col("psum")).cast("double").as("sum_value"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val batch = operators.Temporal.tsTumbling(spark, sf)
      .select("hour_us", "event_type", "n", "sum_value")
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(merged == batch)
  }

  test("streaming running z-score anomalies == batch prefix reference") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val events = loadEvents()
    val stream = MemoryStream[Ev]
    // retention longer than the table's event-time span: the default
    // 24h horizon would (correctly) forget users idle across a
    // micro-batch watermark jump, which the full-prefix batch
    // reference doesn't model
    val q = EventStream.anomalyStream(stream.toDS(),
        retentionUs = 365L * 24 * 3600 * 1000000L)
      .writeStream.format("memory").queryName("anom_out")
      .outputMode("append").start()
    // three micro-batches so per-user moments must carry across state.
    // Batches are time-ordered so the advancing watermark can't drop
    // any event as late — the equivalence claim is for in-watermark
    // data (late events are watermark-dropped by design).
    val ordered = events.sortBy(e => (e.ts_us, e.event_id))
    val (b1, rest) = ordered.splitAt(events.size / 3)
    val (b2, b3) = rest.splitAt(rest.size / 2)
    Seq(b1, b2, b3).foreach { b => stream.addData(b); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("anom_out")
      .select("event_id", "z").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val batch = EventStream.anomalyPrefixBatch(
        Tables.eventsUs(spark, sf)
          .select("event_id", "user_id", "event_type", "ts_us", "value"))
      .select("event_id", "z").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(streamed.nonEmpty)
    assert(streamed.keySet == batch.keySet)
    streamed.foreach { case (id, z) =>
      assert(math.abs(z - batch(id)) < 1e-9, s"event $id z drifted")
    }
  }

  test("streaming heavy hitters: per-batch MG candidates + mergeable " +
      "partial counts == exact batch heavy hitters") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val events = loadEvents()
    val k = 16
    // item stream with real cardinality (~|types| × 97) AND real skew:
    // ~30% of the mass lands on 3 hot items, the rest spreads thin —
    // so the true heavy-hitter set is small and the candidate union
    // must actually prune (all-uniform items would make the test
    // vacuous: either everything or nothing is a heavy hitter)
    def itemCol = when(pmod(col("user_id"), lit(10)) < 3,
        concat(lit("hot:"), pmod(col("user_id"), lit(3)).cast("string")))
      .otherwise(concat(col("event_type"), lit(":"),
        pmod(col("user_id"), lit(97)).cast("string")))
    val candDir = java.nio.file.Files
      .createTempDirectory("graft_hh_cand").toString
    val partDir = java.nio.file.Files
      .createTempDirectory("graft_hh_part").toString
    val stream = MemoryStream[Ev]
    // The streaming shape of #104: each micro-batch contributes (a) its
    // MG top-k CANDIDATE set and (b) exact per-item partial counts.
    // Soundness of the union: if freq(x) > N/k globally then some batch
    // has freq_b(x) > n_b/k (pigeonhole over Σn_b = N), and MG's
    // superset guarantee surfaces x as that batch's candidate — so the
    // union of per-batch candidates covers every global heavy hitter,
    // and the merged partials recount them exactly.
    val q = stream.toDF()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val items = batch.select(itemCol.as("item"))
        items.agg(expr(s"mg_topk(item, $k)").as("cands"))
          .select(explode(col("cands")).as("cand"))
          .write.mode("append").parquet(candDir)
        items.groupBy("item").agg(count(lit(1)).as("pn"))
          .write.mode("append").parquet(partDir)
        ()
      }
      .start()
    // uneven batches, one out of time order — the merge is insensitive
    val (b1, rest) = events.splitAt(events.size / 4)
    val (b2, b3) = rest.splitAt(rest.size / 3)
    Seq(b2, b1, b3).foreach { b => stream.addData(b); q.processAllAvailable() }
    q.stop()
    val cands = spark.read.parquet(candDir).distinct()
    val counts = spark.read.parquet(partDir)
      .groupBy("item").agg(sum("pn").as("n"))
    val total = counts.agg(sum("n")).head().getLong(0)
    val streamed = counts
      .join(cands, col("item") === col("cand"), "left_semi")
      .where(col("n") * k > total)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // exact batch reference: no sketch, no candidates
    val batchRef = Tables.eventsUs(spark, sf)
      .select(itemCol.as("item"))
      .groupBy("item").agg(count(lit(1)).as("n"))
      .where(col("n") * k > total)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed.nonEmpty, "degenerate: no heavy hitters at this k")
    assert(streamed == batchRef)
  }

  test("streaming CDC merge-on-read == batch cdc_merge_apply, " +
      "idempotent under redelivery") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // the same change batch #238 synthesizes, as a stream of change
    // records: base upserts (seq 0), price updates for keys % 7 (seq
    // 1), deletes for keys % 11 (seq 2 — beating the update, exactly
    // #238's delete-wins), offset-key inserts for keys % 13 (seq 0)
    val base = Tables(spark, sf, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    val chgs: Seq[Chg] =
      base.map { case (k, s, p) => Chg(0L, k, "upsert", s, p) } ++
      base.collect { case (k, s, p) if k % 7 == 0 =>
        Chg(1L, k, "upsert", s, p + 100.0) } ++
      base.collect { case (k, s, p) if k % 11 == 0 =>
        Chg(2L, k, "delete", s, p) } ++
      base.collect { case (k, s, p) if k % 13 == 0 =>
        Chg(0L, k + 3000000000L, "upsert", s, p) }
    val logDir = java.nio.file.Files
      .createTempDirectory("graft_cdc_log").toString
    val stream = MemoryStream[Chg]
    // append-only foreachBatch: no read-modify-write, so replays can
    // only add duplicate rows — which merge-on-read collapses
    val q = stream.toDS().writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Chg], _: Long) =>
        b.write.mode("append").parquet(logDir); ()
      }
      .start()
    def mergedNow() = {
      import graft.Exprs.sumDec
      EventStream.cdcState(spark.read.parquet(logDir))
        .groupBy(col("status").as("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"),
          sumDec(col("price"), 38, 2).as("total_price"),
          sum(when(col("seq") === 1L, 1L).otherwise(0L)).as("n_updated"),
          sum(when(col("key") >= 3000000000L, 1L).otherwise(0L))
            .as("n_inserted"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getLong(3), r.getLong(4))).toSet
    }
    // three uneven micro-batches, out of causal order across keys
    val (b1, rest) = chgs.splitAt(chgs.size / 4)
    val (b2, b3) = rest.splitAt(rest.size / 2)
    Seq(b2, b1, b3).foreach { b => stream.addData(b); q.processAllAvailable() }
    val beforeReplay = mergedNow()
    // at-least-once delivery: an entire micro-batch arrives AGAIN
    stream.addData(b2)
    q.processAllAvailable()
    q.stop()
    val afterReplay = mergedNow()
    assert(afterReplay == beforeReplay,
      "redelivered change records must not change merged state")
    val batchRef = operators.Zenith.cdcMergeApply(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(afterReplay == batchRef)
  }

  test("streaming KMV distinct sketch: per-batch k-min partials merged " +
      "on read == batch union_direct sketch (#254's lattice, streamed)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val k = 64
    val events = loadEvents()
    val partDir = java.nio.file.Files
      .createTempDirectory("graft_kmv_part").toString
    val stream = MemoryStream[Ev]
    // Each micro-batch appends ITS OWN k-min set of distinct-user
    // hashes (bounded state: <= k rows per batch). Merge-on-read takes
    // the k smallest of the union — the same lattice property
    // #254 proves batch-side: k-min(A ∪ B) = k-min(k-min(A) ∪ k-min(B)).
    val q = stream.toDF()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select(col("user_id")).distinct()
          .withColumn("hv",
            conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
              .cast("long"))
          .select("hv").distinct().orderBy("hv").limit(k)
          .write.mode("append").parquet(partDir)
        ()
      }
      .start()
    // uneven batches, delivered out of time order; one batch REPLAYED —
    // k-min union is idempotent, so redelivery cannot move the sketch
    val (b1, rest) = events.splitAt(events.size / 4)
    val (b2, b3) = rest.splitAt(rest.size / 3)
    Seq(b2, b1, b3, b1).foreach { b =>
      stream.addData(b); q.processAllAvailable()
    }
    q.stop()
    val merged = spark.read.parquet(partDir)
      .select("hv").distinct().orderBy("hv").limit(k)
      .agg(count(lit(1)).as("sketch_size"), max("hv").as("kth_hv"))
      .head()
    val direct = operators.Pinnacle.aggSketchUnion(spark, sf)
      .where(col("scope") === "union_direct")
      .head()
    assert(merged.getAs[Long]("sketch_size") ==
      direct.getAs[Long]("sketch_size"))
    if (merged.getAs[Long]("sketch_size") == k)
      assert(merged.getAs[Long]("kth_hv") == direct.getAs[Long]("kth_hv"))
  }

  test("streaming bottom-k sample (#322 streamed): per-batch bottom-k " +
      "partials merged on read == the batch SampleSketch exemplars, " +
      "idempotent under a replayed batch (the KMV lattice emitting " +
      "sample ROWS)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val k = 32
    val events = loadEvents()
    val partDir = java.nio.file.Files
      .createTempDirectory("graft_bk_part").toString
    val stream = MemoryStream[Ev]
    // Each micro-batch appends ITS OWN per-type bottom-k rows
    // (bounded state: <= k rows per type per batch). Merge-on-read
    // takes the bottom-k of the union per type — k-min(A ∪ B) =
    // k-min(k-min(A) ∪ k-min(B)), and the SET of (h, id) keys makes a
    // replayed batch rewrite identical rows, never new ones.
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("h", "event_id")
    val q = stream.toDF()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select(col("event_type"), col("event_id"),
            expr("cast(floor(value * 100.0 + 0.5) as bigint)").as("c"))
          .withColumn("h",
            conv(substring(md5(col("event_id").cast("string")), 1, 15),
              16, 10).cast("long"))
          .withColumn("rn", row_number().over(wk))
          .where(col("rn") <= k)
          .drop("rn")
          .write.mode("append").parquet(partDir)
        ()
      }
      .start()
    val (b1, rest) = events.splitAt(events.size / 4)
    val (b2, b3) = rest.splitAt(rest.size / 3)
    Seq(b2, b1, b3, b1).foreach { b =>
      stream.addData(b); q.processAllAvailable()
    }
    q.stop()
    val merged = spark.read.parquet(partDir)
      .distinct() // a replayed batch rewrote identical rows
      .withColumn("rn", row_number().over(wk))
      .where(col("rn") <= k)
      .groupBy("event_type")
      .agg(count(lit(1)).as("sample_n"), sum("c").as("sample_sum_cents"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val batchRef = operators.Analytics.sampleBottomk(spark, sf)
      .select("event_type", "sample_n", "sample_sum_cents")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(merged == batchRef,
      "streamed merge-on-read sample diverged from the batch sketch")
  }

  test("streaming key-skew audit: per-batch additive key-count partials " +
      "keyed by a content-derived batch tag merged on read == batch " +
      "per-key counts, idempotent under a replayed batch (#262 streamed)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val events = loadEvents()
    val partDir = java.nio.file.Files
      .createTempDirectory("graft_skew_part").toString
    val stream = MemoryStream[Ev]
    // Each micro-batch appends its per-key counts tagged with a
    // CONTENT-derived batch key (min event_id — unique per real batch,
    // identical for a redelivered one). Counts are additive, so unlike
    // the KMV lattice they are NOT naturally idempotent: exactly-once
    // under at-least-once delivery comes from the merge-on-read dedup
    // per (src_batch, key) — a redelivered batch rewrites identical
    // rows, never double-counts.
    val q = stream.toDF()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.groupBy(col("user_id").as("key"))
          .agg(count(lit(1)).as("cnt"))
          .crossJoin(batch.agg(min("event_id").as("src_batch")))
          .write.mode("append").parquet(partDir)
        ()
      }
      .start()
    val (b1, rest) = events.splitAt(events.size / 4)
    val (b2, b3) = rest.splitAt(rest.size / 3)
    Seq(b2, b1, b3, b1).foreach { b =>
      stream.addData(b); q.processAllAvailable()
    }
    q.stop()
    val merged = spark.read.parquet(partDir)
      .groupBy("src_batch", "key").agg(max("cnt").as("cnt"))
      .groupBy("key").agg(sum("cnt").as("key_rows"))
    val direct = events.toDF()
      .groupBy(col("user_id").as("key"))
      .agg(count(lit(1)).as("key_rows"))
    assert(merged.except(direct).count() == 0)
    assert(direct.except(merged).count() == 0)
    // the downstream audit reads (max / n_keys / top-5) agree
    val m = merged.agg(max("key_rows"), count(lit(1))).head()
    val d = direct.agg(max("key_rows"), count(lit(1))).head()
    assert(m == d)
    val top5 = (df: org.apache.spark.sql.DataFrame) =>
      df.orderBy(desc("key_rows"), col("key")).limit(5)
        .collect().map(_.toSeq).toSeq
    assert(top5(merged) == top5(direct))
  }

  test("streaming Bollinger breakout == batch ts_bollinger_breakout " +
      "(#268 streamed): integer band carried across micro-batch state") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val events = loadEvents()
    val stream = MemoryStream[Ev]
    val q = EventStream.bollingerStream(stream.toDS())
      .writeStream.format("memory").queryName("boll_out")
      .outputMode("append").start()
    // time-ordered batches: the trailing frame is prefix-computable,
    // so cross-batch ring-buffer state must reproduce the batch frame
    val ordered = events.sortBy(e => (e.ts_us, e.event_id))
    val (b1, rest) = ordered.splitAt(events.size / 3)
    val (b2, b3) = rest.splitAt(rest.size / 2)
    Seq(b1, b2, b3).foreach { b => stream.addData(b); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("boll_out")
      .select("event_id", "side").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val batch = operators.Summit.tsBollingerBreakout(spark, sf)
      .select("event_id", "side").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed.nonEmpty)
    assert(streamed.keySet == batch.keySet)
    streamed.foreach { case (id, s) => assert(s == batch(id)) }
  }

  test("streaming quantile digest: per-batch bucket-count partials " +
      "merged on read == batch agg_qdigest estimates, idempotent under " +
      "a replayed batch (#286 streamed)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import graft.functions.QuantileSketch
    val events = loadEvents()
    val partDir = java.nio.file.Files
      .createTempDirectory("graft_qd_part").toString
    val stream = MemoryStream[Ev]
    // Each micro-batch appends its OWN bucket histogram (≤488 rows per
    // type per batch) tagged by a CONTENT-derived batch id; the
    // log2-linear bucket function is a pure function of the value, so
    // partials are additive and merge in ANY order — redelivery dedups
    // on the content tag before the sum.
    val q = stream.toDS()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Ev], _: Long) =>
        val tag = batch.agg(sum("event_id")).head().getLong(0)
        batch.map(e => (e.event_type,
            QuantileSketch.bucketOf(
              math.floor(e.value * 100.0 + 0.5).toLong)))
          .toDF("event_type", "bucket")
          .groupBy("event_type", "bucket").agg(count(lit(1)).as("cnt"))
          .withColumn("src_tag", lit(tag))
          .write.mode("append").parquet(partDir)
        ()
      }
      .start()
    // uneven batches out of time order; one batch fully REPLAYED
    val (b1, rest) = events.splitAt(events.size / 4)
    val (b2, b3) = rest.splitAt(rest.size / 3)
    Seq(b2, b1, b3, b1).foreach { b =>
      stream.addData(b); q.processAllAvailable()
    }
    q.stop()
    val counts = spark.read.parquet(partDir)
      .dropDuplicates("src_tag", "event_type", "bucket")
      .groupBy("event_type", "bucket").agg(sum("cnt").as("c"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1)
    def estimate(t: String, qq: Double): Long = {
      val buckets = counts(t).map(x => (x._2, x._3)).sortBy(_._1)
      val n = buckets.map(_._2).sum
      val rank = math.max(1L, math.ceil(qq * n).toLong)
      var cum = 0L
      buckets.collectFirst {
        case (b, c) if { cum += c; cum >= rank } =>
          QuantileSketch.lowerBound(b)
      }.get
    }
    val batchSide = operators.Pinnacle.aggQdigest(spark, sf).collect()
    assert(batchSide.nonEmpty)
    batchSide.foreach { r =>
      val t = r.getAs[String]("event_type")
      assert(estimate(t, 0.5) == r.getAs[Long]("p50_est"), s"$t p50")
      assert(estimate(t, 0.9) == r.getAs[Long]("p90_est"), s"$t p90")
      assert(estimate(t, 0.99) == r.getAs[Long]("p99_est"), s"$t p99")
    }
  }

  test("sessionizeTws soak: scrambled batch order, cross-batch late " +
      "events inside the watermark, and a fully redelivered batch " +
      "still equal batch sessionize") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = sp.conf.getOption(key)
    sp.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val gapUs = 1800000000L // the operator's 30-min session gap
      val minUs = 60L * 1000000L
      // Dense synthetic corpus (the REAL event log is ~43 min/event —
      // any cross-batch laggard there is days late, far outside the
      // 1-hour watermark; batch-operator equivalence on the real log
      // is the PREVIOUS test's job): 40 users, 2-4 sessions each,
      // 7-min intra-session strides, 3-hour inter-session gaps.
      var eid = 0L
      val synthetic = (for {
        u <- 1L to 40L
        s <- 0L to (u % 3 + 1)
        k <- 0L to (4 + (u + s) % 5)
      } yield {
        eid += 1
        Ev(eid, u, "view",
          u * 13 * minUs + s * 3L * 60 * minUs + k * 7 * minUs, 1.0)
      }).sortBy(e => (e.ts_us, e.event_id))
      // reference fold = the batch gap semantics over the full corpus
      val expected = synthetic.groupBy(_.user_id).flatMap { case (u, es) =>
        val runs = es.sortBy(e => (e.ts_us, e.event_id))
          .foldLeft(List.empty[List[Ev]]) {
            case (acc @ (cur :: rest), e)
                if e.ts_us - cur.head.ts_us <= gapUs =>
              (e :: cur) :: rest
            case (acc, e) => List(e) :: acc
          }.reverse.map(_.reverse)
        runs.zipWithIndex.map { case (r, i) =>
          Seq(u, (i + 1).toLong, r.size.toLong, r.head.ts_us, r.last.ts_us)
        }
      }.toSet

      // 2-hour event-time chunks; hold back INTERIOR session events
      // (a within-gap predecessor delivered earlier bridges the
      // session; a within-gap successor keeps it open) whose ts is
      // within 50 min of the chunk max (< the 1-h watermark) and
      // deliver them one batch LATE; one laggard per user overall so
      // laggards never depend on each other.
      val chunkUs = 2L * 60 * minUs
      val chunks = synthetic.groupBy(e => e.ts_us / chunkUs).toSeq
        .sortBy(_._1).map(_._2.sortBy(e => (e.ts_us, e.event_id)))
      val nChunks = chunks.size
      val held = Array.fill(nChunks)(Seq.newBuilder[Ev])
      val heldIds = scala.collection.mutable.Set[Long]()
      val usedUsers = scala.collection.mutable.Set[Long]()
      var parity = 0
      for (i <- 0 until nChunks - 1) {
        val chunkMax = chunks(i).map(_.ts_us).max
        chunks(i).foreach { e =>
          val fresh = e.ts_us >= chunkMax - 50L * minUs
          lazy val succ = synthetic.exists(s => s.user_id == e.user_id &&
            s.ts_us > e.ts_us && s.ts_us - e.ts_us <= gapUs)
          lazy val pred = synthetic.exists(p => p.user_id == e.user_id &&
            p.ts_us < e.ts_us && e.ts_us - p.ts_us <= gapUs)
          if (fresh && !usedUsers.contains(e.user_id) && succ && pred) {
            parity += 1
            if (parity % 3 == 0) {
              held(i) += e
              heldIds += e.event_id
              usedUsers += e.user_id
            }
          }
        }
      }
      val totalHeld = heldIds.size
      assert(totalHeld >= 5, s"soak too weak: only $totalHeld laggards")

      val stream = MemoryStream[Ev]
      val q = EventStream.sessionizeTwsExactlyOnce(stream.toDF())
        .writeStream.format("memory").queryName("tws_soak_out")
        .outputMode("append").start()
      for (i <- 0 until nChunks) {
        val delivered = chunks(i).filterNot(e => heldIds.contains(e.event_id))
        val laggards = if (i > 0) held(i - 1).result() else Seq.empty
        // scramble within-batch order: the operator's per-batch sort
        // must not rely on arrival order
        val batchRows = (delivered ++ laggards).sortBy(_.event_id)
        stream.addData(batchRows)
        q.processAllAvailable()
        if (i == 1 && batchRows.nonEmpty) {
          // full at-least-once redelivery of an entire batch
          stream.addData(batchRows)
          q.processAllAvailable()
        }
      }
      val flushTs = synthetic.map(_.ts_us).max + 100L * 3600L * 1000000L
      stream.addData(Ev(-1L, -1L, "flush", flushTs, 0.0))
      q.processAllAvailable()
      q.stop()

      val streamed = spark.table("tws_soak_out")
        .where(col("user_id") >= 0)
        .select("user_id", "session_id", "n_events", "start_us", "end_us")
        .collect().map(_.toSeq).toSet
      assert(streamed == expected)
    } finally {
      prev match {
        case Some(v) => sp.conf.set(key, v)
        case None => sp.conf.unset(key)
      }
    }
  }

  test("streaming HyperLogLog: per-batch register partials merged on " +
      "read (register-wise MAX) == the batch sketch's exact S, " +
      "idempotent under a replayed batch (#293 streamed)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val events = loadEvents()
    val partDir = java.nio.file.Files
      .createTempDirectory("graft_hll_part").toString
    val stream = MemoryStream[Ev]
    // Each micro-batch appends ITS OWN 512-register array per event
    // type (bounded state: one array row per (batch, type)). The
    // register algebra is MAX — commutative, associative, IDEMPOTENT —
    // so merge-on-read is a register-wise max and a redelivered batch
    // cannot move the sketch (the same lattice argument as the KMV
    // k-min proof).
    val q = stream.toDF()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.groupBy("event_type")
          .agg(expr("hll_regs(cast(user_id as string))").as("regs"))
          .write.mode("append").parquet(partDir)
        ()
      }
      .start()
    val (b1, rest) = events.splitAt(events.size / 4)
    val (b2, b3) = rest.splitAt(rest.size / 3)
    Seq(b2, b1, b3, b1).foreach { b =>
      stream.addData(b); q.processAllAvailable()
    }
    q.stop()
    // merge-on-read: register-wise max across batch partials, then the
    // exact harmonic denominator S from the merged registers
    val merged = spark.read.parquet(partDir)
      .select(col("event_type"), posexplode(col("regs")))
      .groupBy("event_type", "pos").agg(max("col").as("m"))
      .groupBy("event_type")
      .agg(sum(expr("shiftleft(1L, 56 - m)")
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("s"))
      .collect()
      .map(r => r.getString(0) -> BigInt(r.getDecimal(1).toBigInteger))
      .toMap
    val batchRef = events.toDF()
      .groupBy("event_type")
      .agg(expr("hll_agg(cast(user_id as string))").as("s"))
      .collect()
      .map(r => r.getString(0) -> BigInt(r.getDecimal(1).toBigInteger))
      .toMap
    assert(merged == batchRef,
      "streamed register merge must equal the batch sketch exactly")
  }

  test("streaming moment partials: per-batch (n, sum, sumsq) tagged by " +
      "a content-derived batch key, merged on read == batch Welch t " +
      "exactly, idempotent under a replayed batch (#302 streamed)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val events = loadEvents()
    val partDir = java.nio.file.Files
      .createTempDirectory("graft_mom_part").toString
    val stream = MemoryStream[Ev]
    // Additive DECIMAL moments are the mergeable state behind the
    // whole inferential kit (#302/#307/#308/#310); like the key-skew
    // counts they are NOT idempotent, so exactly-once under
    // at-least-once delivery comes from the merge-on-read dedup per
    // (src_batch, type).
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val q = stream.toDF()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch
          .select(col("event_type"),
            expr("cast(floor(value * 100.0 + 0.5) as bigint)").as("c"),
            col("event_id"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("c").cast(dec38)).as("s"),
            sum((col("c") * col("c")).cast(dec38)).as("q"))
          .crossJoin(batch.agg(min("event_id").as("src_batch")))
          .write.mode("append").parquet(partDir)
        ()
      }
      .start()
    val (b1, rest) = events.splitAt(events.size / 4)
    val (b2, b3) = rest.splitAt(rest.size / 3)
    Seq(b2, b1, b3, b1).foreach { b =>
      stream.addData(b); q.processAllAvailable()
    }
    q.stop()
    val merged = spark.read.parquet(partDir)
      .groupBy("src_batch", "event_type")
      .agg(max("n").as("n"), max("s").as("s"), max("q").as("q"))
      .groupBy("event_type")
      .agg(sum("n").as("n"), sum("s").as("s"), sum("q").as("q"))
      .collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n"),
        BigInt(r.getDecimal(2).toBigInteger),
        BigInt(r.getDecimal(3).toBigInteger)))
      .toMap
    val direct = events.toDF()
      .select(col("event_type"),
        expr("cast(floor(value * 100.0 + 0.5) as bigint)").as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("c").cast(dec38)).as("s"),
        sum((col("c") * col("c")).cast(dec38)).as("q"))
      .collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n"),
        BigInt(r.getDecimal(2).toBigInteger),
        BigInt(r.getDecimal(3).toBigInteger)))
      .toMap
    assert(merged == direct,
      "streamed moment merge must equal batch moments exactly")
    // and the downstream Welch t built from the merged moments equals
    // the batch operator's row for one pair
    def t(a: (Long, BigInt, BigInt), b: (Long, BigInt, BigInt)): Double = {
      def se2(m: (Long, BigInt, BigInt)): Double =
        (BigInt(m._1) * m._3 - m._2 * m._2).toDouble /
          (BigInt(m._1) * m._1 * (m._1 - 1)).toDouble
      val md = a._2.toDouble / a._1 - b._2.toDouble / b._1
      md / math.sqrt(se2(a) + se2(b))
    }
    val expected = math.floor(
      t(merged("click"), merged("error")) * 10000.0 + 0.5) / 10000.0
    val batchRow = operators.Keystone.statsWelchT(spark, sf)
      .where(col("type_a") === "click" && col("type_b") === "error")
      .head()
    assert(batchRow.getAs[Double]("t_stat") == expected)
  }

  test("streaming IVF assignment to FROZEN centroids (family #17) == " +
      "batch argmin, idempotent under redelivery") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val v = Tables(spark, sf, "embeddings")
    val initial = v.where(col("vec_id") % 4 =!= 3)
    val newWave = v.where(col("vec_id") % 4 === 3)
    val cents = operators.Similarity.ivfCentroids(initial).collect()
      .map(r => (r.getAs[Number]("label").longValue(),
        r.getSeq[Double](r.fieldIndex("centroid")).toSeq)).toSeq
    val vecs = newWave.select("vec_id", "label", "embedding").collect()
      .map(r => EventStream.Vec(r.getLong(0),
        r.getAs[Number](1).longValue(),
        r.getSeq[Float](2).toSeq))
      .sortBy(_.vec_id).toSeq
    assert(vecs.nonEmpty)
    val stream = MemoryStream[EventStream.Vec]
    val q = EventStream.ivfAssignStream(stream.toDS(), cents)
      .writeStream.format("memory").queryName("ivf_assign_out")
      .outputMode("append").start()
    // two batches, then REDELIVER the first: the vec_id dedup state
    // must suppress every replayed assignment
    val (b1, b2) = vecs.splitAt(vecs.size / 2)
    Seq(b1, b2, b1).foreach { b =>
      stream.addData(b); q.processAllAvailable()
    }
    q.stop()
    val rows = spark.table("ivf_assign_out").collect()
    val streamed = rows.map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Long]("cell"))).toSet
    assert(rows.length == vecs.size && streamed.size == vecs.size,
      s"redelivery leaked: ${rows.length} rows for ${vecs.size} vectors")
    val batch = operators.Similarity.ivfAssign(initial, newWave)
      .select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue())).toSet
    assert(streamed == batch,
      s"stream-only: ${streamed.diff(batch).take(5)}, " +
        s"batch-only: ${batch.diff(streamed).take(5)}")
  }

  test("mid-stream VACUUM (family #18): the foreachBatch loop " +
      "checkpoints + vacuums the versioned table while the stream " +
      "runs; retained reads stay bit-identical across the vacuum AND " +
      "across a replayed batch straddling it; below-floor reads " +
      "refuse; a resurrected month cannot be wrongly re-deleted") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    import graft.sources.CatalogVacuum
    import graft.streaming.EventStream.VChg
    val dir = java.nio.file.Files
      .createTempDirectory("graft_vloop").toString + "/t"
    val baseRows = (0L until 40L).map(i =>
      (i, 100L + i, (i % 3 + 1).toString))
    CatalogVacuum.init(spark,
      dir, baseRows.toDF("doc_id", "n_chars", "processing_level"),
      "1995-12-31")

    val changes = Seq(
      VChg(3L, 500L, "1", "upsert", 1L, "1996-01-10"),
      VChg(6L, 106L, "3", "upsert", 2L, "1996-01-20"),
      VChg(9L, 109L, "1", "delete", 3L, "1996-02-05"),
      VChg(3L, 520L, "1", "upsert", 4L, "1996-03-15"),
      VChg(100L, 700L, "2", "upsert", 5L, "1996-04-10"),
      VChg(9L, 900L, "1", "upsert", 6L, "1996-05-20"),
      VChg(12L, 112L, "1", "delete", 7L, "1996-06-25"),
      VChg(5L, 805L, "2", "upsert", 8L, "1996-07-05"),
      VChg(14L, 914L, "3", "upsert", 9L, "1996-07-15"),
      VChg(30L, 930L, "1", "delete", 10L, "1996-07-25"))
    val Seq(b1, b2, b3, b4) = Seq(
      changes.slice(0, 3), changes.slice(3, 5),
      changes.slice(5, 7), changes.slice(7, 10))

    // reference: exactly-once (eff, seq) fold of DISTINCT deliveries
    val delivered = scala.collection.mutable.ArrayBuffer[VChg]()
    def refState(cutoff: String): Set[(Long, Long, String)] = {
      val st = scala.collection.mutable.Map[Long, (Long, String)]()
      baseRows.foreach { case (id, n, l) => st(id) = (n, l) }
      delivered.distinct.filter(_.eff <= cutoff)
        .sortBy(c => (c.eff, c.seq)).foreach { c =>
          if (c.op == "delete") st.remove(c.doc_id)
          else st(c.doc_id) = (c.n_chars, c.processing_level)
        }
      st.map { case (id, (n, l)) => (id, n, l) }.toSet
    }
    def readState(cutoff: String): Set[(Long, Long, String)] =
      CatalogVacuum.asOf(spark, dir, cutoff)
        .select(col("doc_id"), col("n_chars"),
          col("processing_level").cast("string"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

    val maint = scala.collection.mutable
      .ArrayBuffer[CatalogVacuum.VacuumStats]()
    val stream = MemoryStream[VChg]
    val q = stream.toDF()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        CompactionLoop.onVersionedBatch(spark, dir,
          batch.withColumn("eff", to_date(col("eff"))),
          threshold = 3L, retentionDays = 90).foreach(maint += _)
        ()
      }
      .start()

    def push(b: Seq[VChg], retainedCutoffs: Seq[String]): Unit = {
      stream.addData(b); q.processAllAvailable()
      delivered ++= b
      retainedCutoffs.foreach { c =>
        assert(readState(c) == refState(c), s"asOf($c) diverged")
      }
    }

    // b1: 3 pending >= 3 -> checkpoint 1996-02-05 + vacuum (horizon
    // predates every snapshot: deletes nothing)
    push(b1, Seq("1996-02-05", "1996-07-01"))
    assert(maint.size == 1 && maint.last.vacuumedSegments.isEmpty)
    // b2: 2 pending < 3 -> no maintenance
    push(b2, Seq("1996-02-05", "1996-04-01", "1996-07-01"))
    assert(maint.size == 1)
    // b3: 4 pending -> checkpoint 1996-06-25 + vacuum: w_cov =
    // 1996-02-05 covers months 01-02 (receipts match) -> DELETED,
    // origin snapshot superseded, floor advances
    push(b3, Seq("1996-02-05", "1996-04-01", "1996-07-01"))
    assert(maint.size == 2)
    assert(maint.last.vacuumedSegments == Seq("1996-01", "1996-02"))
    assert(maint.last.vacuumedSnapshots == Seq("1995-12-31"))
    assert(maint.last.floor == "1996-02-05")
    val e = intercept[IllegalStateException] {
      CatalogVacuum.asOf(spark, dir, "1996-01-15")
    }
    assert(e.getMessage.contains("1996-02-05"))

    // REPLAY b1 STRADDLING the vacuum: months 01-02 are resurrected
    // with the SAME records; no trigger (their eff is behind the
    // latest snapshot); every retained read is bit-identical
    push(b1, Seq("1996-02-05", "1996-04-01", "1996-07-01"))
    assert(maint.size == 2)
    assert(CatalogVacuum.segments(spark, dir).contains("1996-01"))

    // b4: triggers checkpoint 1996-07-25 + vacuum at the same w_cov.
    // The resurrected months carry exactly the folded records (same
    // count AND max seq), so deleting them again is PROVABLY safe —
    // and reads stay identical either way
    push(b4, Seq("1996-02-05", "1996-04-01", "1996-08-01"))
    assert(maint.size == 3)
    assert(maint.last.vacuumedSegments == Seq("1996-01", "1996-02"),
      "resurrected folded months are provably re-deletable")
    push(Seq.empty[VChg],
      Seq("1996-02-05", "1996-04-01", "1996-07-01", "1996-08-01"))
    q.stop()
  }

  test("streaming compaction trigger (family #16): the foreachBatch " +
      "maintenance loop compacts mid-stream when the pending log " +
      "crosses the threshold; the merge-on-read view is equivalent at " +
      "every point, and a replayed already-folded batch cannot regress " +
      "it (the watermark is the exactly-once boundary)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cloop").toString
    val baseRows = (0L until 60L).map { i =>
      (i, s"src${i % 4}/f$i.txt", 100L + i, (i % 3 + 1).toString, "jobA")
    }
    graft.sources.CatalogIO.writeCatalog(
      baseRows.toDF("doc_id", "path", "n_chars", "processing_level",
        "generated_by"),
      s"$dir/base")

    def rec(seq: Long, id: Long, chars: Long, lvl: String, op: String) =
      CatRec(id, s"src${id % 4}/f$id.txt", chars, lvl, "jobB", op, seq)
    val b1 = Seq(rec(1, 3, 999, "1", "upsert"), rec(2, 6, 106, "3", "upsert"),
      rec(3, 9, 109, "1", "delete"), rec(4, 12, 212, "1", "upsert"),
      rec(5, 3, 103, "1", "upsert")) // supersedes seq 1
    val b2 = Seq(rec(6, 100, 200, "2", "upsert"), rec(7, 15, 215, "2", "upsert"),
      rec(8, 18, 218, "3", "upsert"), rec(9, 21, 221, "1", "delete"),
      rec(10, 12, 312, "2", "upsert")) // moves 12, supersedes seq 4
    val b3 = Seq(rec(11, 24, 324, "1", "upsert"), rec(12, 3, 403, "1", "upsert"),
      rec(13, 27, 327, "2", "delete"))

    // reference: exactly-once fold of every DISTINCT delivered record
    val applied = scala.collection.mutable.Set[Long]() // seqs seen
    val delivered = scala.collection.mutable.ArrayBuffer[CatRec]()
    def refState(): Set[(Long, String, Long, String, String)] = {
      val st = scala.collection.mutable.Map[Long,
        (String, Long, String, String)]()
      baseRows.foreach { case (id, p, n, l, g) => st(id) = (p, n, l, g) }
      delivered.distinct.sortBy(_.seq).foreach { c =>
        if (c.op == "delete") st.remove(c.doc_id)
        else st(c.doc_id) =
          (c.path, c.n_chars, c.processing_level, c.generated_by)
      }
      st.map { case (id, (p, n, l, g)) => (id, p, n, l, g) }.toSet
    }
    def viewState(): Set[(Long, String, Long, String, String)] =
      CompactionLoop.view(spark, dir).select(col("doc_id"), col("path"),
          col("n_chars"), col("processing_level").cast("string"),
          col("generated_by"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getString(3), r.getString(4))).toSet

    var compactions = 0
    val stream = MemoryStream[CatRec]
    val q = stream.toDF()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (CompactionLoop.onBatch(spark, dir,
            batch.select("doc_id", "path", "n_chars", "processing_level",
              "generated_by", "op", "seq"),
            threshold = 8L)) compactions += 1
        ()
      }
      .start()
    // b1 (5 pending < 8: no compact), b2 (10 >= 8: COMPACT, wm=10),
    // b1 REPLAYED (all seqs <= wm filter out: no change, no compact),
    // b3 (3 pending < 8: no compact — served merge-on-read)
    val plan = Seq(b1, b2, b1, b3)
    plan.foreach { b =>
      stream.addData(b)
      q.processAllAvailable()
      delivered ++= b
      assert(viewState() == refState(),
        "merge-on-read view diverged from the exactly-once fold")
    }
    q.stop()
    assert(compactions == 1, s"expected one mid-stream compaction")
    assert(CompactionLoop.watermark(spark, dir) == 10L)
    // the base itself holds the fold through the watermark: pending
    // after the run is exactly b3
    val pendingSeqs = CompactionLoop.pendingLog(spark, dir)
      .select("seq").collect().map(_.getLong(0)).sorted.toSeq
    assert(pendingSeqs == Seq(11L, 12L, 13L))
    // and the replayed b1 rows are IN the log dir but outside the view
    val logSeqs = spark.read.parquet(s"$dir/log")
      .groupBy("seq").count().where(col("count") > 1)
      .select("seq").collect().map(_.getLong(0)).toSet
    assert(logSeqs == Set(1L, 2L, 3L, 4L, 5L),
      "the replayed batch should appear twice in the raw log")
  }

  test("streaming column profiler (family #19): per-batch count/bound/" +
      "k-min partials tagged by a content-derived batch key, merged on " +
      "read == batch quality_profile exactly, idempotent under a " +
      "replayed batch (#326 streamed)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val docs = Tables(spark, sf, "documents")
      .select("doc_id", "lang", "source", "n_chars", "text")
      .collect()
      .map(r => PDoc(r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getString(4)))
      .toSeq
    val partDir = java.nio.file.Files
      .createTempDirectory("graft_prof_part").toString
    val stream = MemoryStream[PDoc]
    val K = 256
    // Per micro-batch ONE wide partial row: row/present counts, TYPED
    // min/max per column (merging string representations would order
    // "10" < "9" — bounds must merge in the column's own type and
    // stringify once at read), and each column's k-min set of
    // sign-flipped full-64-bit md5 hashes (≤ K longs appended per
    // column — the #326 KMV lattice; collect_set keeps the partial
    // expressible in one agg at spec scale, the native KmvSketch is
    // the k-sized-working-state production path). Counts and bounds
    // are NOT idempotent under redelivery; the content-derived
    // src_batch tag + merge-on-read dedup restore exactly-once, while
    // the k-min union needs no dedup at all (idempotent lattice).
    def kminOf(c: String) = slice(array_sort(collect_set(
      when(col(c).isNotNull,
        expr(s"ngram_md5_hashes(array(cast($c as string)), 1)[0]")
          .bitwiseXOR(lit(Long.MinValue))))), 1, K).as(s"km_$c")
    val q = stream.toDF()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.agg(
          count(lit(1)).as("n"), min("doc_id").as("src_batch"),
          count(col("doc_id")).as("p_doc_id"),
          min("doc_id").as("lo_doc_id"), max("doc_id").as("hi_doc_id"),
          kminOf("doc_id"),
          count(col("lang")).as("p_lang"),
          min("lang").as("lo_lang"), max("lang").as("hi_lang"),
          kminOf("lang"),
          count(col("source")).as("p_source"),
          min("source").as("lo_source"), max("source").as("hi_source"),
          kminOf("source"),
          count(col("n_chars")).as("p_n_chars"),
          min("n_chars").as("lo_n_chars"), max("n_chars").as("hi_n_chars"),
          kminOf("n_chars"),
          count(col("text")).as("p_text"),
          min(length(col("text"))).as("lo_text"),
          max(length(col("text"))).as("hi_text"),
          kminOf("text"))
          .write.mode("append").parquet(partDir)
        ()
      }
      .start()
    val (b1, rest) = docs.splitAt(docs.size / 4)
    val (b2, b3) = rest.splitAt(rest.size / 3)
    Seq(b2, b1, b3, b1).foreach { b =>
      stream.addData(b); q.processAllAvailable()
    }
    q.stop()
    val parts = spark.read.parquet(partDir)
      .dropDuplicates("src_batch").collect()
    assert(parts.length == 3, "replayed batch must dedup to one partial")
    val nRows = parts.map(_.getAs[Long]("n")).sum
    def mergedKm(c: String): Seq[Long] =
      parts.flatMap(_.getAs[scala.collection.Seq[Long]](s"km_$c"))
        .distinct.sorted.take(K).toSeq
    // replicate KmvSketch.eval over the merged k-mins: the union of
    // per-batch k-min supersets contains the global k-min, so the
    // merged k-th smallest IS the batch sketch's k-th smallest
    def est(c: String): Double = {
      val keys = mergedKm(c)
      if (keys.size < K) keys.size.toDouble
      else {
        val hk = keys(K - 1) ^ Long.MinValue
        val u = if (hk >= 0) hk.toDouble
          else hk.toDouble + 1.8446744073709552E19
        (K - 1).toDouble / (u / 1.8446744073709552E19)
      }
    }
    def r4d(x: Double): Double = math.floor(x * 10000.0 + 0.5) / 10000.0
    val batchProf = operators.Quality.qualityProfile(spark, sf).collect()
      .map(r => r.getAs[String]("col_name") -> r).toMap
    def check(c: String, loS: => String, hiS: => String): Unit = {
      val r = batchProf(c)
      val p = parts.map(_.getAs[Long](s"p_$c")).sum
      assert(r.getAs[Long]("n_rows") == nRows, s"$c n_rows")
      assert(r.getAs[Long]("n_nulls") == nRows - p, s"$c n_nulls")
      assert(r.getAs[Double]("completeness") ==
        r4d(p.toDouble / nRows), s"$c completeness")
      assert(r.getAs[Double]("approx_distinct") == r4d(est(c)),
        s"$c approx_distinct")
      assert(r.getAs[String]("min_repr") == loS, s"$c min_repr")
      assert(r.getAs[String]("max_repr") == hiS, s"$c max_repr")
    }
    check("doc_id",
      parts.map(_.getAs[Long]("lo_doc_id")).min.toString,
      parts.map(_.getAs[Long]("hi_doc_id")).max.toString)
    check("lang",
      parts.map(_.getAs[String]("lo_lang")).min,
      parts.map(_.getAs[String]("hi_lang")).max)
    check("source",
      parts.map(_.getAs[String]("lo_source")).min,
      parts.map(_.getAs[String]("hi_source")).max)
    check("n_chars",
      parts.map(_.getAs[Long]("lo_n_chars")).min.toString,
      parts.map(_.getAs[Long]("hi_n_chars")).max.toString)
    check("text",
      parts.map(_.getAs[Int]("lo_text")).min.toString,
      parts.map(_.getAs[Int]("hi_text")).max.toString)
  }

  test("streaming drift χ² monitor (family #20): per-batch (half, type) " +
      "count partials tagged by a content-derived batch key, merged on " +
      "read into the identical #339 algebra == batch events_drift_chi2, " +
      "idempotent under a replayed batch") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val events = loadEvents()
    val partDir = java.nio.file.Files
      .createTempDirectory("graft_drift_part").toString
    val stream = MemoryStream[Ev]
    // the #262-streamed device: additive count partials are NOT
    // idempotent, so each batch's cells carry a content-derived batch
    // key (min event_id) and merge-on-read dedups per
    // (src_batch, type, half) before summing — a redelivered batch
    // rewrites identical rows, never double-counts, and the monitor
    // downstream of the merged cells is the PURE #339 expression tree,
    // so stream == batch is exact equality, not approximation.
    val q = stream.toDF()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select(col("event_type"),
            when(expr("ts_us div 86400000000") < 19738L, lit("a"))
              .otherwise(lit("b")).as("half"))
          .groupBy("event_type", "half").agg(count(lit(1)).as("o"))
          .crossJoin(batch.agg(min("event_id").as("src_batch")))
          .write.mode("append").parquet(partDir)
        ()
      }
      .start()
    val (b1, rest) = events.splitAt(events.size / 3)
    val (b2, b3) = rest.splitAt(rest.size / 2)
    Seq(b1, b2, b1, b3).foreach { b => // b1 fully redelivered
      stream.addData(b); q.processAllAvailable()
    }
    q.stop()
    val cells = spark.read.parquet(partDir)
      .groupBy("src_batch", "event_type", "half").agg(max("o").as("o"))
      .groupBy("event_type", "half").agg(sum("o").as("o"))
    val streamed = graft.operators.Lattice.driftChi2FromCells(cells)
      .collect().map(_.toSeq).toSeq
    val direct = graft.operators.Lattice.eventsDriftChi2(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == direct)
  }

  test("streaming prefix-filtered candidate index (#346 streamed, " +
      "family #21) == the frozen-df prefix discipline, idempotent " +
      "under redelivery; every verified >=tau pair is reachable") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val grams = Tables(spark, sf, "documents")
      .withColumn("hs", expr(
        """ngram_hashes(filter(split(lower(text), '[^a-z0-9]+'),
          |  w -> w != ''), 3)""".stripMargin))
      .select("doc_id", "hs").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    val dfm: Map[Long, Long] = grams.values.flatten
      .groupBy(identity).map { case (g, o) => g -> o.size.toLong }
    val prefixes = grams.toSeq.collect { case (id, hs) if hs.nonEmpty =>
      val n = hs.length
      val p = n - (3 * n + 4) / 5 + 1
      val pref = hs.sortBy(g => (dfm(g), g)).take(p).zipWithIndex
        .map { case (g, i) => g -> (i + 1).toLong }.toMap
      (id, n.toLong, pref)
    }
    val expected = (for {
      (a, na, pa) <- prefixes
      (b, nb, pb) <- prefixes
      if a < b && math.min(na, nb) * 5 >= math.max(na, nb) * 3 &&
        pa.keySet.intersect(pb.keySet).exists(g =>
          (1 + math.min(na - pa(g), nb - pb(g))) * 8 >= 3 * (na + nb))
    } yield (a, b)).toSet
    val docs = Tables(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => Doc(r.getLong(0), r.getString(1))).sortBy(_.doc_id).toSeq
    val stream = MemoryStream[Doc]
    val q = EventStream.allpairsCandidatesStream(stream.toDS(), dfm)
      .writeStream.format("memory").queryName("allpairs_cand_out")
      .outputMode("append").start()
    val (b1, b2) = docs.splitAt(docs.size / 2)
    Seq(b1, b2, b1).foreach { b => stream.addData(b); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("allpairs_cand_out")
      .select("id_a", "id_b").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == expected,
      s"stream-only: ${streamed.diff(expected).take(5)}, " +
        s"reference-only: ${expected.diff(streamed).take(5)}")
    // completeness through the stream path: every pair the batch
    // operator VERIFIES at >=tau must be a streamed candidate
    val verified = operators.Dedup.dedupAllpairsExact(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.nonEmpty && verified.subsetOf(streamed))
  }

  test("streamed AS-OF join (family #22): watermark-sealed purchases " +
      "join their latest prior view within tolerance == batch as-of, " +
      "across batch boundaries and an idle-tail timer flush") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // transformWithState with multiple states needs RocksDB column
    // families; scope the provider override and restore after
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = sp.conf.getOption(key)
    sp.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    val streamed = try {
      val events = loadEvents()
      val stream = MemoryStream[Ev]
      val q = EventStream.asofJoinStream(stream.toDS())
        .writeStream.format("memory").queryName("asof_out")
        .outputMode("append").start()
      // three batches: view buffers and pending purchases must survive
      // batch boundaries until the watermark seals each purchase
      val (b1, rest) = events.splitAt(events.size / 3)
      val (b2, b3) = rest.splitAt(rest.size / 2)
      Seq(b1, b2, b3).foreach { b =>
        stream.addData(b); q.processAllAvailable()
      }
      // a far-future event on a DIFFERENT user advances the watermark
      // past every real purchase; the trailing real purchases then seal
      // via their re-armed event-time TIMERS, not via new per-user input
      val flushTs = events.map(_.ts_us).max + 100L * 3600L * 1000000L
      stream.addData(Ev(-1L, -1L, "view", flushTs, 0.0))
      q.processAllAvailable()
      stream.addData(Ev(-2L, -1L, "view", flushTs + 1L, 0.0))
      q.processAllAvailable()
      q.stop()
      spark.table("asof_out")
        .where(col("user_id") =!= -1L)
        .collect().map(_.toSeq).toSet
    } finally {
      prev match {
        case Some(v) => sp.conf.set(key, v)
        case None => sp.conf.unset(key)
      }
    }
    val batch = EventStream.asofJoinBatch(
      Tables.eventsUs(spark, sf)
        .select("event_id", "user_id", "event_type", "ts_us", "value"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
    // the equivalence must be non-vacuous on BOTH legs: some purchases
    // matched a prior view, some had none within tolerance
    assert(batch.exists(r => r(3) != null), "no matched purchase - vacuous")
    assert(batch.exists(r => r(3) == null),
      "every purchase matched - tolerance leg unexercised")
  }

  test("streamed strict funnel (family #25): one-timer-per-user " +
      "watermark-sealed resolution == the batch events_funnel_strict " +
      "per-user contract, across batch boundaries, a timer-only tail " +
      "flush, and full redelivery") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = sp.conf.getOption(key)
    sp.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    val base = loadEvents()
    // the sf0.001 stream has no ORGANIC view→click→purchase chain
    // inside the strict windows, so the purchase leg is planted: one
    // user completing the full funnel (10/20 min gaps) and one
    // stalling after the click — both flow through stream AND replay
    val lo = base.map(_.ts_us).min
    val planted = Seq(
      Ev(-101L, 800001L, "view", lo, 0.0),
      Ev(-102L, 800001L, "click", lo + 600000000L, 0.0),
      Ev(-103L, 800001L, "purchase", lo + 1200000000L, 5.0),
      Ev(-104L, 800002L, "view", lo, 0.0),
      Ev(-105L, 800002L, "click", lo + 600000000L, 0.0))
    // PREPENDED: the planted ts sit at the stream's start, so they
    // must ride the first micro-batch (the watermark would late-drop
    // them from any later one)
    val events = planted ++ base
    val streamed = try {
      val stream = MemoryStream[Ev]
      val q = EventStream.funnelStream(stream.toDS())
        .writeStream.format("memory").queryName("funnel_out")
        .outputMode("append").start()
      val (b1, rest) = events.splitAt(events.size / 3)
      val (b2, b3) = rest.splitAt(rest.size / 2)
      // redeliver the first batch mid-stream: pre-resolution
      // duplicates are min-idempotent, post-resolution ones are
      // suppressed by the done flag
      Seq(b1, b2, b1, b3).foreach { b =>
        stream.addData(b); q.processAllAvailable()
      }
      val flushTs = events.map(_.ts_us).max + 100L * 3600L * 1000000L
      stream.addData(Ev(-1L, -1L, "view", flushTs, 0.0))
      q.processAllAvailable()
      stream.addData(Ev(-2L, -1L, "view", flushTs + 1L, 0.0))
      q.processAllAvailable()
      q.stop()
      spark.table("funnel_out")
        .where(col("user_id") =!= -1L)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    } finally {
      prev match {
        case Some(v) => sp.conf.set(key, v)
        case None => sp.conf.unset(key)
      }
    }
    // plain-Scala replay of the batch strict-funnel contract
    val h = 3600000000L
    val expect = events.groupBy(_.user_id).flatMap { case (u, es) =>
      val vs = es.filter(_.event_type == "view").map(_.ts_us)
      if (vs.isEmpty) None
      else {
        val v = vs.min
        val c = es.filter(e => e.event_type == "click" &&
          e.ts_us > v && e.ts_us <= v + h).map(_.ts_us).minOption
        val p = c.flatMap(ct => es.filter(e =>
          e.event_type == "purchase" && e.ts_us > ct &&
            e.ts_us <= ct + h).map(_.ts_us).minOption)
        Some((u, v, c, p))
      }
    }.toSet
    assert(streamed == expect,
      s"stream-only: ${streamed.diff(expect).take(3)}, " +
        s"batch-only: ${expect.diff(streamed).take(3)}")
    // and the resolved REAL-user rows roll up to the REGISTERED
    // batch counts (planted users excluded — the batch query reads
    // the raw table)
    val real = expect.filter(_._1 < 800000L)
    val agg = operators.Meridian.eventsFunnelStrict(spark, sf).head
    assert(agg.getAs[Long]("n_view") == real.size.toLong)
    assert(agg.getAs[Long]("n_click_1h") ==
      real.count(_._3.isDefined).toLong)
    assert(agg.getAs[Long]("n_purchase_1h") ==
      real.count(_._4.isDefined).toLong)
    // non-vacuous on every leg
    assert(expect.exists(_._3.isDefined) && expect.exists(_._3.isEmpty))
    assert(expect.exists(_._4.isDefined))
  }

  test("streamed tokenizer-true accounting (family #23): stateless " +
      "frozen-vocab unigram Viterbi per arriving doc == the batch " +
      "unigramDocTokens frame exactly, idempotent under a fully " +
      "redelivered batch (#357 streamed)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // frozen vocabulary learned OFFLINE from the same corpus (the
    // family-#17 frozen-statistics argument)
    val cost = operators.Corpus.unigramVocabCosts(spark, sf)
    assert(cost.nonEmpty && cost.exists(_._1.length >= 2),
      "frozen vocab carries no multigrams - encode would be vacuous")
    val docs = Tables(spark, sf, "documents")
      .select("doc_id", "lang", "source", "n_chars", "text")
      .collect()
      .map(r => PDoc(r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getString(4)))
      .toSeq
    val stream = MemoryStream[PDoc]
    val q = EventStream.unigramTokenStream(stream.toDS(), cost)
      .writeStream.format("memory").queryName("unitok_out")
      .outputMode("append").start()
    val (b1, rest) = docs.splitAt(docs.size / 3)
    val (b2, b3) = rest.splitAt(rest.size / 2)
    Seq(b1, b2, b3).foreach { b =>
      stream.addData(b); q.processAllAvailable()
    }
    // full redelivery of the middle batch: the doc_id suppressor must
    // make it invisible (at-least-once intake -> exactly-once rows)
    stream.addData(b2)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("unitok_out")
      .collect().map(_.toSeq).toSet
    val batch = operators.Corpus.unigramDocTokens(spark, sf)
      .select("doc_id", "source", "n_words", "n_uni_tokens", "uni_bits")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
    // non-vacuous compression: the frozen multigrams must win segments
    val totTok = spark.table("unitok_out")
      .agg(sum("n_uni_tokens")).head.getLong(0)
    val totChars = docs.map(_.text.split(' ').filter(_.nonEmpty)
      .map(_.length).sum.toLong).sum
    assert(totTok < totChars, "Viterbi never chose a multigram piece")
  }
}
