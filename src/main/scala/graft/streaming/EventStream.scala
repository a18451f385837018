package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.Signatures

/** Structured Streaming operators over the event log (SURVEY.md §2 #40):
  * the streaming form of `ts_tumbling` and `sessionize`, asserted
  * batch-equivalent in `StreamingSpec`.
  *
  * The reference system IS a stream consumer — each pipeline event
  * arrives as a message and updates catalog state
  * (`/root/reference/reactor.py:28-49`, `forward_event`); Structured
  * Streaming is the Spark-native re-expression: the same declarative
  * aggregation runs incrementally with watermark-bounded state.
  *
  * Scale: tumbling agg state is bounded by (watermark horizon ×
  * #(event_type)); sessionize state is one small record per active
  * (user, session); both shuffle once on their grouping key per
  * micro-batch.
  */
object EventStream {

  /** Input row: event time as epoch micros (matches Tables.eventsUs). */
  final case class Ev(event_id: Long, user_id: Long, event_type: String,
      ts_us: Long, value: Double)

  /** CDC change record — the stream form of #238's synthesized change
    * batch. (key, seq) is unique by construction; redelivery repeats
    * the SAME record, never a conflicting one.
    */
  final case class Chg(seq: Long, key: Long, op: String, status: String,
      price: Double)

  /** Catalog change record for the CompactionLoop streamed-maintenance
    * proof (document-shaped, the CatalogCompaction contract).
    */
  final case class CatRec(doc_id: Long, path: String, n_chars: Long,
      processing_level: String, generated_by: String, op: String,
      seq: Long)

  /** Merge-on-read over an append-only CDC log: collapse exact
    * redeliveries (distinct on the full record — at-least-once
    * delivery becomes exactly-once state), keep the latest seq per
    * key, drop keys whose latest op is a delete. The streaming MERGE
    * pattern without a table format: foreachBatch APPENDS raw change
    * records (no read-modify-write race, idempotent under replay) and
    * every reader applies this view. Scale: one distinct + one
    * key-partitioned window over the log — compaction (rewriting the
    * log to its merged state) is this same expression scheduled
    * offline.
    */
  def cdcState(log: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy(desc("seq"))
    log.distinct()
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1 && col("op") =!= "delete")
      .drop("rn")
  }

  /** Stream-static enrichment: each micro-batch left-joins the static
    * dimension (broadcast — re-planned per batch, so a dim refresh is
    * picked up on the next trigger). No watermark and no state: the
    * static side is not a stream, so there is nothing to buffer — the
    * cheapest join shape in Structured Streaming and the standard way
    * to attach catalog attributes to a live event feed.
    */
  def enrichStream(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim),
        col("user_id") === col("c_custkey"), "left")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts_us"), col("c_mktsegment"))

  /** Emitted session summary (same shape as the batch `sessionize`). */
  final case class Session(user_id: Long, session_id: Long, n_events: Long,
      start_us: Long, end_us: Long)

  /** Streaming tumbling-hour aggregation: watermarked event-time window.
    * Equivalent to the batch `ts_tumbling` (hour_us = window start in
    * epoch micros) once the stream is drained.
    */
  def tumbling(events: DataFrame): DataFrame =
    events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("sum_value"))
      .select(unix_micros(col("w.start")).as("hour_us"), col("event_type"),
        col("n"), col("sum_value"))

  private val gapUs = 1800000000L // 30 min

  /** Session aggregation via the BUILT-IN `session_window` (the
    * declarative sibling of [[sessionize]]): Spark merges events whose
    * gap stays under 30 min into one window and the watermark closes
    * it. Same single shuffle on (user, window); state is managed by the
    * engine's session-window store instead of custom
    * flatMapGroupsWithState code — preferred when per-session numbering
    * isn't needed, because merge/expiry come for free and the operator
    * stays whole-stage-planned. Emits the batch `sessionize` fields
    * minus session_id (numbering needs the custom-state form).
    */
  def sessionWindowAgg(events: DataFrame): DataFrame =
    events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"))
      .select("user_id", "n_events", "start_us", "end_us")

  /** Streaming gap-based sessionization via flatMapGroupsWithState:
    * state = the open session per user; a 30-min event-time gap closes
    * it and emits.
    *
    * State lifecycle (bounded at any user cardinality):
    *  1. OPEN — a session with events; armed to time out when the
    *     watermark passes lastUs + gap. Once that happens no in-gap
    *     event can still arrive (anything earlier is late and dropped
    *     by the watermark), so the session is emitted exactly as a
    *     future in-gap-free batch would have emitted it.
    *  2. TOMBSTONE — after a timeout flush the state keeps only the
    *     next session number (so a returning user continues batch-
    *     equivalent numbering), armed to expire `retentionUs` past the
    *     watermark. A user silent for the retention horizon is fully
    *     forgotten — per-user state NEVER outlives
    *     activity + gap + retention.
    */
  def sessionize(events: Dataset[Ev],
      retentionUs: Long = 24L * 3600L * 1000000L): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 hour")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[SessState]) =>
          def arm(tsMs: Long): Unit =
            state.setTimeoutTimestamp(
              math.max(tsMs, state.getCurrentWatermarkMs + 1))
          if (state.hasTimedOut) {
            state.get.open match {
              case Some(s) =>
                // idle-session flush: emit, keep numbering in a tombstone
                state.update(SessState(s.sessionId + 1, None))
                arm(state.getCurrentWatermarkMs + retentionUs / 1000)
                Iterator.single(
                  Session(userId, s.sessionId, s.n, s.startUs, s.lastUs))
              case None => // retention horizon passed: forget the user
                state.remove()
                Iterator.empty
            }
          } else {
            // Per-user events arrive unordered within a micro-batch: sort
            // this batch (state carries order across batches).
            val sorted = evs.toSeq.sortBy(e => (e.ts_us, e.event_id))
            var st = state.getOption.getOrElse(SessState(1L, None))
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              st.open match {
                case Some(s) if e.ts_us - s.lastUs > gapUs =>
                  closed += Session(userId, s.sessionId, s.n, s.startUs,
                    s.lastUs)
                  st = SessState(s.sessionId + 1,
                    Some(OpenSession(s.sessionId + 1, e.ts_us, e.ts_us, 1)))
                case Some(s) =>
                  // min/max merge: a CROSS-BATCH late event (inside the
                  // watermark) must extend the session the way batch
                  // order would — never regress lastUs or startUs
                  st = st.copy(open = Some(s.copy(
                    startUs = math.min(s.startUs, e.ts_us),
                    lastUs = math.max(s.lastUs, e.ts_us), n = s.n + 1)))
                case None =>
                  st = SessState(st.nextId,
                    Some(OpenSession(st.nextId, e.ts_us, e.ts_us, 1)))
              }
            }
            state.update(st)
            st.open match {
              case Some(s) => arm(s.lastUs / 1000 + gapUs / 1000)
              case None => arm(state.getCurrentWatermarkMs + retentionUs / 1000)
            }
            closed.result().iterator
          }
      }
  }

  /** Mutable-across-batches session state. */
  final case class OpenSession(sessionId: Long, startUs: Long, lastUs: Long,
      n: Long)

  /** Per-user state: the open session (if any) plus the next session
    * number — kept through timeout flushes so numbering stays
    * batch-equivalent for returning users.
    */
  final case class SessState(nextId: Long, open: Option[OpenSession])

  /** Stream-stream interval join: each `view` event joined to the same
    * user's `purchase` events within the next hour — the streaming form
    * of the attribution join (`events_funnel`'s first hop) computed
    * incrementally.
    *
    * Scale: both sides are watermarked, so the join state each side
    * buffers is bounded by (watermark + interval) × arrival rate — the
    * planner derives the eviction condition from the time-bound
    * predicate. One shuffle per side on user_id, the stream-stream
    * equi-join key.
    */
  def viewPurchaseJoin(events: DataFrame): DataFrame = {
    val views = events.where(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        timestamp_micros(col("ts_us")).as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"), col("value"),
        timestamp_micros(col("ts_us")).as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    views.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") > col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        unix_micros(col("view_ts")).as("view_us"),
        unix_micros(col("purchase_ts")).as("purchase_us"), col("value"))
  }

  /** Batch reference for `viewPurchaseJoin` over the same event set. */
  def viewPurchaseBatch(events: DataFrame): DataFrame = {
    val views = events.where(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts_us").as("view_us"))
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"), col("value"),
        col("ts_us").as("purchase_us"))
    views.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_us") > col("view_us") &&
        col("purchase_us") <= col("view_us") + 3600000000L)
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        col("view_us"), col("purchase_us"), col("value"))
  }

  /** Streamed AS-OF join output row (family #22): a purchase joined to
    * the LATEST view by the same user at-or-before it within the
    * 1-hour tolerance (the batch #10/#251 contract); `view_id` is null
    * when no view qualifies. `lag_us` = purchase − view.
    */
  final case class AsofRow(user_id: Long, purchase_id: Long,
      purchase_us: Long, view_id: Option[Long], view_us: Option[Long],
      lag_us: Option[Long])

  private val asofHorizonUs = 3600L * 1000000L

  /** Family #22 processor — the streamed AS-OF join the interval join
    * (family: viewPurchaseJoin) cannot express: "latest prior view"
    * needs a per-purchase argmax, which append-mode stream-stream
    * joins don't do. Per user, views and purchases buffer in
    * ListState; a purchase is SEALED (joined + emitted) only once the
    * watermark passes its event time — at that point every view
    * at-or-before it has arrived (later ones would be beyond-watermark
    * late), so the emitted match equals the batch argmax and is final
    * (append-safe, no retraction). Timers cover idle users: a pending
    * purchase re-arms an event-time timer just past its timestamp, so
    * sealing needs no further traffic on the key.
    *
    * State bound: views live until `view_ts + tolerance ≤ watermark`
    * (no unsealed purchase can reference them after that — an unsealed
    * purchase has ts > watermark and tolerance reaches back only to
    * ts − H); purchases live until the watermark passes them. Both are
    * horizon × per-user-rate sized, independent of stream length.
    */
  class AsofJoinProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Ev, AsofRow] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode,
      TimerValues, ExpiredTimerInfo, ListState}
    import org.apache.spark.sql.{Encoders => E}

    @transient private var views: ListState[(Long, Long)] = _
    @transient private var pending: ListState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      views = getHandle.getListState[(Long, Long)]("views",
        E.tuple(E.scalaLong, E.scalaLong), TTLConfig.NONE)
      pending = getHandle.getListState[(Long, Long)]("pending",
        E.tuple(E.scalaLong, E.scalaLong), TTLConfig.NONE)
    }

    /** Seal every pending purchase the watermark has passed, evict
      * views no unsealed purchase can reference, re-arm a timer for
      * the earliest still-pending purchase. Idempotent per purchase:
      * sealed purchases leave the state.
      */
    private def flush(key: Long, wmUs: Long): Iterator[AsofRow] = {
      val vs = views.get().toSeq
      val ps = pending.get().toSeq
      // STRICTLY below the watermark: Spark's late-record filter drops
      // only rows with ts < watermark, so a view with ts == wm (== pts)
      // can still be admitted — sealing an equal-timestamp purchase
      // here would emit it without that view, diverging from the batch
      // as-of contract at the exact boundary. The re-armed timer
      // guarantees eventual sealing once the watermark passes pts.
      val (ripe, wait) = ps.partition(_._1 < wmUs)
      val out = ripe.sorted.map { case (pts, pid) =>
        val m = vs.filter(v =>
            v._1 <= pts && v._1 + asofHorizonUs >= pts)
          .sorted.lastOption // latest ts, ties by highest event id
        AsofRow(key, pid, pts, m.map(_._2), m.map(_._1),
          m.map(pts - _._1))
      }
      // retain views any UNSEALED purchase (pts >= wm) could still
      // reference: qualifying means v.ts + H >= pts >= wm
      val keepV = vs.filter(_._1 + asofHorizonUs >= wmUs)
      views.clear()
      if (keepV.nonEmpty) views.appendList(keepV.toArray)
      pending.clear()
      if (wait.nonEmpty) {
        pending.appendList(wait.toArray)
        getHandle.registerTimer(wait.map(_._1).min / 1000L + 1L)
      }
      out.iterator
    }

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[AsofRow] = {
      rows.foreach { e =>
        if (e.event_type == "view")
          views.appendValue((e.ts_us, e.event_id))
        else if (e.event_type == "purchase")
          pending.appendValue((e.ts_us, e.event_id))
      }
      flush(key, tv.getCurrentWatermarkInMs() * 1000L)
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[AsofRow] =
      flush(key, tv.getCurrentWatermarkInMs() * 1000L)
  }

  /** [[AsofJoinProcessor]] wired to the stream: event-time timers,
    * Append output (sealed matches are final).
    */
  def asofJoinStream(events: Dataset[Ev]): Dataset[AsofRow] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 hour")
      .as[Ev]
      .groupByKey(_.user_id)
      .transformWithState(new AsofJoinProcessor,
        TimeMode.EventTime(), OutputMode.Append(),
        org.apache.spark.sql.Encoders.product[AsofRow])
  }

  /** Batch reference for [[asofJoinStream]]: every purchase LEFT-joined
    * to its latest view at-or-before within the tolerance (rank 1 by
    * (view_us, view_id) DESC — the processor's tie-break).
    */
  def asofJoinBatch(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = events.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts_us").as("purchase_us"))
    val v = events.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts_us").as("view_us"))
    val w = Window.partitionBy("purchase_id")
      .orderBy(col("view_us").desc, col("view_id").desc)
    p.join(v, col("user_id") === col("v_user") &&
        col("view_us") <= col("purchase_us") &&
        col("view_us") + asofHorizonUs >= col("purchase_us"), "left")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("user_id"), col("purchase_id"), col("purchase_us"),
        col("view_id"), col("view_us"),
        (col("purchase_us") - col("view_us")).as("lag_us"))
  }

  /** Watermarked streaming dedup on event_id: the built-in
    * `dropDuplicates` with a watermark column, so per-key state expires
    * once the watermark passes — bounded by horizon × arrival rate, not
    * by stream length. (The batch form is `events.dropDuplicates`.)
    */
  def dedupEventsStream(events: DataFrame): DataFrame =
    events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id", "ts")
      .select("event_id", "user_id", "event_type", "ts_us", "value")

  /** Emitted anomaly (streaming z-score detector). */
  final case class Anom(event_id: Long, user_id: Long, value: Double,
      z: Double)

  /** Per-user running moments: 3 scalars, O(1) state per user. */
  final case class MomState(n: Long, s1: Double, s2: Double)

  /** Streaming anomaly detection: per-user RUNNING z-scores — an event
    * is flagged when, against the user's history up to and including
    * it, n >= 5, variance > 0 and |value - mean| > 2σ. The streaming
    * twin of the batch `events_anomaly` (#82), which scores against the
    * user's FULL history; the prefix semantics here are what an online
    * monitor can actually compute, and `anomalyPrefixBatch` below is
    * the batch-equivalent reference the spec compares against.
    *
    * State: three scalars per user (count + two power sums — moments
    * merge, so history never replays). A user idle past the retention
    * horizon is forgotten (timeout-armed like sessionize); if they
    * return, their baseline restarts — the deliberate retention
    * trade-off, documented rather than unbounded.
    */
  def anomalyStream(events: Dataset[Ev],
      retentionUs: Long = 24L * 3600L * 1000000L): Dataset[Anom] = {
    import events.sparkSession.implicits._
    events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 hour")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[MomState, Anom](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[MomState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var st = state.getOption.getOrElse(MomState(0L, 0.0, 0.0))
            val out = Seq.newBuilder[Anom]
            // deterministic accumulation order across batches: the same
            // (ts_us, event_id) order the batch window reference uses
            val sorted = evs.toSeq.sortBy(e => (e.ts_us, e.event_id))
            sorted.foreach { e =>
              st = MomState(st.n + 1, st.s1 + e.value,
                st.s2 + e.value * e.value)
              val mean = st.s1 / st.n
              val vr = st.s2 / st.n - mean * mean
              if (st.n >= 5 && vr > 0.0 &&
                  math.abs(e.value - mean) > 2.0 * math.sqrt(vr))
                out += Anom(e.event_id, userId, e.value,
                  (e.value - mean) / math.sqrt(vr))
            }
            state.update(st)
            // retention anchored to the user's LAST ACTIVITY, not the
            // current watermark: early in the stream the watermark is
            // still epoch-0, and watermark-relative arming would expire
            // (and wipe) every user's moments on the first advance
            state.setTimeoutTimestamp(
              math.max(sorted.last.ts_us / 1000,
                state.getCurrentWatermarkMs + 1) + retentionUs / 1000)
            out.result().iterator
          }
      }
  }

  /** Batch reference for `anomalyStream`: the same prefix moments as a
    * running window (Spark's running-frame window accumulates
    * sequentially in the same order, so the folds agree).
    */
  def anomalyPrefixBatch(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    events
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s1", sum("value").over(w))
      .withColumn("s2", sum(col("value") * col("value")).over(w))
      .withColumn("mean", col("s1") / col("n"))
      .withColumn("vr", col("s2") / col("n") - col("mean") * col("mean"))
      .where(col("n") >= 5 && col("vr") > 0.0 &&
        abs(col("value") - col("mean")) > lit(2.0) * sqrt(col("vr")))
      .select(col("event_id"), col("user_id"), col("value"),
        ((col("value") - col("mean")) / sqrt(col("vr"))).as("z"))
  }

  /** One incoming document on the stream. */
  final case class Doc(doc_id: Long, text: String)

  /** Full-width document row for the streamed profiler (family #19). */
  final case class PDoc(doc_id: Long, lang: String, source: String,
      n_chars: Long, text: String)

  /** Streaming exact dedup: emit a document only the first time its
    * content hash is seen (the streaming form of `dedup_exact`'s
    * keep-min semantics under arrival order). State is one boolean per
    * distinct content hash, partitioned by the hash — the same
    * hash-shuffle the batch groupBy does, held incrementally.
    */
  def dedupExactStream(docs: Dataset[Doc]): Dataset[Doc] = {
    import docs.sparkSession.implicits._
    docs
      .withColumn("content_hash", md5(col("text")))
      .as[(Long, String, String)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[Boolean, Doc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[(Long, String, String)],
         state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            // first arrival wins within the batch: min doc_id for
            // deterministic batch-equivalence
            val first = rows.minBy(_._1)
            Iterator.single(Doc(first._1, first._2))
          }
      }
  }

  /** Per-document tokenizer-true accounting row (family #23). */
  final case class DocTok(doc_id: Long, source: String, n_words: Long,
      n_uni_tokens: Long, uni_bits: Long)

  /** Family #23: streamed TOKENIZER-TRUE accounting against a FROZEN
    * unigram vocabulary — the #357 encode as a stream job. The vocab +
    * costs are learned offline (`Corpus.unigramVocabCosts`) and fold
    * into the row expression as a map literal (vocabulary-sized — the
    * family-#17 frozen-statistics argument), making the per-document
    * Viterbi fold STATELESS map-side work: one expression walks the
    * document's words and accumulates (n_words, Σ dp%1024, Σ dp÷1024).
    * The only state is the doc_id redelivery suppressor
    * (`dropDuplicates` — at-least-once intake becomes exactly-once
    * rows, the #17 device). StreamingSpec pins streamed rows == the
    * batch `unigramDocTokens` frame exactly, including under a fully
    * redelivered batch.
    *
    * Scale: a budget/packing monitor over an ingest stream costs one
    * map pass per batch at ANY corpus size — no shuffle, no growing
    * state (the suppressor is bounded by a watermark in a deployment
    * with event time; document streams here carry none, the documented
    * #17 trade).
    */
  def unigramTokenStream(docs: Dataset[PDoc],
      cost: Map[String, Long]): Dataset[DocTok] = {
    import docs.sparkSession.implicits._
    val dp = graft.operators.Corpus.unigramDpExpr
    docs.toDF()
      .dropDuplicates("doc_id")
      .withColumn("vm", typedlit(cost))
      .withColumn("a", expr(
        // fail-fast OOV guard (the stats_holm/bh_adjust discipline): a
        // word containing any character absent from the FROZEN
        // vocabulary has no segmentation, so its dp carries the INF
        // sentinel (1e15) — folding that through %1024/div 1024 would
        // silently corrupt the accounting on a drifted production
        // stream. Surface it as a job failure instead.
        s"""aggregate(
           |  transform(filter(split(text, ' '), w -> w <> ''),
           |    w -> $dp),
           |  named_struct('nw', 0L, 'nt', 0L, 'bits', 0L),
           |  (acc, d) -> named_struct('nw', acc.nw + 1L,
           |    'nt', acc.nt + IF(d >= 1000000000000000L,
           |      cast(raise_error(concat(
           |        'graft: out-of-vocabulary word in streamed doc ',
           |        cast(doc_id as string),
           |        ' — frozen unigram vocab cannot encode it')) as bigint),
           |      d % 1024),
           |    'bits', acc.bits + d div 1024))""".stripMargin))
      .select(col("doc_id"), col("source"),
        col("a.nw").as("n_words"), col("a.nt").as("n_uni_tokens"),
        col("a.bits").as("uni_bits"))
      .as[DocTok]
  }

  /** A near-dup candidate pair surfaced by the streaming LSH index. */
  final case class Vec(vec_id: Long, label: Long, embedding: Seq[Float])

  /** Dated change record for the versioned-table stream (family #18:
    * mid-stream vacuum). `eff` is a yyyy-MM-dd string at the stream
    * boundary; the loop converts to DATE before the month-segment
    * append.
    */
  final case class VChg(doc_id: Long, n_chars: Long,
      processing_level: String, op: String, seq: Long, eff: String)

  /** #333 streamed twin of the incremental IVF write path: arriving
    * embeddings are argmin-assigned to a FROZEN centroid table (the
    * index built before the stream started). The centroid table is
    * structure-sized (cells × dims), so it folds into the row
    * expression as an array literal and the assignment is STATELESS
    * map-side work — the only state is `dropDuplicates(vec_id)`, the
    * at-least-once redelivery suppressor. The fold visits cells in
    * ascending id with a strict `>`, so ties keep the LOWEST cell —
    * exactly the batch argmin's (cosine desc, cell asc) order
    * (`Similarity.ivfAssign`), which StreamingSpec pins equal.
    */
  def ivfAssignStream(vecs: Dataset[Vec],
      centroids: Seq[(Long, Seq[Double])]): DataFrame = {
    val centsExpr = centroids.sortBy(_._1).map { case (cell, c) =>
      s"named_struct('cell', ${cell}L, 'c', " +
        c.map(d => s"cast(${d}d as double)")
          .mkString("array(", ", ", ")") + ")"
    }.mkString("array(", ", ", ")")
    vecs.toDF()
      .dropDuplicates("vec_id")
      .withColumn("a", expr(
        s"""aggregate($centsExpr,
           |  named_struct('best', cast(-2.0 as double), 'cell', -1L),
           |  (acc, s) -> CASE WHEN cosine_f32(embedding,
           |      transform(s.c, x -> cast(x as float))) > acc.best
           |    THEN named_struct('best', cosine_f32(embedding,
           |      transform(s.c, x -> cast(x as float))), 'cell', s.cell)
           |    ELSE acc END)""".stripMargin))
      .select(col("vec_id"), col("label").as("native"),
        col("a.cell").as("cell"))
  }

  final case class CandPair(id_a: Long, id_b: Long)

  /** Streaming MinHash-LSH near-dup candidate generation — the
    * incremental form of batch #28's candidate stage: each arriving
    * document maps to its per-band bucket keys with the SAME native
    * one-pass expressions as the batch op (hashed trigram shingles →
    * minhash signature → banded slice digest), and a
    * flatMapGroupsWithState keyed on the bucket holds the doc_ids seen
    * there, emitting one normalized (lo, hi) pair per prior occupant
    * when a new document lands. Re-delivered doc_ids are suppressed by
    * the state (at-least-once-safe). A pair surfaces once per shared
    * band — `.distinct()` downstream, exactly like the batch equi-join.
    *
    * Scale: per-bucket state is the occupant doc-id list — bounded by
    * band-bucket occupancy, the SAME quantity the batch op's sizing
    * math controls (grow bandRows with log₂(n)); the shuffle key is the
    * bucket, identical to the batch join key, so a streaming cluster
    * partitions the index exactly as the batch one partitions the join.
    */
  def nearDupCandidatesStream(docs: Dataset[Doc], numHashes: Int,
      bandRows: Int): Dataset[CandPair] = {
    require(numHashes % bandRows == 0,
      s"bandRows must divide numHashes ($bandRows / $numHashes)")
    val sp = docs.sparkSession
    import sp.implicits._
    docs.toDF()
      .withColumn("sig", expr(
        s"minhash_sig_from_hashes(ngram_hashes(split(text, ' '), 3), " +
          s"$numHashes)"))
      .select(col("doc_id"), explode(Signatures.md5Bands(col("sig"),
        numHashes / bandRows, bandRows)).as("bb"))
      .select(col("doc_id"),
        concat_ws("|", col("bb.band"), col("bb.key")).as("bucket"))
      .as[(Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[List[Long], CandPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[(Long, String)],
         state: GroupState[List[Long]]) =>
          var seen = state.getOption.getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer.empty[CandPair]
          // batch-mates in doc_id order so intra-batch pairs are
          // deterministic; re-delivered ids no-op
          rows.map(_._1).toSeq.sorted.foreach { id =>
            if (!seen.contains(id)) {
              seen.foreach(o =>
                out += (if (o < id) CandPair(o, id) else CandPair(id, o)))
              seen = id :: seen
            }
          }
          state.update(seen)
          out.iterator
      }
  }

  /** Verified near-dup match emitted by the streamed LSH signature
    * index (family #24). `jaccard` is the exact trigram-shingle
    * Jaccard, r4'd like the batch op's.
    */
  final case class DupMatch(id_a: Long, id_b: Long, jaccard: Double)

  /** Family #24 — streamed NEAR-dup ingest on `transformWithState`:
    * the near-dup form of `dedup_incremental`'s exact-Bloom day-N
    * pattern, and the stateful-v2 upgrade of
    * [[nearDupCandidatesStream]] that VERIFIES in-stream instead of
    * only surfacing candidates. Each arriving document maps to its
    * per-band bucket keys with the SAME native one-pass expressions
    * as batch #28 (hashed trigram shingles → minhash signature →
    * banded slice digest); a processor keyed on the bucket holds the
    * occupants' (doc_id, shingle-hash set) in ListState and, when a
    * new document lands, computes the EXACT sorted-merge Jaccard
    * (the IntersectCount contract) against each occupant, emitting
    * one match row per occupant at ≥ τ = 0.8 — the batch op's verify,
    * incrementally. Redelivered doc_ids no-op against the state
    * (at-least-once-safe); a pair can surface once per shared band —
    * `.distinct()` downstream, exactly like the batch equi-join.
    * StreamingSpec pins streamed `.distinct()` == batch
    * `dedup_minhash_lsh` on a planted re-ingest slice, across batch
    * boundaries and under full redelivery.
    *
    * Scale: per-bucket state is occupant (id, shingle set) — bucket
    * occupancy × doc shingle count, the same quantity the batch op's
    * band sizing controls (grow bandRows with log₂ n), times the
    * bands-per-doc duplication (numHashes/bandRows copies — the price
    * of in-stream verify; a deployment that can't carry it falls back
    * to [[nearDupCandidatesStream]] + batch verify). The shuffle key
    * is the bucket, identical to the batch join key. In production
    * the index is TTL'd to the ingest-window horizon (TTLConfig here
    * is NONE because the batch contract verifies against ALL history).
    */
  class NearDupIndexProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long, Seq[Long]), DupMatch] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode}
    import org.apache.spark.sql.{Encoders => E}

    @transient private var occupants:
      org.apache.spark.sql.streaming.ListState[(Long, Seq[Long])] = _

    override def init(outputMode: OutputMode,
        timeMode: TimeMode): Unit =
      occupants = getHandle.getListState[(Long, Seq[Long])]("occupants",
        E.product[(Long, Seq[Long])], TTLConfig.NONE)

    /** Exact multiset intersect of two SORTED hash arrays — the same
      * sorted-merge as the batch `intersect_count` expression, so the
      * streamed jaccard is bit-identical to the batch verify's.
      */
    private def inter(a: Seq[Long], b: Seq[Long]): Long = {
      var i = 0; var j = 0; var c = 0L
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { c += 1; i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1
        else j += 1
      }
      c
    }

    private def r4(x: Double): Double =
      math.floor(x * 10000.0 + 0.5) / 10000.0

    override def handleInputRows(key: String,
        rows: Iterator[(String, Long, Seq[Long])],
        tv: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[DupMatch] = {
      var seen = occupants.get().toSeq
      val out = scala.collection.mutable.ArrayBuffer.empty[DupMatch]
      // batch-mates in doc_id order so intra-batch emission is
      // deterministic; re-delivered ids no-op against the state
      rows.toSeq.sortBy(_._2).foreach { case (_, id, hs) =>
        if (!seen.exists(_._1 == id)) {
          seen.foreach { case (oid, ohs) =>
            val ic = inter(ohs, hs).toDouble
            val j = r4(ic / (ohs.length + hs.length - ic))
            if (j >= 0.8) {
              out += (if (oid < id) DupMatch(oid, id, j)
                      else DupMatch(id, oid, j))
            }
          }
          occupants.appendValue((id, hs))
          seen = seen :+ ((id, hs))
        }
      }
      out.iterator
    }
  }

  /** [[NearDupIndexProcessor]] wired to a document stream: the batch
    * #28 shingle/signature/banding expressions map-side, bucket-keyed
    * transformWithState, Append output (matches are final — the index
    * only grows).
    */
  def nearDupIngestStream(docs: Dataset[Doc], numHashes: Int,
      bandRows: Int): Dataset[DupMatch] = {
    require(numHashes % bandRows == 0,
      s"bandRows must divide numHashes ($bandRows / $numHashes)")
    val sp = docs.sparkSession
    import sp.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    docs.toDF()
      .withColumn("hsh", expr("ngram_hashes(split(text, ' '), 3)"))
      .withColumn("sig", expr(
        s"minhash_sig_from_hashes(hsh, $numHashes)"))
      .select(col("doc_id"), col("hsh"), explode(Signatures.md5Bands(
        col("sig"), numHashes / bandRows, bandRows)).as("bb"))
      .select(concat_ws("|", col("bb.band"), col("bb.key")).as("bucket"),
        col("doc_id"), col("hsh"))
      .as[(String, Long, Seq[Long])]
      .groupByKey(_._1)
      .transformWithState(new NearDupIndexProcessor,
        TimeMode.None(), OutputMode.Append(),
        org.apache.spark.sql.Encoders.product[DupMatch])
  }

  /** Streaming PREFIX-FILTERED candidate index — the incremental form
    * of batch #346's (dedup_allpairs_exact) candidate stage, family
    * #21: each arriving document computes its 3-gram shingle hash set
    * with the SAME native expression as the batch op, orders its grams
    * by a FROZEN global rarity table (the #17 frozen-centroid
    * argument: a production index freezes its statistics between
    * rebuilds; unseen grams rank rarest at df 0, ties by hash — the
    * conservative direction, since ranking a gram too rare can only
    * ADD candidates, never lose a ≥τ pair), emits its prefix grams
    * (n − ⌈τn⌉ + 1 rarest) as bucket keys, and a
    * flatMapGroupsWithState keyed on the bucket holds the
    * (doc_id, n, rank-of-this-gram) occupants, emitting one
    * normalized pair per prior occupant that passes the symmetric τ
    * length filter 5·min(n) ≥ 3·max(n) AND the batch op's PPJoin
    * positional filter 8·(1 + min(n_a−i, n_b−j)) ≥ 3·(n_a+n_b) —
    * the same candidate discipline as #346's join condition.
    * Redelivered doc_ids are suppressed by the state
    * (at-least-once-safe); a pair surfaces once per shared prefix
    * gram — `.distinct()` downstream, exactly like the batch
    * equi-join.
    *
    * Scale: per-bucket state is the occupant list of a RARE-tail gram
    * (prefix grams are by construction the rarest of their doc); the
    * frozen df table is vocabulary-sized (Heaps-sublinear in the
    * corpus), broadcast like the batch op's df join side; the shuffle
    * key is the bucket — the identical partitioning to the batch
    * prefix equi-join.
    */
  def allpairsCandidatesStream(docs: Dataset[Doc],
      dfOrder: Map[Long, Long]): Dataset[CandPair] = {
    val sp = docs.sparkSession
    import sp.implicits._
    val bc = sp.sparkContext.broadcast(dfOrder)
    docs.toDF()
      .withColumn("hs", expr(
        """ngram_hashes(filter(split(lower(text), '[^a-z0-9]+'),
          |  w -> w != ''), 3)""".stripMargin))
      .select(col("doc_id"), col("hs"))
      .as[(Long, Seq[Long])]
      .flatMap { case (id, hs) =>
        val n = hs.length
        if (n == 0) Iterator.empty
        else {
          val dfm = bc.value
          val p = n - (3 * n + 4) / 5 + 1
          hs.sortBy(g => (dfm.getOrElse(g, 0L), g)).take(p).zipWithIndex
            .map { case (g, i) => (g, id, n.toLong, (i + 1).toLong) }
            .iterator
        }
      }
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[(Long, Long, Long)], CandPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[(Long, Long, Long, Long)],
         state: GroupState[List[(Long, Long, Long)]]) =>
          var seen = state.getOption.getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer.empty[CandPair]
          rows.map(t => (t._2, t._3, t._4)).toSeq.sortBy(_._1).foreach {
            case (id, n, pos) =>
              if (!seen.exists(_._1 == id)) {
                seen.foreach { case (o, on, opos) =>
                  if (math.min(on, n) * 5 >= math.max(on, n) * 3 &&
                      (1 + math.min(on - opos, n - pos)) * 8 >=
                        3 * (on + n))
                    out += (if (o < id) CandPair(o, id)
                            else CandPair(id, o))
                }
                seen = (id, n, pos) :: seen
              }
          }
          state.update(seen)
          out.iterator
      }
  }

  /** Gap-based sessionization on `transformWithState` with EVENT-TIME
    * TIMERS — the stateful-v2 twin of [[sessionize]]: open-session
    * state in a typed ValueState, and the idle flush driven by
    * `registerTimer` + `handleExpiredTimer` instead of
    * GroupStateTimeout. Each update re-arms a timer at lastUs+gap;
    * stale timers (a newer event extended the session) no-op by
    * re-checking the deadline against the state — cheaper than
    * delete+re-register and idempotent under replay. The session
    * counter lives in its own ValueState so numbering survives a
    * flush (batch-equivalent numbering for returning users; bound it
    * with a TTLConfig in a real deployment — the [[sessionize]]
    * tombstone discussion applies unchanged).
    */
  class TwsSessionizer
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Ev, Session] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues,
      ExpiredTimerInfo, ValueState}
    import org.apache.spark.sql.{Encoders => E}

    // (startUs, lastUs, n)
    @transient private var open: ValueState[(Long, Long, Long)] = _
    @transient private var seq: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      open = getHandle.getValueState[(Long, Long, Long)]("open",
        E.tuple(E.scalaLong, E.scalaLong, E.scalaLong), TTLConfig.NONE)
      seq = getHandle.getValueState[Long]("seq", E.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[Session] = {
      val out = Seq.newBuilder[Session]
      val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
      var cur = if (open.exists()) Option(open.get()) else None
      var next = if (seq.exists()) seq.get() else 1L
      sorted.foreach { e =>
        cur match {
          case Some((s, l, n)) if e.ts_us - l > gapUs =>
            out += Session(key, next, n, s, l)
            next += 1
            cur = Some((e.ts_us, e.ts_us, 1L))
          case Some((s, l, n)) =>
            // min/max merge (see [[sessionize]]): cross-batch late
            // events inside the watermark extend, never regress
            cur = Some((math.min(s, e.ts_us), math.max(l, e.ts_us), n + 1L))
          case None =>
            cur = Some((e.ts_us, e.ts_us, 1L))
        }
      }
      cur.foreach { c =>
        open.update(c)
        getHandle.registerTimer(c._2 / 1000 + gapUs / 1000)
      }
      seq.update(next)
      out.result().iterator
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[Session] = {
      if (open.exists()) {
        val (s, l, n) = open.get()
        // stale-timer guard: only flush if the fired deadline still
        // matches the CURRENT session's idle deadline
        if (info.getExpiryTimeInMs() >= l / 1000 + gapUs / 1000) {
          val sq = if (seq.exists()) seq.get() else 1L
          open.clear()
          seq.update(sq + 1)
          return Iterator.single(Session(key, sq, n, s, l))
        }
      }
      Iterator.empty
    }
  }

  /** Per-user resolved strict-funnel row (family #25): first view
    * ever, first click within 1 h STRICTLY after it, first purchase
    * within 1 h strictly after that click — the batch
    * `events_funnel_strict` per-user contract, emitted ONCE per user
    * when the watermark proves the whole funnel final.
    */
  final case class FunnelRow(user_id: Long, v_ts: Long,
      c_ts: Option[Long], p_ts: Option[Long])

  /** Family #25 — streamed STRICT funnel on `transformWithState`:
    * the incremental form of batch #48-strict (`events_funnel_strict`,
    * Meridian). The key insight making one timer suffice: every
    * funnel stage is bounded by the FIRST VIEW — the click window ends
    * at v+1h and the purchase window at c+1h ≤ v+2h — so once the
    * watermark passes v+2h the entire funnel is final and the user
    * resolves in one emission (append-safe, no retraction). Events
    * buffer per user in ListState; the min view can still DECREASE
    * while wm ≤ v (each decrease re-arms an earlier timer; stale
    * later timers no-op against the `done` flag). A `done` ValueState
    * suppresses post-resolution redelivery; pre-resolution duplicates
    * are harmless (every stage is a MIN). Users with no view yet keep
    * only events a FUTURE view could still qualify (ts + 1h ≥ wm —
    * a later view has v ≥ wm, and stage events must land strictly
    * after it), so state is horizon-bounded on both legs.
    *
    * StreamingSpec pins per-user rows == a plain-Scala replay of the
    * batch contract AND the resolved aggregate == the registered
    * `events_funnel_strict` counts, across batch boundaries, a
    * timer-only tail flush, and full redelivery.
    */
  class FunnelProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Ev, FunnelRow] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode,
      TimerValues, ExpiredTimerInfo, ListState, ValueState}
    import org.apache.spark.sql.{Encoders => E}

    private val hUs = 3600L * 1000000L

    @transient private var buf: ListState[(Long, String)] = _
    @transient private var done: ValueState[Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[(Long, String)]("buf",
        E.tuple(E.scalaLong, E.STRING), TTLConfig.NONE)
      done = getHandle.getValueState[Boolean]("done",
        E.scalaBoolean, TTLConfig.NONE)
    }

    private def resolve(key: Long, wmUs: Long): Iterator[FunnelRow] = {
      val es = buf.get().toSeq
      val views = es.collect { case (ts, "view") => ts }
      if (views.isEmpty) {
        // no view yet: evict stage events no FUTURE view can qualify
        // (a later view has v >= wm; stage events land strictly after)
        val keep = es.filter(_._1 + hUs >= wmUs)
        if (keep.size != es.size) {
          buf.clear()
          if (keep.nonEmpty) buf.appendList(keep.toArray)
        }
        return Iterator.empty
      }
      val v = views.min
      if (wmUs > v + 2 * hUs) {
        val c = es.collect { case (ts, "click")
            if ts > v && ts <= v + hUs => ts } match {
          case Seq() => None
          case cs => Some(cs.min)
        }
        val p = c.flatMap(ct => es.collect { case (ts, "purchase")
            if ts > ct && ts <= ct + hUs => ts } match {
          case Seq() => None
          case ps => Some(ps.min)
        })
        done.update(true)
        buf.clear()
        Iterator.single(FunnelRow(key, v, c, p))
      } else {
        getHandle.registerTimer((v + 2 * hUs) / 1000L + 1L)
        Iterator.empty
      }
    }

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[FunnelRow] = {
      if (done.exists() && done.get()) return Iterator.empty
      rows.foreach { e =>
        if (e.event_type == "view" || e.event_type == "click" ||
            e.event_type == "purchase")
          buf.appendValue((e.ts_us, e.event_type))
      }
      resolve(key, tv.getCurrentWatermarkInMs() * 1000L)
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[FunnelRow] = {
      if (done.exists() && done.get()) Iterator.empty
      else resolve(key, tv.getCurrentWatermarkInMs() * 1000L)
    }
  }

  /** [[FunnelProcessor]] wired to the stream: event-time timers,
    * Append output (resolved funnels are final).
    */
  def funnelStream(events: Dataset[Ev]): Dataset[FunnelRow] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 hour")
      .as[Ev]
      .groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor,
        TimeMode.EventTime(), OutputMode.Append(),
        org.apache.spark.sql.Encoders.product[FunnelRow])
  }

  /** [[TwsSessionizer]] wired to the stream: event-time mode (timers
    * fire on watermark advance), Append output.
    */
  def sessionizeTws(events: Dataset[Ev]): Dataset[Session] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 hour")
      .as[Ev]
      .groupByKey(_.user_id)
      .transformWithState(new TwsSessionizer,
        TimeMode.EventTime(), OutputMode.Append(),
        org.apache.spark.sql.Encoders.product[Session])
  }

  /** [[sessionizeTws]] hardened for AT-LEAST-ONCE intake: the
    * watermarked event-identity dedup runs in FRONT of the stateful
    * sessionizer, so a redelivered batch (producer retry, upstream
    * replay) reaches the session state exactly once — the standard
    * two-stateful-operator chain (dedup state expires with the
    * watermark; session state stays bounded as documented on
    * [[sessionize]]). The session numbering/count invariants survive
    * BECAUSE the dedup sits upstream: the sessionizer itself counts
    * every row it sees, which is correct only under exactly-once
    * delivery. Proven in StreamingSpec's soak: shuffled batch order,
    * cross-batch late events inside the watermark, and a fully
    * redelivered batch all land on the batch operator's exact rows.
    */
  def sessionizeTwsExactlyOnce(events: DataFrame): Dataset[Session] = {
    val sp = events.sparkSession
    import sp.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    // ONE watermark feeds both stateful operators (redefining the
    // watermark between chained stateful operators is disallowed);
    // the ts column rides through so the event-time attribute reaches
    // the sessionizer
    events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id", "ts")
      .as[Ev]
      .groupByKey(_.user_id)
      .transformWithState(new TwsSessionizer,
        TimeMode.EventTime(), OutputMode.Append(),
        org.apache.spark.sql.Encoders.product[Session])
  }

  /** Running per-user totals emitted each micro-batch. */
  final case class UserTotals(user_id: Long, n_events: Long,
      sum_scaled: Long)

  /** Per-user running totals on the `transformWithState` API (the
    * Spark 4 arbitrary-stateful-processing v2 form — typed ValueState
    * behind a StatefulProcessor, RocksDB-backed): the event-count and
    * value-sum per user update incrementally and the current totals
    * emit every batch (OutputMode.Update). The sum accumulates in
    * 1e-4-scaled longs so state is two fixed longs per user and the
    * drained result is bit-equal to a batch decimal aggregate —
    * accumulation order can't drift it.
    */
  class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Ev, UserTotals] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode}
    import org.apache.spark.sql.streaming.ValueState
    import org.apache.spark.sql.{Encoders => E}

    @transient private var totals: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Long)](
        "totals", E.tuple(E.scalaLong, E.scalaLong), TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        tv: org.apache.spark.sql.streaming.TimerValues):
        Iterator[UserTotals] = {
      var (n, s) = if (totals.exists()) totals.get() else (0L, 0L)
      rows.foreach { e =>
        n += 1
        s += math.floor(e.value * 10000.0 + 0.5).toLong
      }
      totals.update((n, s))
      Iterator.single(UserTotals(key, n, s))
    }
  }

  def runningTotals(events: Dataset[Ev]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Update(),
        org.apache.spark.sql.Encoders.product[UserTotals])
  }

  /** One streaming Bollinger breakout (SURVEY §2 #268's streamed
    * form). */
  final case class Boll(event_id: Long, event_type: String, ts_us: Long,
      value: Double, side: String)

  /** Ring buffer of the last ≤ w cents values per type — BOUNDED state
    * (w int64s per event type), oldest first.
    */
  final case class BollState(vals: Seq[Long])

  /** Streaming form of #268 `ts_bollinger_breakout`: per event type, a
    * bounded ring buffer holds the TRAILING w cents values; each
    * arriving event tests the same integer band inequality
    * `(w·v − S1)² > 4·(w·S2 − S1²)` the batch operator clears to —
    * no float mean/σ in either form, so streamed flags can be proven
    * EQUAL (not just close) to the batch operator's rows when batches
    * respect event-time order. State is w longs per type regardless
    * of stream length.
    */
  def bollingerStream(events: Dataset[Ev], w: Int = 24): Dataset[Boll] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState[BollState, Boll](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (etype: String, evs: Iterator[Ev], state: GroupState[BollState]) =>
          var vals = state.getOption.map(_.vals).getOrElse(Seq.empty)
          val out = Seq.newBuilder[Boll]
          val sorted = evs.toSeq.sortBy(e => (e.ts_us, e.event_id))
          sorted.foreach { e =>
            val v = math.floor(e.value * 100.0 + 0.5).toLong
            if (vals.length == w) {
              // BigInt products, mirroring the batch operator's
              // DECIMAL(38,0): s2·w wraps int64 once |v| > ~3e8 cents
              val s1 = vals.map(BigInt(_)).sum
              val s2 = vals.map(x => BigInt(x) * x).sum
              val dev = BigInt(v) * w - s1
              val band2 = (s2 * w - s1 * s1) * 4
              if (dev * dev > band2)
                out += Boll(e.event_id, etype, e.ts_us, e.value,
                  if (dev > 0) "up" else "down")
            }
            vals = (vals :+ v).takeRight(w)
          }
          state.update(BollState(vals))
          out.result().iterator
      }
  }
}
