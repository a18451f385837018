package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Physical vacuum executor — the third leg of the catalog maintenance
  * triad (merge/compact → time-travel → vacuum; the Spark answer to
  * the reference store's in-place record lifecycle,
  * /root/reference/reactor.py:136 — a parquet catalog appends + folds
  * + eventually DELETES history instead of mutating), executing what
  * the #313 `cdc_vacuum_plan` operator only PLANS: actually delete change-
  * log segments (and superseded snapshots) that no retained as-of read
  * can ever need, and make reads before the vacuum floor REFUSE with a
  * clear error — the Delta `versionAsOf` contract (you can time-travel
  * to any retained version; asking for an unretained one is an error,
  * never a silently wrong answer).
  *
  * Versioned-table layout under one `tablePath`:
  * {{{
  *   snapshot=<yyyy-MM-dd>/…parquet   full state as of that watermark
  *   log/seg_month=<yyyy-MM>/…parquet change records (data cols + op,
  *                                    seq, eff) partitioned by month
  *   _vacuum_floor                    marker: earliest servable cutoff
  * }}}
  *
  * Read model (`asOf(cutoff)`): pick the LATEST snapshot w* ≤ cutoff,
  * fold every surviving log change with eff ≤ cutoff over it —
  * latest-(eff, seq)-wins per key, tombstones drop (the same fold as
  * `CatalogCompaction.mergeOnRead`, generalized to a version axis).
  * Replaying a change the snapshot already folded is idempotent by
  * value, so segments never need eff > w* filtering.
  *
  * Vacuum safety argument (why deleting loses nothing retained):
  * month segments partition time, so "max eff ≤ some bound" selects a
  * PREFIX of months. Let horizon = latest watermark − retention and
  * w_cov = the latest snapshot ≤ horizon. A segment PROVABLY FOLDED
  * into snapshot w_cov is folded into every later snapshot; any
  * cutoff ≥ w_cov picks w* ≥ w_cov, and the latest surviving change
  * ≤ cutoff for a key is the true latest (a vacuumed month holds no
  * change NEWER than a surviving month's — prefix property), so the
  * fold is unchanged. Cutoffs < w_cov would need the deleted months
  * (or a pre-w_cov snapshot) — exactly the reads the `_vacuum_floor`
  * marker refuses afterwards. Snapshots strictly older than w_cov are
  * superseded for every retained cutoff and are deleted too.
  *
  * "Provably folded" is a COVERAGE RECEIPT, not an eff bound alone:
  * max_eff ≤ w_cov does NOT prove folding, because a BACKDATED append
  * (eff ≤ w_cov, written AFTER the w_cov checkpoint) also satisfies
  * it yet is absent from the snapshot — deleting its segment would
  * silently change retained reads. So [[checkpoint]] records, in a
  * `_coverage/w=<watermark>` sidecar scanned BEFORE the snapshot
  * write (so a concurrent append can only make the snapshot fold MORE
  * than recorded — the safe direction), the per-segment (row count,
  * max seq) of changes with eff ≤ watermark it folded. [[vacuum]]
  * deletes a segment only when max_eff ≤ w_cov AND its CURRENT
  * (count, max seq) equals the receipt of EVERY surviving snapshot
  * ≥ w_cov — not w_cov alone,
  * because asOf picks the LATEST snapshot ≤ cutoff: a backdated
  * change folded into a re-issued w_cov but absent from a later stale
  * snapshot would still vanish for cutoffs landing on that snapshot.
  * Any post-checkpoint backdated append inflates the count past some
  * receipt and the segment is KEPT (retained as-of reads then replay
  * it over w*, which stays correct) until every snapshot ≥ w_cov has
  * been re-checkpointed. No append-order precondition is required of
  * [[appendLog]].
  *
  * Scale: vacuum's data plane is a per-segment max(eff) — one
  * column-pruned grouped scan of the log (a production catalog keeps
  * this in segment metadata and skips the scan); everything else is
  * directory-level metadata (list + delete), exactly Delta VACUUM's
  * shape. No driver state beyond segment/snapshot NAMES.
  */
object CatalogVacuum {

  final case class VacuumStats(
      floor: String,
      vacuumedSegments: Seq[String],
      vacuumedSnapshots: Seq[String],
      keptSegments: Seq[String])

  private val metaCols = Seq("op", "seq", "eff")
  private val floorMarker = "_vacuum_floor"
  private val coverageDir = "_coverage"

  private def fs(spark: SparkSession, tablePath: String) =
    new Path(tablePath).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

  /** Initialize the versioned table: `base` becomes the origin
    * snapshot (the state as of `originWatermark`, before any logged
    * change — its coverage receipt is therefore empty).
    */
  def init(spark: SparkSession, tablePath: String, base: DataFrame,
      originWatermark: String): Unit = {
    base.write.mode(SaveMode.Overwrite)
      .parquet(s"$tablePath/snapshot=$originWatermark")
    writeCoverage(spark, tablePath, originWatermark, Map.empty)
  }

  /** Atomically persist the per-segment folded (row count, max seq)
    * receipt for snapshot `watermark` (one `seg<TAB>count<TAB>maxSeq`
    * line per segment). The max-seq component is what keeps the
    * receipt sound AFTER a vacuum deletes a segment: a month
    * resurrected by a replayed batch carries the SAME seqs (genuinely
    * folded — deletable again), while a genuinely NEW backdated
    * change carries a fresh, higher seq and can never collide with a
    * receipt by count alone. Assumes seqs are unique and issued
    * increasing — the identity contract of a change log's sequence
    * number (the fold itself is ambiguous without it); eff order is
    * NOT assumed.
    */
  private def writeCoverage(spark: SparkSession, tablePath: String,
      watermark: String, counts: Map[String, (Long, Long)]): Unit = {
    val body = counts.toSeq.sortBy(_._1)
      .map { case (s, (c, m)) => s"$s\t$c\t$m" }.mkString("\n")
    CatalogIO.writeAtomically(spark, s"$tablePath/$coverageDir/w=$watermark",
      body.getBytes("UTF-8"))
  }

  /** The coverage receipt for snapshot `watermark`; None when the
    * snapshot predates the receipt protocol (vacuum then refuses to
    * delete anything it cannot prove folded).
    */
  private def readCoverage(spark: SparkSession, tablePath: String,
      watermark: String): Option[Map[String, (Long, Long)]] =
    CatalogIO.readMarker(spark, s"$tablePath/$coverageDir/w=$watermark")
      .map(_.split("\n").filter(_.nonEmpty).map { line =>
        val Array(s, c, m) = line.split("\t")
        s -> (c.toLong, m.toLong)
      }.toMap)

  /** Append change records (data cols + op ∈ upsert|delete, monotone
    * seq, eff DATE) into month segments.
    */
  def appendLog(spark: SparkSession, tablePath: String,
      changes: DataFrame): Unit =
    changes
      .withColumn("seg_month", date_format(col("eff"), "yyyy-MM"))
      .write.mode(SaveMode.Append)
      .partitionBy("seg_month")
      .parquet(s"$tablePath/log")

  /** Snapshot watermarks present on disk, ascending. */
  def snapshots(spark: SparkSession, tablePath: String): Seq[String] = {
    val f = fs(spark, tablePath)
    val root = new Path(tablePath)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("snapshot="))
      .map(_.stripPrefix("snapshot=")).sorted.toSeq
  }

  /** Month segments present on disk, ascending. */
  def segments(spark: SparkSession, tablePath: String): Seq[String] = {
    val f = fs(spark, tablePath)
    val logRoot = new Path(s"$tablePath/log")
    if (!f.exists(logRoot)) Seq.empty
    else f.listStatus(logRoot).map(_.getPath.getName)
      .filter(_.startsWith("seg_month="))
      .map(_.stripPrefix("seg_month=")).sorted.toSeq
  }

  /** The earliest servable cutoff (set by [[vacuum]]); None before the
    * first vacuum.
    */
  def vacuumFloor(spark: SparkSession, tablePath: String): Option[String] =
    CatalogIO.readMarker(spark, s"$tablePath/$floorMarker")
      .map(_.trim).filter(_.nonEmpty)

  /** State as of `cutoff` (a `yyyy-MM-dd` date string): the latest
    * snapshot ≤ cutoff plus every surviving log change with
    * eff ≤ cutoff, latest (eff, seq) per key winning, tombstones
    * dropping. Refuses cutoffs below the vacuum floor — the data to
    * answer them was physically deleted, and a wrong answer would be
    * silent corruption.
    */
  def asOf(spark: SparkSession, tablePath: String, cutoff: String,
      keyCol: String = "doc_id"): DataFrame = {
    vacuumFloor(spark, tablePath).foreach { floor =>
      if (cutoff < floor) throw new IllegalStateException(
        s"cannot time-travel to $cutoff: vacuum removed the change " +
          s"history before $floor (the retention floor); earliest " +
          s"servable cutoff is $floor")
    }
    val snaps = snapshots(spark, tablePath)
    val atOrBefore = snaps.filter(_ <= cutoff)
    require(atOrBefore.nonEmpty,
      s"no snapshot at or before $cutoff (have: ${snaps.mkString(", ")})")
    val w = atOrBefore.max
    val snap = spark.read.parquet(s"$tablePath/snapshot=$w")
    val dataCols = snap.columns.toSeq
    val segs = segments(spark, tablePath)
    if (segs.isEmpty) return snap
    val log = spark.read.parquet(s"$tablePath/log")
      .where(col("eff") <= to_date(lit(cutoff)))
      .select((dataCols ++ metaCols).map(col): _*)
    val asLog = snap
      .withColumn("op", lit("upsert"))
      .withColumn("seq", lit(-1L))
      .withColumn("eff", to_date(lit("1900-01-01")))
    val wk = Window.partitionBy(keyCol).orderBy(desc("eff"), desc("seq"))
    asLog.unionByName(log)
      .withColumn("rn", row_number().over(wk))
      .where(col("rn") === 1 && col("op") =!= "delete")
      .select(dataCols.map(col): _*)
  }

  /** Materialize a new snapshot at `watermark` — the checkpoint that
    * makes later vacuums able to cover the months it folds. Staged
    * like `CatalogCompaction` (the snapshot read feeding the fold must
    * never be the directory being written).
    */
  def checkpoint(spark: SparkSession, tablePath: String,
      watermark: String, keyCol: String = "doc_id"): Unit = {
    // coverage receipt FIRST (collect forces the scan before the
    // snapshot write): per-segment count of changes with
    // eff ≤ watermark this snapshot will fold — an append racing the
    // checkpoint can only make the snapshot fold MORE than recorded,
    // which keeps its segment vacuum-safe (kept, replayed)
    val folded: Map[String, (Long, Long)] =
      if (segments(spark, tablePath).isEmpty) Map.empty
      else spark.read.parquet(s"$tablePath/log")
        .where(col("eff") <= to_date(lit(watermark)))
        .groupBy(col("seg_month"))
        .agg(count(lit(1)).as("n"), max("seq").as("mx"))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val target = s"$tablePath/snapshot=$watermark"
    val staging = new Path(target + ".staging")
    val f = fs(spark, tablePath)
    f.delete(staging, true)
    asOf(spark, tablePath, watermark, keyCol)
      .write.mode(SaveMode.Overwrite).parquet(staging.toString)
    f.delete(new Path(target), true)
    if (!f.rename(staging, new Path(target)))
      throw new IllegalStateException(s"rename $staging -> $target failed")
    writeCoverage(spark, tablePath, watermark, folded)
  }

  /** Physically delete every month segment no retained as-of read can
    * need, plus superseded snapshots, and advance the refusal floor.
    * horizon = latest watermark − `retentionDays`; the floor is the
    * latest snapshot w_cov ≤ horizon (see the safety argument above).
    * Idempotent: a second run finds nothing below the floor.
    */
  def vacuum(spark: SparkSession, tablePath: String,
      retentionDays: Int): VacuumStats = {
    val snaps = snapshots(spark, tablePath)
    require(snaps.nonEmpty, s"no snapshots under $tablePath")
    val latest = java.time.LocalDate.parse(snaps.max)
    val horizon = latest.minusDays(retentionDays.toLong).toString
    val covered = snaps.filter(_ <= horizon)
    val f = fs(spark, tablePath)
    if (covered.isEmpty) {
      // nothing ≤ horizon to serve retained reads from — vacuum would
      // strand cutoffs in [horizon, first snapshot); delete nothing
      return VacuumStats(
        vacuumFloor(spark, tablePath).getOrElse(snaps.min),
        Nil, Nil, segments(spark, tablePath))
    }
    val wCov = covered.max

    // per-segment (max(eff), count, max(seq)): the one data-plane
    // scan (column-pruned; production keeps this in segment metadata)
    val segs = segments(spark, tablePath)
    val segStats: Map[String, (String, Long, Long)] =
      if (segs.isEmpty) Map.empty
      else spark.read.parquet(s"$tablePath/log")
        .groupBy(col("seg_month"))
        .agg(max(date_format(col("eff"), "yyyy-MM-dd")).as("max_eff"),
          count(lit(1)).as("n"), max("seq").as("mx"))
        .collect()
        .map(r => r.getString(0) ->
          (r.getString(1), r.getLong(2), r.getLong(3))).toMap

    // a segment is deletable only when PROVABLY folded into EVERY
    // surviving snapshot an as-of read might pick (all w ≥ w_cov —
    // asOf chooses the latest ≤ cutoff, so a backdated change folded
    // into w_cov but absent from a LATER stale snapshot would still
    // be lost): max_eff ≤ w_cov AND the segment's current
    // (count, max seq) equals each such snapshot's coverage receipt —
    // a backdated append after any of those checkpoints inflates the
    // count/seq → segment kept until every stale snapshot is
    // re-checkpointed; a month RESURRECTED by a replayed batch matches
    // exactly (same folded records, deletable again) while a new
    // change's fresh seq can never collide by count alone. A missing
    // receipt (pre-protocol snapshot) proves nothing → that snapshot
    // vetoes all deletion.
    val receipts: Seq[Map[String, (Long, Long)]] = snaps.filter(_ >= wCov)
      .map(w => readCoverage(spark, tablePath, w))
      .map {
        case Some(m) => m
        case None => return VacuumStats(
          vacuumFloor(spark, tablePath).getOrElse(snaps.min),
          Nil, Nil, segs)
      }
    val vacuumable = segs.filter { s =>
      segStats.get(s).exists { case (maxEff, n, mx) =>
        maxEff <= wCov &&
          receipts.forall(_.get(s).contains((n, mx)))
      }
    }
    vacuumable.foreach { s =>
      f.delete(new Path(s"$tablePath/log/seg_month=$s"), true)
    }
    val oldSnaps = snaps.filter(_ < wCov)
    oldSnaps.foreach { w =>
      f.delete(new Path(s"$tablePath/snapshot=$w"), true)
    }

    // floor only ever advances (a lagging re-run must not regress it)
    val floor = vacuumFloor(spark, tablePath) match {
      case Some(old) if old >= wCov => old
      case _ => wCov
    }
    CatalogIO.writeAtomically(spark, s"$tablePath/$floorMarker",
      floor.getBytes("UTF-8"))

    VacuumStats(floor, vacuumable, oldSnaps,
      segs.filterNot(vacuumable.toSet))
  }
}
