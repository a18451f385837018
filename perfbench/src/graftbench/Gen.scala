package graftbench

import java.util.regex.Pattern

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.catalog.FileIndexer.IndexFilter

/** Zipf(s) over ranks 1..n by inverse CDF. */
final class Zipf(n: Int, s: Double, rnd: java.util.Random) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  def sample(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(n, (if (i >= 0) i else -i - 1) + 1)
  }
}

object Gen {
  def uuid(rnd: java.util.Random): String =
    new java.util.UUID(rnd.nextLong(), rnd.nextLong()).toString

  /** First-match-wins level of `path`, computed with java.util.regex
    * `find` (the partial-match semantics of Spark's `rlike`).
    */
  def levelOf(path: String, filters: Seq[(String, Seq[Pattern])]): Option[String] =
    filters.collectFirst {
      case (level, ps) if ps.exists(_.matcher(path).find()) => level
    }

  def compiled(filters: Seq[IndexFilter]): Seq[(String, Seq[Pattern])] =
    filters.map(f => f.processingLevel -> f.patterns.map(p => Pattern.compile(p)))
}

/** Inputs of `catalog-ingest`: an archive manifest with Zipf-skewed
  * files per job, and a stream of index-request messages of which a
  * fixed share is malformed, lacks a uuid, or falls back to URL params.
  */
final class IngestGen(p: Params, seed: Long) {
  import IngestGen._
  private val rnd = new java.util.Random(seed)
  val filters: Seq[IndexFilter] = p.filters("filters")
  private val patterns = Gen.compiled(filters)
  private val sizes = new Zipf(p.int("zipf_ranks"), p.dbl("zipf_s"), rnd)
  private val maxFiles = p.int("max_files_per_job")
  private val dirs = p.strs("dirs")
  private val exts = p.strs("extensions")
  private var nextDoc = 0L

  private def job(): Job = {
    val id = Gen.uuid(rnd)
    val n = math.max(1, maxFiles / sizes.sample())
    val lab = rnd.nextInt(p.int("labs"))
    val proj = rnd.nextInt(p.int("projects"))
    val files = (0 until n).map { k =>
      val depth = rnd.nextInt(p.int("max_depth") + 1)
      val sub = (0 until depth).map(_ => dirs(rnd.nextInt(dirs.length)))
      val path = (Seq(s"/archive/lab$lab/proj$proj/$id") ++ sub :+
        s"f${k}_${rnd.nextInt(1000)}.${exts(rnd.nextInt(exts.length))}")
        .mkString("/")
      nextDoc += 1
      ManifestRow(nextDoc, path, 100L + rnd.nextInt(1 << 20))
    }
    Job(id, files)
  }

  /** Files of `job` the filter list indexes. */
  def expectedMatches(files: Seq[ManifestRow], fs: Seq[IndexFilter]): Long = {
    val ps = if (fs eq filters) patterns else Gen.compiled(fs)
    files.count(f => Gen.levelOf(f.path, ps).isDefined).toLong
  }

  val bulkUuid: String = Gen.uuid(rnd)
  /** Whole Zipf-sized jobs up to exactly `bulk_files` files (the last
    * job cut short), so every seed indexes the same amount of work.
    */
  val archive: IndexedSeq[ManifestRow] = {
    val want = p.int("bulk_files")
    val b = IndexedSeq.newBuilder[ManifestRow]
    var n = 0
    while (n < want) {
      val fs = job().files.take(want - n)
      b ++= fs
      n += fs.length
    }
    b.result()
  }
  val bulkExpected: Long = expectedMatches(archive, filters)

  /** Percent-encoded JSON of the filter list: what the URL-param
    * fallback (request context) supplies.
    */
  val urlFiltersJson: String = filtersJson(filters.map(f =>
    IndexFilter(f.processingLevel, f.patterns.map(percentEncode))))

  val requests: IndexedSeq[Message] = {
    val bad = p.dbl("malformed_json_share")
    val noUuid = bad + p.dbl("missing_uuid_share")
    val url = noUuid + p.dbl("urlparams_share")
    (0 until p.int("requests")).map { _ =>
      val j = job()
      val r = rnd.nextDouble()
      // a valid request asks for a seeded non-empty subset of the levels
      val subset = filters.filter(_ => rnd.nextBoolean()) match {
        case Nil => Seq(filters(rnd.nextInt(filters.length)))
        case s => s
      }
      if (r < bad)
        Message("malformed_json",
          s"""{"name": "index" "uuid": "${j.uuid}", "filters": [""", j, Nil)
      else if (r < noUuid)
        Message("missing_uuid",
          s"""{"name": "index", "filters": ${filtersJson(subset)}}""", j, Nil)
      else if (r < url)
        Message("urlparams",
          s"""{"uuid": "${j.uuid}", "name": "reindex", "level": "2"}""",
          j, filters)
      else
        Message("valid",
          s"""{"uuid": "${j.uuid}", "name": "index", "filters": ${filtersJson(subset)}}""",
          j, subset)
    }
  }

  val bulkMessage: String =
    s"""{"uuid": "$bulkUuid", "name": "index", "filters": ${filtersJson(filters)}}"""
}

object IngestGen {
  final case class ManifestRow(docId: Long, path: String, nChars: Long) {
    def json: String =
      s"""{"doc_id": $docId, "path": ${Json.str(path)}, "n_chars": $nChars}"""
  }
  final case class Job(uuid: String, files: IndexedSeq[ManifestRow])
  /** `filters` is what the request resolves to once routed (empty for
    * the kinds that dead-letter).
    */
  final case class Message(kind: String, json: String, job: Job,
      filters: Seq[IndexFilter]) {
    def deadLetters: Boolean = kind == "malformed_json" || kind == "missing_uuid"
  }

  def filtersJson(fs: Seq[IndexFilter]): String =
    fs.map { f =>
      s"""{"processing_level": ${Json.str(f.processingLevel)}, "patterns": [""" +
        f.patterns.map(Json.str).mkString(", ") + "]}"
    }.mkString("[", ", ", "]")

  def percentEncode(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8").replace("+", "%20")
}

/** Inputs of `catalog-churn`: a base catalog and a change log of
  * upserts, deletes and level moves on Zipf-hot keys, plus the
  * driver-side fold the final view is checked against.
  */
final class ChurnGen(p: Params, seed: Long) {
  import ChurnGen._
  private val rnd = new java.util.Random(seed)
  val levels: IndexedSeq[String] = p.strs("levels")
  private val baseRows = p.int("base_rows")

  private def rec(key: Long, level: String, version: Int): Rec =
    Rec(key, s"/archive/lab${key % 8}/proj${key % 16}/doc_$key.v$version",
      100L + rnd.nextInt(1 << 20), level, s"job-${key / 100}")

  val base: IndexedSeq[Rec] =
    (0 until baseRows).map(k => rec(k.toLong, levels(rnd.nextInt(levels.length)), 0))

  // hot ranks map to keys scattered over the key space
  private val hotKeys: Array[Long] = {
    val a = Array.tabulate(baseRows)(_.toLong)
    for (i <- a.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
  private val zipf = new Zipf(math.min(p.int("zipf_ranks"), baseRows), p.dbl("zipf_s"), rnd)

  /** Current state as the log has been generated so far. */
  private val state = scala.collection.mutable.HashMap.empty[Long, Rec]
  base.foreach(r => state(r.key) = r)
  private var nextKey = baseRows.toLong
  private var seq = 0L

  def hotKey(): Long = hotKeys(zipf.sample() - 1)

  /** The next batch of changes, applied to the generator's own fold. */
  def nextBatch(): IndexedSeq[Change] =
    (0 until p.int("batch_changes")).map { _ =>
      seq += 1
      val key =
        if (rnd.nextDouble() < p.dbl("new_key_share")) { nextKey += 1; nextKey - 1 }
        else hotKey()
      val cur = state.get(key)
      val r = rnd.nextDouble()
      val change =
        if (cur.isDefined && r < p.dbl("delete_share"))
          Change(cur.get, "delete", seq)
        else {
          val level = cur match {
            case Some(c) if rnd.nextDouble() >= p.dbl("level_move_share") => c.level
            case _ => levels(rnd.nextInt(levels.length))
          }
          Change(rec(key, level, seq.toInt), "upsert", seq)
        }
      if (change.op == "delete") state.remove(key) else state(key) = change.rec
      change
    }

  def expected: Map[Long, Rec] = state.toMap
}

object ChurnGen {
  final case class Rec(key: Long, path: String, nChars: Long, level: String,
      generatedBy: String) {
    def row: Row = Row(key, path, nChars, generatedBy, level)
  }
  final case class Change(rec: Rec, op: String, seq: Long) {
    def row: Row = Row(rec.key, rec.path, rec.nChars, rec.generatedBy,
      rec.level, op, seq)
    def jsonBytes: Int =
      s"""{"doc_id":${rec.key},"path":${Json.str(rec.path)},"n_chars":${rec.nChars},"generated_by":"${rec.generatedBy}","processing_level":"${rec.level}","op":"$op","seq":$seq}"""
        .length
  }

  val baseSchema: StructType = StructType.fromDDL(
    "doc_id BIGINT, path STRING, n_chars BIGINT, generated_by STRING, processing_level STRING")
  val logSchema: StructType = baseSchema
    .add("op", StringType).add("seq", LongType)
}
