package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.scheduler._

/** One workload's section of `workloads.json` (the single record of the
  * generator parameters; nothing here has a default of its own).
  */
final class Params(val node: JsonNode) {
  private def at(k: String): JsonNode = {
    val v = node.get(k)
    require(v != null, s"workloads.json: missing key '$k'")
    v
  }
  def int(k: String): Int = at(k).asInt()
  def dbl(k: String): Double = at(k).asDouble()
  def strs(k: String): IndexedSeq[String] =
    at(k).elements().asScala.map(_.asText()).toIndexedSeq
  def obj(k: String): Params = new Params(at(k))
  def filters(k: String): Seq[graft.catalog.FileIndexer.IndexFilter] =
    at(k).elements().asScala.map { f =>
      graft.catalog.FileIndexer.IndexFilter(
        f.get("processing_level").asText(),
        f.get("patterns").elements().asScala.map(_.asText()).toSeq)
    }.toSeq
}

object Params {
  def load(path: String): Params =
    new Params(new ObjectMapper().readTree(new java.io.File(path)))
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile that still has at least `beyond` samples
    * above it: the sample at sorted rank n-1-beyond. When that rank
    * would fall below the median (n <= 2 * beyond) it is no tail, and
    * the maximum stands in (reported as percentile 100).
    */
  def tail(xs: Seq[Double], beyond: Int): (Double, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    if (n <= 2 * beyond) (s(n - 1), 100.0)
    else {
      val i = n - 1 - beyond
      (s(i), 100.0 * (i + 1) / n)
    }
  }

  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9
}

/** Minimal JSON writer for the result line and the sidecars. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** In-memory spans for the traced run: (name, start, end, parent, op).
  * A span's layer is its name up to the first dot. Spans nest on the
  * single client thread, so a layer's self time is its spans' durations
  * minus the durations of their direct children. Disabled, `span` is a
  * plain call.
  */
final class Trace(val enabled: Boolean) {
  final case class Span(id: Int, name: String, start: Long, end: Long,
      parent: Int, op: String) {
    def secs: Double = (end - start) / 1e9
    def layer: String = name.takeWhile(_ != '.')
  }

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var bookkeepingNs = 0L
  /** Identifier of the operation (request, batch, query) in flight. */
  var op: String = ""

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val b0 = System.nanoTime()
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val start = System.nanoTime()
      bookkeepingNs += start - b0
      try body
      finally {
        val end = System.nanoTime()
        stack = stack.tail
        spans += Span(id, name, start, end, parent, op)
        bookkeepingNs += System.nanoTime() - end
      }
    }

  def overheadSecs: Double = bookkeepingNs / 1e9

  def selfTimeByLayer: Map[String, Double] = {
    val childSecs = spans.groupBy(_.parent).view
      .mapValues(_.iterator.map(_.secs).sum).toMap
    spans.groupBy(_.layer).view.mapValues(_.iterator.map { s =>
      s.secs - childSecs.getOrElse(s.id, 0.0)
    }.sum).toMap
  }

  /** Write every span as one JSON line (times relative to `origin`). */
  def writeSidecar(path: java.nio.file.Path, origin: Long): Unit = {
    val lines = spans.sortBy(_.start).map { s =>
      Json.obj(Seq(
        "id" -> s.id.toString, "name" -> Json.str(s.name),
        "start_s" -> Json.num((s.start - origin) / 1e9),
        "end_s" -> Json.num((s.end - origin) / 1e9),
        "parent" -> s.parent.toString, "op" -> Json.str(s.op)))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Engine counts from Spark's public listener bus, grouped by the
  * `graftbench.scope` local property the client thread sets around each
  * operation (the analytics family, or the workload name).
  */
final class SparkCounters extends SparkListener {
  final class Acc {
    val jobs, stages, tasks, runMs, shuffleWrite, spill = new AtomicLong()
  }
  private val accs = new ConcurrentHashMap[String, Acc]()
  private val stageScope = new ConcurrentHashMap[Int, String]()
  private val callbackNs = new AtomicLong()
  private val events = new AtomicLong()

  private def acc(scope: String): Acc = accs.computeIfAbsent(scope, _ => new Acc)
  private def scopeOf(stageId: Int): String = stageScope.getOrDefault(stageId, "other")

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    events.incrementAndGet()
    callbackNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val scope = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SparkCounters.scopeKey)))
      .getOrElse("other")
    e.stageInfos.foreach(si => stageScope.put(si.stageId, scope))
    acc(scope).jobs.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    acc(scopeOf(e.stageInfo.stageId)).stages.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val a = acc(scopeOf(e.stageId))
    a.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      a.runMs.addAndGet(m.executorRunTime)
      a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Block until no event has arrived for a short quiet period, so the
    * asynchronous bus has delivered the run's events.
    */
  def drain(): Unit = {
    var last = -1L
    var waited = 0
    while (events.get() != last && waited < 50) {
      last = events.get()
      Thread.sleep(100)
      waited += 1
    }
  }

  def callbackSecs: Double = callbackNs.get() / 1e9

  /** Totals over the scopes accepted by `keep`. */
  def totals(keep: String => Boolean): Map[String, Double] = {
    val sel = accs.asScala.filter { case (k, _) => keep(k) }.values
    def sum(f: Acc => AtomicLong) = sel.iterator.map(f(_).get()).sum.toDouble
    Map(
      "jobs" -> sum(_.jobs), "stages" -> sum(_.stages),
      "tasks" -> sum(_.tasks), "run_s" -> sum(_.runMs) / 1000.0,
      "shuffle_write_bytes" -> sum(_.shuffleWrite),
      "spill_bytes" -> sum(_.spill))
  }

  def scopes: Seq[String] = accs.keySet().asScala.toSeq.sorted
}

object SparkCounters {
  val scopeKey = "graftbench.scope"
}
