package graftbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What every workload shares: the session, its parameters, the trace
  * and the operation accounting.
  */
abstract class Workload(val spark: SparkSession, val p: Params,
    val trace: Trace, val tailBeyond: Int) {

  var attempted = 0L
  var failed = 0L
  val mismatches = ArrayBuffer.empty[String]

  /** Write this workload's inputs and initial state under `dir` (a
    * fresh directory per call). Timed as set-up; the last call's state
    * is the one `run` uses.
    */
  def prepare(dir: Path): Unit

  /** The measured part: any cold or bulk phase first, then the closed
    * loop. The loop's length is a fixed amount of work sized from
    * `seconds` and the workload's `nominal_unit_s` (about `seconds` on
    * the reference box), never from how fast this run goes: a faster
    * program is measured on the same sample mix.
    */
  def run(seconds: Double): Unit

  /** Final correctness checks, outside the timed region. */
  def check(): Unit

  def endToEnd: Map[String, Double]
  def perLayer(counters: SparkCounters): Map[String, Double]

  /** One operation: count it, catch only non-fatal failures. A mismatch
    * recorded inside `body` also counts the operation as failed.
    */
  protected def op(label: String)(body: => Unit): Unit = {
    attempted += 1
    val before = mismatches.length
    trace.op = label
    try body
    catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[graftbench] $label failed: $e")
        return
    }
    if (mismatches.length > before) failed += 1
  }

  protected def expect(ok: Boolean, what: => String): Unit =
    if (!ok) {
      mismatches += what
      System.err.println(s"[graftbench] mismatch: $what")
    }

  protected def latencyMetrics(prefix: String, xs: Seq[Double]): Map[String, Double] = {
    require(xs.nonEmpty, s"no $prefix samples")
    val (t, pct) = Stats.tail(xs, tailBeyond)
    System.err.println(f"[graftbench] ${prefix}_tail_s is p$pct%.1f of ${xs.length} samples: " +
      xs.map(x => f"$x%.3f").mkString(" "))
    Map(s"${prefix}_p50_s" -> Stats.median(xs), s"${prefix}_tail_s" -> t)
  }

  protected def units(seconds: Double): Int =
    math.max(1, math.round(seconds / p.dbl("nominal_unit_s")).toInt)

  protected def setScope(scope: String): Unit =
    spark.sparkContext.setLocalProperty(SparkCounters.scopeKey, scope)
}

object Workload {
  /** Data files under `dir` (Spark's `_SUCCESS`, `.crc` and metadata
    * entries excluded).
    */
  def dataFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_)).filter { f =>
          val n = f.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_")
        }.toVector
      } finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}
