package graftbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Entry point of the graft benchmark. `perfbench/run.py` builds the
  * classes and calls this with the workload, the seed, the measured
  * seconds and the trace switch; see `perfbench/README.md`.
  *
  * The last stdout line is the result:
  * `{"correct", "attempted", "failed", "metrics"}` with every
  * `end_to_end` metric of BENCHMARK.json untraced, every `per_layer`
  * metric traced. Exit code 1 on any correctness mismatch.
  */
object Main {
  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  private def need(args: Array[String], name: String): String =
    arg(args, name).getOrElse(sys.error(s"missing $name"))

  def main(args: Array[String]): Unit =
    sys.exit(bench(args, Runtime.getRuntime.availableProcessors))

  private def bench(args: Array[String], cores: Int): Int = {
    val workload = need(args, "--workload")
    val seed = need(args, "--seed").toLong
    val seconds = need(args, "--seconds").toDouble
    val traced = need(args, "--trace") == "1"
    val config = Params.load(need(args, "--config"))
    val declared = new ObjectMapper().readTree(new java.io.File(need(args, "--metrics")))
    val wanted = declared.get(if (traced) "per_layer" else "end_to_end")
      .elements().asScala.map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
    val tailBeyond = config.obj("load_shape").int("tail_beyond")
    val setupReps = config.obj("load_shape").int("setup_reps")
    val root = Files.createTempDirectory("graftbench-")
    val trace = new Trace(traced)

    val s0 = System.nanoTime()
    val spark = trace.span("session.create")(graft.GraftSession(cores, "graftbench"))
    val sessionS = Stats.secs(s0, System.nanoTime())
    val counters = new SparkCounters
    if (traced) spark.sparkContext.addSparkListener(counters)

    try {
      val p = config.obj(workload)
      val w: Workload = workload match {
        case "catalog-ingest" => new Ingest(spark, p, seed, trace, tailBeyond)
        case "catalog-churn" => new Churn(spark, p, seed, trace, tailBeyond)
        case "analytics-mix" => new Analytics(spark, p, seed, trace, tailBeyond,
          need(args, "--data"), Path.of(need(args, "--expected")),
          args.contains("--record-hashes"), cores)
        case other => sys.error(s"unknown workload $other")
      }
      // set-up runs several times into fresh directories; the last one
      // is kept and its figure is the median
      val prepS = (0 until setupReps).map { r =>
        val d = root.resolve(s"setup-$r")
        if (r > 0) Workload.deleteTree(root.resolve(s"setup-${r - 1}"))
        Files.createDirectories(d)
        val t0 = System.nanoTime()
        trace.span("setup.prepare")(w.prepare(d))
        Stats.secs(t0, System.nanoTime())
      }
      val setupS = sessionS + Stats.median(prepS)

      val m0 = System.nanoTime()
      w.run(seconds)
      val wall = Stats.secs(m0, System.nanoTime())
      w.check()
      if (traced) counters.drain()

      val metrics: Map[String, Double] =
        if (!traced) w.endToEnd + ("setup_s" -> setupS)
        else {
          val all = counters.totals(_ => true)
          val overhead = trace.overheadSecs + counters.callbackSecs
          w.perLayer(counters) ++
            trace.selfTimeByLayer.map { case (l, s) => s"self.${l}_s" -> s } ++ Map(
              "session.create_s" -> sessionS,
              "spark.jobs" -> all("jobs"), "spark.stages" -> all("stages"),
              "spark.tasks" -> all("tasks"),
              "spark.shuffle_write_bytes" -> all("shuffle_write_bytes"),
              "spark.spill_bytes" -> all("spill_bytes"),
              "spark.busy_frac" -> all("run_s") / (wall * cores),
              "trace.overhead_s" -> overhead,
              "trace.overhead_frac" -> overhead / wall,
              "trace.op_p50_s" -> w.endToEnd("op_p50_s"))
        }
      val sidecar = Option(System.getProperty("graftbench.sidecar")).filter(_ => traced)
      sidecar.foreach { dir =>
        val d = Files.createDirectories(Path.of(dir))
        trace.writeSidecar(d.resolve(s"spans-$workload-$seed.jsonl"), s0)
        val scopes = counters.scopes.map { s =>
          s -> Json.obj(counters.totals(_ == s).toSeq.sorted.map { case (k, v) =>
            k -> Json.num(v)
          })
        }
        Files.writeString(d.resolve(s"spark-$workload-$seed.json"), Json.obj(scopes))
      }

      val correct = w.mismatches.isEmpty
      val out = result(wanted, metrics, traced, correct, w.attempted, w.failed)
      System.err.println(f"[graftbench] $workload seed=$seed attempted=${w.attempted} " +
        f"failed=${w.failed} failed_ops_frac=${w.failed.toDouble / math.max(1L, w.attempted)}%.4f")
      println(out)
      if (correct) 0 else 1
    } finally {
      graft.LayoutCache.deleteAll()
      spark.stop()
      Workload.deleteTree(root)
    }
  }

  /** The result line. Every declared metric must be produced (per-layer
    * metrics of a layer the workload leaves idle read 0), an
    * end-to-end metric must be positive, and nothing undeclared may be
    * produced.
    */
  private def result(wanted: Seq[(String, String)], got: Map[String, Double],
      traced: Boolean, correct: Boolean, attempted: Long, failed: Long): String = {
    val names = wanted.map(_._1).toSet
    val extra = got.keySet -- names
    require(extra.isEmpty, s"metrics missing from BENCHMARK.json: ${extra.toSeq.sorted.mkString(", ")}")
    val ms = wanted.map { case (n, unit) =>
      val v = if (traced) got.getOrElse(n, 0.0) else got.getOrElse(n, Double.NaN)
      require(traced || v > 0, s"end-to-end metric $n is $v")
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
    }
    Json.obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> Json.obj(ms)))
  }
}
