package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.catalog.FileIndexer.IndexFilter
import graft.streaming.IncrementalIndexer

/** End-to-end incremental indexing through `startWithProtocol`:
  * manifests arriving in waves are filtered, level-assigned, and
  * appended to the partitioned catalog — with no reprocessing of
  * already-indexed files across restarts (checkpointed file source).
  */
class IncrementalIndexerSpec extends GraftSpec {

  private val filters = Seq(
    IndexFilter("1", Seq("\\.csv$")),
    IndexFilter("2", Seq("\\.txt$")))

  test("manifest waves index incrementally with exactly-once semantics") {
    val base = Files.createTempDirectory("graft_stream")
    val in = base.resolve("in"); Files.createDirectories(in)
    val out = base.resolve("catalog").toString
    val rejected = base.resolve("rejected").toString
    val events = base.resolve("events").toString
    val chk = base.resolve("chk").toString

    def runWave(name: String, lines: String): Unit = {
      Files.writeString(in.resolve(name), lines)
      val q = IncrementalIndexer.startWithProtocol(spark, in.toString, out,
        rejected, events, chk, filters, generatedBy = "job-A")
      q.awaitTermination()
    }

    runWave("w1.jsonl",
      """{"doc_id": 1, "path": "a/x.csv", "n_chars": 10}
        |{"doc_id": 2, "path": "a/y.log", "n_chars": 20}
        |{"doc_id": 3, "path": "a/z.txt", "n_chars": 30}
        |""".stripMargin)
    val afterW1 = spark.read.parquet(out)
    assert(afterW1.count() == 2) // .log filtered out
    assert(afterW1.where(col("processing_level") === "1").count() == 1)

    runWave("w2.jsonl",
      """{"doc_id": 4, "path": "b/k.csv", "n_chars": 40}
        |""".stripMargin)
    val afterW2 = spark.read.parquet(out)
    // wave-1 rows were NOT reprocessed (exactly-once over input files)
    assert(afterW2.count() == 3)
    assert(afterW2.agg(sum("doc_id")).head.getLong(0) == 1 + 3 + 4)
    assert(afterW2.columns.contains("generated_by"))
    // one `indexed` handshake per wave: 2 + 1 files over two batches
    val states = IncrementalIndexer.jobStates(spark.read.json(events))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    assert(states.toSeq == Seq(("job-A", "FINISHED", 3L, 2L)))
  }
}
