package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.types.{LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** Focused specs for the per-JVM memo the r12 optimization round leans
  * on: JvmMemo (one future per key) and LayoutCache's parquet trees and
  * tables over it. A key must compute exactly once per JVM, re-run
  * after a failure, and fail fast on same-key re-entrancy instead of
  * deadlocking. (The suite keeps the name it had when the driver-side
  * values lived in their own cache object.)
  */
class DerivedCacheSpec extends AnyFunSuite {

  test("DerivedCache computes a key once and memoizes the value") {
    var runs = 0
    def get(): Seq[Int] =
      JvmMemo.getOrCompute("value", "spec_once", "/spec/dir") {
        runs += 1; Seq(1, 2, 3)
      }
    assert(get() == Seq(1, 2, 3))
    assert(get() == Seq(1, 2, 3))
    assert(runs == 1, "compute ran more than once for the same key")
  }

  test("DerivedCache keys include the dir — two dirs, two computes") {
    var runs = 0
    def get(d: String): Int =
      JvmMemo.getOrCompute[Integer]("value", "spec_dirs", d) { runs += 1; 7 }
    get("/a"); get("/b"); get("/a")
    assert(runs == 2)
  }

  test("DerivedCache: a failed compute is uncached, a retry re-runs") {
    var attempts = 0
    def get(fail: Boolean): Integer =
      JvmMemo.getOrCompute[Integer]("value", "spec_retry", "/d") {
        attempts += 1
        if (fail) throw new RuntimeException("boom")
        42
      }
    intercept[RuntimeException](get(fail = true))
    assert(get(fail = false) == 42)
    assert(attempts == 2)
  }

  test("LayoutCache: same-key re-entrant getOrWrite fails fast " +
      "instead of deadlocking on its own future") {
    val e = intercept[IllegalStateException] {
      LayoutCache.getOrWrite("spec_reentrant", "/spec/dir") { _ =>
        LayoutCache.getOrWrite("spec_reentrant", "/spec/dir")(_ => ())
        ()
      }
    }
    assert(e.getMessage.contains("re-entrant"))
    // the failed outer write must be uncached: a retry runs the write
    var ran = false
    LayoutCache.getOrWrite("spec_reentrant", "/spec/dir")(_ => ran = true)
    assert(ran, "failed re-entrant attempt left a poisoned cache entry")
  }

  test("LayoutCache: cross-key nesting inside a write is allowed") {
    var innerRan = false
    LayoutCache.getOrWrite("spec_outer", "/spec/dir") { _ =>
      LayoutCache.getOrWrite("spec_inner", "/spec/dir")(_ => innerRan = true)
      ()
    }
    assert(innerRan)
  }

  test("DerivedCache: same-key re-entrant getOrCompute fails fast " +
      "instead of deadlocking on its own future") {
    val e = intercept[IllegalStateException] {
      JvmMemo.getOrCompute[Integer]("value", "spec_dc_reentrant", "/d") {
        JvmMemo.getOrCompute[Integer]("value", "spec_dc_reentrant", "/d")(1)
      }
    }
    assert(e.getMessage.contains("re-entrant"))
    // the failed outer compute must be uncached: a retry runs
    assert(JvmMemo.getOrCompute[Integer](
      "value", "spec_dc_reentrant", "/d")(9) == 9)
  }

  test("LayoutCache: spark.graft.cacheRoot routes trees through the " +
      "session's Hadoop FS and the path round-trips") {
    val spark = TestSpark.spark
    val root = java.nio.file.Files
      .createTempDirectory("graft_spec_cacheroot").toString
    spark.conf.set("spark.graft.cacheRoot", root)
    try {
      var written: String = null
      val got = LayoutCache.getOrWrite("spec_fsroot", "/spec/dir") { tmp =>
        written = tmp
        // write through the Hadoop FS the path resolves to — the
        // round-trip a cluster's distributed write performs
        val p = new org.apache.hadoop.fs.Path(tmp, "marker")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val out = fs.create(p)
        out.writeUTF("ok"); out.close()
      }
      assert(got == written)
      // allocated under the configured root, not java.io.tmpdir
      val qualifiedRoot = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(new org.apache.hadoop.fs.Path(root)).toString
      assert(got.startsWith(qualifiedRoot),
        s"cache dir $got not under configured root $qualifiedRoot")
      // the written bytes read back through the same FS resolution
      val p = new org.apache.hadoop.fs.Path(got, "marker")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fs.open(p)
      assert(in.readUTF() == "ok"); in.close()
    } finally spark.conf.unset("spark.graft.cacheRoot")
  }

  test("JvmMemo: eight threads racing on one key compute once and all " +
      "get the same value") {
    val runs = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map { _ =>
        pool.submit(new Callable[AnyRef] {
          def call(): AnyRef = {
            start.await()
            JvmMemo.getOrCompute("value", "spec_race", "/d") {
              runs.incrementAndGet()
              Thread.sleep(200) // hold the key while the others arrive
              new Object
            }
          }
        })
      }
      start.countDown()
      val got = futures.map(_.get(60, TimeUnit.SECONDS))
      assert(runs.get == 1, "the compute ran more than once under a race")
      assert(got.forall(_ eq got.head), "threads got different values")
    } finally pool.shutdownNow()
  }

  test("LayoutCache.table: a hit reads the bytes back without " +
      "evaluating the plan") {
    val spark = TestSpark.spark
    var built = 0
    def get() = LayoutCache.table("spec_table_hit", "/spec/dir") {
      built += 1
      spark.range(3).toDF("id")
    }
    assert(get().collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L))
    assert(get().collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L))
    assert(built == 1, "the by-name plan was evaluated on a hit")
  }

  test("LayoutCache.table: an empty plan reads back a typed, empty frame") {
    val spark = TestSpark.spark
    val t = LayoutCache.table("spec_table_empty", "/spec/dir") {
      spark.range(5).where("id < 0")
        .selectExpr("id", "cast(id AS string) AS s")
    }
    assert(t.schema.map(f => (f.name, f.dataType)) ==
      Seq("id" -> LongType, "s" -> StringType))
    assert(t.collect().isEmpty)
  }

  test("LayoutCache: getOrWrite after deleteAll runs the write again " +
      "and returns a tree that exists") {
    var writes = 0
    def get(): String = LayoutCache.getOrWrite("spec_after_delete",
        "/spec/dir") { tmp =>
      writes += 1
      Files.writeString(Paths.get(tmp, "marker"), "ok")
    }
    val first = get()
    assert(get() == first && writes == 1)
    LayoutCache.deleteAll()
    assert(!Files.exists(Paths.get(first)))
    val second = get()
    assert(writes == 2, "deleteAll left a memo entry naming a deleted tree")
    assert(Files.exists(Paths.get(second, "marker")))
  }
}
