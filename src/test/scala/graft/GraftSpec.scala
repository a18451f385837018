package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — the
  * suite forks a single JVM, so getOrCreate dedupes). Built like
  * `GraftSession`: with `GraftExtensions` and the nanos-as-long parquet
  * read, so specs see the same functions and rules a deploy does.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .withExtensions(new GraftExtensions()(_))
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class GraftSpec extends AnyFunSuite {
  def spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf

  /** Delete a spec-owned temp layout (cache-owned trees are deleted by
    * [[LayoutCache]] instead).
    */
  protected def deleteTempLayout(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}
