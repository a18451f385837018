package graft.catalog

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's `index` action as a reusable Spark API.
  *
  * A ManagedPipelineJob index request carries a filter list
  * `[{processing_level, patterns: [regex, ...]}, ...]` (shape:
  * `/root/reference/tests/data/index01.json`); the indexer walks the
  * job's archive and creates one catalog record per file whose path
  * matches any pattern, labeled with the first matching filter's level
  * and linked to the requesting job via `generated_by`
  * (`/root/reference/reactor.py:162-167,166`).
  *
  * Here the walk is a DataFrame of candidate files; matching compiles
  * to a constant CASE chain of `rlike`s evaluated in whole-stage
  * codegen — adding filters never adds passes over the data.
  */
object FileIndexer {

  /** One entry of the index request's filter list. */
  final case class IndexFilter(processingLevel: String, patterns: Seq[String])

  /** First-match-wins level assignment as a Column over `pathCol`. */
  def levelFor(pathCol: Column, filters: Seq[IndexFilter]): Column =
    filters.foldLeft(lit(null).cast("string")) { (acc, f) =>
      coalesce(acc,
        when(f.patterns.map(pathCol.rlike(_)).reduce(_ || _),
          f.processingLevel))
    }

  /** Index `files` (must expose `pathCol`): keep matching rows, attach
    * `processing_level` and the `generated_by` lineage uuid.
    *
    * Parameter-resolution parity with the reference: a request with NO
    * filter list indexes EVERY file at `defaultLevel` — the reference
    * resolves a missing `level` to "1" and passes `filters=None`
    * straight through to its indexing call
    * (`/root/reference/reactor.py:88-104,164-167`), which then labels
    * the whole archive. Callers that resolved an explicit level pass it
    * as `defaultLevel`.
    */
  def index(files: DataFrame, pathCol: String, filters: Seq[IndexFilter],
      generatedBy: String, defaultLevel: String = "1"): DataFrame = {
    val level =
      if (filters.isEmpty) lit(defaultLevel).cast("string")
      else levelFor(col(pathCol), filters)
    files
      .withColumn("processing_level", level)
      .where(col("processing_level").isNotNull)
      .withColumn("generated_by", lit(generatedBy))
  }
}
