package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator module contributes a `queries` map (name -> plan
  * builder) and an `oracles` map (name -> DuckDB SQL); this object just
  * concatenates them. Keys are the SURVEY.md §2 inventory names, and no
  * two modules share one (QueriesSpec checks it).
  */
object SparkEntry {

  /** Every operator module's `(queries, oracles)` pair, in one list so
    * a module cannot be registered for plans but forgotten for oracles.
    */
  private[graft] def modules: Seq[(
      Map[String, (SparkSession, String) => DataFrame],
      Map[String, String])] = {
    import operators._
    Seq(
      (Catalog.queries, Catalog.oracles),
      (Relational.queries, Relational.oracles),
      (Temporal.queries, Temporal.oracles),
      (SemiStructured.queries, SemiStructured.oracles),
      (TextAnalysis.queries, TextAnalysis.oracles),
      (Dedup.queries, Dedup.oracles),
      (Similarity.queries, Similarity.oracles),
      (Multimodal.queries, Multimodal.oracles),
      (Extensions.queries, Extensions.oracles),
      (Corpus.queries, Corpus.oracles),
      (Quality.queries, Quality.oracles),
      (Change.queries, Change.oracles),
      (Graph.queries, Graph.oracles),
      (Subqueries.queries, Subqueries.oracles),
      (Analytics.queries, Analytics.oracles),
      (Advanced.queries, Advanced.oracles),
      (Frontier.queries, Frontier.oracles),
      (Curation.queries, Curation.oracles),
      (Horizon.queries, Horizon.oracles),
      (Meridian.queries, Meridian.oracles),
      (Zenith.queries, Zenith.oracles),
      (Pinnacle.queries, Pinnacle.oracles),
      (Summit.queries, Summit.oracles),
      (Crest.queries, Crest.oracles),
      (Keystone.queries, Keystone.oracles),
      (Lattice.queries, Lattice.oracles),
      (Aegis.queries, Aegis.oracles),
      (Layout.queries, Layout.oracles),
    )
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_._1).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.map(_._2).reduce(_ ++ _)
}
