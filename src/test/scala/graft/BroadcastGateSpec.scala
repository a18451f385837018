package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.scalatest.funsuite.AnyFunSuite

/** Plan assertions for the size-gated attach broadcasts
  * (Tables.maybeBroadcast): the VERDICT-flagged scale-killers were
  * unconditional `broadcast()` hints on corpus-growing attach tables.
  * These tests pin the replacement behavior at the physical-plan level:
  * with the planner's own threshold disabled, the hint alone must drive
  * BroadcastHashJoin while the estimate is under the gate, and the same
  * plan must fall back to shuffle joins when the gate closes (the
  * 100-TB planning outcome, emulated by `attachBroadcastMaxBytes=0`).
  */
class BroadcastGateSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private def sf = TestSpark.sf

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { pairs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private val gated: Seq[(String, () => DataFrame)] = Seq(
    "dedup_ngram_jaccard" ->
      (() => operators.Dedup.dedupNgramJaccard(spark, sf)),
    "dedup_containment" ->
      (() => operators.Dedup.dedupContainment(spark, sf)),
    "dedup_levenshtein" ->
      (() => operators.Dedup.dedupLevenshtein(spark, sf)),
    "text_rarity" ->
      (() => operators.Quality.textRarity(spark, sf)),
    // round-22: the unigram encode's distinct-word token attach and
    // the dedup-impact cluster attach ride the same gate. r12: the
    // registered query reads the LayoutCache-materialized doc-token
    // parquet, so the gated attach join lives in the cache-WRITE plan —
    // assert on that plan directly.
    "unigram_doc_tokens_plan" ->
      (() => operators.Corpus.unigramDocTokensPlan(spark, sf)),
    "dedup_token_impact" ->
      (() => operators.Extensions.dedupTokenImpact(spark, sf)))

  private def bhj(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collect {
      case b: BroadcastHashJoinExec => b
    }.size

  private def shuffleJoins(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collect {
      case s: SortMergeJoinExec => s
      case s: ShuffledHashJoinExec => s
    }.size

  test("gate open: the hint alone plans attach joins as BroadcastHashJoin") {
    // autoBroadcastJoinThreshold=-1 removes the planner's own
    // size-based choice, so every BroadcastHashJoin below is evidence
    // the gated hint fired
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      gated.foreach { case (name, build) =>
        assert(bhj(build()) >= 1,
          s"$name: gated hint produced no BroadcastHashJoin")
      }
    }
  }

  test("gate closed: attach joins fall back to shuffle joins") {
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.graft.attachBroadcastMaxBytes" -> "0") {
      gated.foreach { case (name, build) =>
        val df = build()
        assert(bhj(df) == 0,
          s"$name: broadcast hint survived a closed gate (driver OOM " +
            "shape at 100 TB)")
        assert(shuffleJoins(df) >= 1,
          s"$name: expected shuffle attach joins under a closed gate")
      }
    }
  }

  test("maybeBroadcast hints iff the size estimate clears the gate") {
    // a tiny NON-dimension table: the session's BroadcastDimTables rule
    // hints region/nation scans on its own, which would mask this gate
    val tiny = Tables(spark, sf, "supplier")
    assert(Tables.maybeBroadcast(tiny).queryExecution.analyzed
      .isInstanceOf[ResolvedHint], "tiny table not hinted")
    withConf("spark.graft.attachBroadcastMaxBytes" -> "0") {
      assert(!Tables.maybeBroadcast(tiny).queryExecution.analyzed
        .isInstanceOf[ResolvedHint], "hint applied past the gate")
    }
  }
}
