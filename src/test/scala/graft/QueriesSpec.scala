package graft

/** Behavioral smoke for every registered operator: runs at sf0.001,
  * returns rows (verified: even the pair-finding queries are non-empty
  * at this scale), and is stable across two runs (determinism — the
  * driver hash-compares, so any nondeterminism is a correctness bug).
  */
class QueriesSpec extends GraftSpec {

  test("every oracle key has a matching query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("per-module query and oracle key sets are pairwise disjoint") {
    // a key in two modules would let the later one silently replace
    // the earlier one's plan and oracle in the concatenated maps
    def shared(keySets: Seq[Set[String]]): Set[String] =
      keySets.flatten.groupBy(identity).collect {
        case (k, hits) if hits.size > 1 => k }.toSet
    val modules = SparkEntry.modules
    assert(shared(modules.map(_._1.keySet)).isEmpty)
    assert(shared(modules.map(_._2.keySet)).isEmpty)
    assert(modules.map(_._1.size).sum == SparkEntry.queries.size)
    // a query cannot move between modules without its oracle
    modules.foreach { case (q, o) => assert(q.keySet == o.keySet) }
  }

  test("entry smoke query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1))
    test(s"$name runs, is deterministic, and returns rows") {
      val rows1 = fn(spark, sf).collect().toSeq
      assert(rows1.nonEmpty, s"$name returned 0 rows")
      val rows2 = fn(spark, sf).collect().toSeq
      assert(rows1 == rows2, s"$name is nondeterministic across runs")
    }
}
