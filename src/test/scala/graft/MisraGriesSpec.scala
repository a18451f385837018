package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contract tests for the Misra-Gries sketch aggregate (`mg_topk`) on
  * crafted SKEWED data where the item domain exceeds k — forcing the
  * decrement (update) and pivot-shrink (merge) paths the near-uniform
  * test corpus never triggers.
  */
class MisraGriesSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  /** 'a'×100, 'b'×80, 60 singletons — N=240, k=4: true heavy hitters
    * (freq > N/4 = 60) are exactly {a, b}.
    */
  private def skewed() = {
    val sp = spark
    import sp.implicits._
    val items = Seq.fill(100)("a") ++ Seq.fill(80)("b") ++
      (0 until 60).map(i => s"c$i")
    // shuffle deterministically so the heavy items aren't contiguous,
    // and spread over 8 partitions so merge() combines real partials
    items.sortBy(s => s.hashCode ^ items.indexOf(s))
      .toDF("tok").repartition(8)
  }

  test("MG guarantee: every item with freq > N/k is in the candidates") {
    val df = skewed()
    val cands = df.agg(expr("mg_topk(tok, 4)")).head.getSeq[String](0).toSet
    assert(cands.size <= 4, s"sketch kept ${cands.size} > k items")
    assert(cands.contains("a") && cands.contains("b"),
      s"guaranteed heavy hitters missing from $cands")
  }

  test("candidate exact-verify equals the brute-force heavy-hitter set") {
    val df = skewed()
    val k = 4
    val cand = df.agg(expr(s"mg_topk(tok, $k)").as("c"))
      .select(explode(col("c")).as("cand"))
    val total = df.count()
    val verified = df.join(broadcast(cand), col("tok") === col("cand"),
        "left_semi")
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .where(col("n") * k > total)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val brute = df.groupBy("tok").agg(count(lit(1)).as("n"))
      .where(col("n") * k > total)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(verified == brute)
    assert(brute == Map("a" -> 100L, "b" -> 80L))
  }

  test("levenshtein LSH candidates cover the brute-force pair set") {
    // recall check for dedup_levenshtein's candidate generation at the
    // spec scale: the LSH-blocked output must equal global brute force
    val sp = spark
    import sp.implicits._
    val lsh = operators.Dedup.dedupLevenshtein(sp, TestSpark.sf)
      .select("id_a", "id_b").collect().map(_.toSeq).toSet
    val docs = Tables(sp, TestSpark.sf, "documents")
      .select("doc_id", "text")
    // the a side spread over the cores: the non-equi join runs one
    // task per a partition, and the scan is a single row group
    val a = docs.select(col("doc_id").as("id_a"), col("text").as("t_a"))
      .repartition(sp.sparkContext.defaultParallelism)
    val b = docs.select(col("doc_id").as("id_b"), col("text").as("t_b"))
    val brute = a.join(b, col("id_a") < col("id_b"))
      // the bounded levenshtein stops once the distance passes
      // floor(0.20005 * maxlen) and then returns -1; every pair the
      // exact predicate below keeps lies within that bound
      .where(expr("levenshtein(t_a, t_b, cast(floor(0.20005 * " +
        "greatest(length(t_a), length(t_b))) as int)) >= 0"))
      .where(expr("1.0 - levenshtein(t_a, t_b) / " +
        "cast(greatest(length(t_a), length(t_b)) as double) >= 0.79995"))
      .select("id_a", "id_b").collect().map(_.toSeq).toSet
    assert(lsh == brute)
    assert(brute.nonEmpty)
  }

  test("uniform data yields no false guarantees after verify") {
    val sp = spark
    import sp.implicits._
    // 40 items × 6 each: nobody exceeds N/k for k=4 (60 < 240... N/k=60,
    // max freq 6) — the sketch may hold arbitrary survivors, the exact
    // filter must drop them all
    val df = (0 until 40).flatMap(i => Seq.fill(6)(s"u$i")).toDF("tok")
      .repartition(4)
    val k = 4
    val cand = df.agg(expr(s"mg_topk(tok, $k)").as("c"))
      .select(explode(col("c")).as("cand"))
    val total = df.count()
    val out = df.join(broadcast(cand), col("tok") === col("cand"),
        "left_semi")
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .where(col("n") * k > total)
      .count()
    assert(out == 0L)
  }
}
