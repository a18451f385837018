package graft

import org.apache.spark.sql.Row

/** Direct algebraic contracts of the native Catalyst expressions in
  * `functions/Hashes.scala` — properties the query-level oracle can
  * only witness indirectly: the MinHash union-min law, sortedness
  * contracts feeding `intersect_count`, reference-implementation
  * cosine, md5-parity hyperplane signs, and null propagation.
  */
class FunctionsSpec extends GraftSpec {

  private def sql1(q: String): Row = spark.sql(q).head

  test("intersect_count matches Set intersection on sorted arrays") {
    val a = Seq(1L, 5L, 9L, 12L, 40L, 77L)
    val b = Seq(2L, 5L, 12L, 39L, 77L, 100L, 101L)
    val expected = a.toSet.intersect(b.toSet).size
    val r = sql1(s"SELECT intersect_count(array(${a.mkString("L,")}L), " +
      s"array(${b.mkString("L,")}L)) AS ic")
    assert(r.getAs[Long]("ic") == expected.toLong)
    // empty and disjoint cases
    assert(sql1("SELECT intersect_count(array(1L,2L), array(3L,4L)) AS ic")
      .getAs[Long]("ic") == 0L)
  }

  test("minhash signature obeys the union-min law") {
    // sig(A ++ B) == elementwise min(sig(A), sig(B)) — the algebraic
    // property LSH banding relies on (map-side partial combinability)
    val r = sql1(
      """SELECT
        |  minhash_sig_from_hashes(array(11L, 22L, 33L), 16) AS sa,
        |  minhash_sig_from_hashes(array(44L, 55L), 16) AS sb,
        |  minhash_sig_from_hashes(array(11L, 22L, 33L, 44L, 55L), 16) AS sab
        |""".stripMargin)
    val sa = r.getSeq[Long](0)
    val sb = r.getSeq[Long](1)
    val sab = r.getSeq[Long](2)
    assert(sa.size == 16 && sb.size == 16 && sab.size == 16)
    assert(sab == sa.zip(sb).map { case (x, y) => math.min(x, y) })
  }

  test("ngram hash outputs are sorted ascending (intersect_count contract)") {
    val r = sql1(
      """SELECT
        |  ngram_hashes(array('d', 'a', 'c', 'b', 'a'), 2) AS nh,
        |  ngram_md5_hashes(array('d', 'a', 'c', 'b', 'a'), 2) AS nmh
        |""".stripMargin)
    val nh = r.getSeq[Long](0)
    val nmh = r.getSeq[Long](1)
    assert(nh == nh.sorted && nh.nonEmpty)
    assert(nmh == nmh.sorted && nmh.nonEmpty)
    // distinct: the repeated bigram collapses
    assert(nh.distinct == nh)
    assert(nmh.distinct == nmh)
  }

  test("cosine_f32 matches a double-precision reference computation") {
    val va = Seq(0.5f, -1.25f, 3.0f, 0.0f)
    val vb = Seq(1.0f, 0.75f, -0.5f, 2.0f)
    val dot = va.zip(vb).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val expected = dot /
      (math.sqrt(va.map(x => x.toDouble * x.toDouble).sum) *
        math.sqrt(vb.map(x => x.toDouble * x.toDouble).sum))
    val r = sql1(s"SELECT cosine_f32(array(${va.mkString("F,")}F), " +
      s"array(${vb.mkString("F,")}F)) AS c")
    assert(math.abs(r.getAs[Double]("c") - expected) < 1e-12)
    // identical vectors: 1.0 up to one IEEE rounding of dot/(|v||v|)
    assert(math.abs(sql1(
      "SELECT cosine_f32(array(1.0F,2.0F), array(1.0F,2.0F)) AS c")
      .getAs[Double]("c") - 1.0) < 1e-12)
  }

  test("md5_rhp_bucket reproduces the documented md5-parity plane signs") {
    // reimplement the contract from first principles: component d of
    // plane j is +1 iff the first md5 hex digit of "j:d" is odd
    val vec = Seq(0.3f, -1.1f, 2.4f, 0.9f, -0.2f, 1.5f, -3.0f, 0.1f)
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(j: Int, d: Int): Double = {
      val hex = md.digest(s"$j:$d".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if ((Integer.parseInt(hex.substring(0, 1), 16) & 1) == 1) 1.0 else -1.0
    }
    val bits = 4
    val expected = (0 until bits).map { j =>
      val s = vec.zipWithIndex.map { case (x, d) => sign(j, d) * x }.sum
      if (s > 0) 1L << j else 0L
    }.sum
    val r = sql1(s"SELECT md5_rhp_bucket(array(${vec.mkString("F,")}F), " +
      s"$bits) AS b")
    assert(r.getAs[Long]("b") == expected)
    assert(r.getAs[Long]("b") >= 0 && r.getAs[Long]("b") < (1L << bits))
  }

  test("null inputs propagate as null, not as crashes") {
    val r = spark.sql(
      """SELECT
        |  cosine_f32(CAST(NULL AS ARRAY<FLOAT>), array(1.0F)) AS c,
        |  simhash64(CAST(NULL AS ARRAY<STRING>)) AS s,
        |  intersect_count(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS ic,
        |  minhash_sig_from_hashes(CAST(NULL AS ARRAY<BIGINT>), 8) AS mh
        |""".stripMargin).head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3))
  }

  test("kmv estimate is within 15% at 20x the sketch size") {
    // 5120 distinct hashed values vs k=256: estimator regime, ±1/sqrt(k)
    // ≈ 6.25% expected; 15% is a 2.4-sigma bound
    val est = spark.sql(
      """SELECT kmv_distinct(array(xxhash64(id)), 256) AS est
        |FROM range(0, 5120)""".stripMargin)
      .head.getAs[Double]("est")
    assert(math.abs(est - 5120.0) / 5120.0 < 0.15, s"estimate $est")
  }
}
