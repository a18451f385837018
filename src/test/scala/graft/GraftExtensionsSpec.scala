package graft

import org.apache.spark.sql.SparkSession

/** The extensions-config path a cluster deploy uses: a FRESH session
  * built with spark.sql.extensions=graft.GraftExtensions resolves every
  * graft function in plain SQL and carries graft's catalyst rules.
  */
class GraftExtensionsSpec extends GraftSpec {

  /** Every name `GraftExtensions` binds — the whole function table. */
  private val tableNames = Seq(
    "simhash64", "simhash_md5", "simhash_from_hashes", "minhash_sig",
    "minhash_sig_from_hashes", "ngram_hashes", "ngram_md5_hashes",
    "hash_array", "intersect_count", "cosine_f32", "rhp_bucket",
    "md5_rhp_bucket", "phash64", "kmv_distinct", "mg_topk", "bloom_agg",
    "bloom_any", "cms_agg", "cms_est", "hll_agg", "hll_regs",
    "qdigest_quantile", "bottomk_sample")

  /** A FRESH session over the shared context: `spark.sql.extensions` is
    * static config read from the SparkContext, so the extended variant
    * uses the builder's programmatic withExtensions (the same class a
    * cluster names in --conf) and the bare one uses neither. The shared
    * TestSpark session is restored afterwards for the other suites.
    */
  private def withFreshSession[A](extended: Boolean)(
      f: SparkSession => A): A = {
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val b = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
    val s2 = (if (extended) b.withExtensions(new GraftExtensions()(_))
      else b).getOrCreate()
    try f(s2)
    finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("the table binds every graft function name on a fresh session " +
      "and on the sessions derived from it") {
    withFreshSession(extended = true) { s2 =>
      Seq(s2, s2.newSession()).foreach { s =>
        val missing = tableNames.filterNot(n =>
          s.sessionState.functionRegistry.functionExists(
            org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
        assert(missing.isEmpty, s"unbound: ${missing.mkString(", ")}")
      }
    }
  }

  test("qdigest_quantile keeps the checked builder: integral q, arity") {
    withFreshSession(extended = true) { s2 =>
      val max = s2.sql(
        """SELECT qdigest_quantile(v, 1) AS p100 FROM
          |  (SELECT explode(sequence(1L, 10L)) AS v)""".stripMargin).head
      assert(max.getAs[Long]("p100") == 10L) // exact below 16
      val e = intercept[Exception](s2.sql(
        """SELECT qdigest_quantile(v) FROM
          |  (SELECT explode(sequence(1L, 10L)) AS v)""".stripMargin)
        .collect())
      assert(e.getMessage.contains("takes 2 arguments"), e.getMessage)
    }
  }

  test("spark.sql.extensions injects all graft functions") {
    withFreshSession(extended = true) { s2 =>
      val row = s2.sql(
        """SELECT
          |  simhash64(array('a b', 'b c')) AS sh,
          |  cosine_f32(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS cos,
          |  intersect_count(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS ic,
          |  size(ngram_hashes(array('a', 'b', 'c'), 2)) AS ng
          |""".stripMargin).head
      assert(row.getAs[Double]("cos") == 1.0)
      assert(row.getAs[Long]("ic") == 2L)
      assert(row.getAs[Int]("ng") == 2)
      // round-6 injections: phash + the bloom/CMS sketch pairs compose
      // in pure SQL through the same extensions hook
      val sk = s2.sql(
        """WITH d AS (SELECT array(1L, 2L, 3L) AS hs, 'a' AS k
          |  UNION ALL SELECT array(4L, 5L) AS hs, 'a' AS k)
          |SELECT
          |  bloom_any(bloom_agg(hs, 256, 2), array(3L), 256, 2) AS hit,
          |  bloom_any(bloom_agg(hs, 256, 2), array(99L), 256, 2)
          |    AS probably_not,
          |  cms_est(cms_agg(k, 64, 4), 'a', 64, 4) AS cnt,
          |  phash64('abcdefgh') <=> phash64('abcdefgh') AS stable
          |FROM d""".stripMargin).head
      assert(sk.getAs[Boolean]("hit"))
      assert(sk.getAs[Long]("cnt") == 2L)
      assert(sk.getAs[Boolean]("stable"))
      val kmv = s2.sql(
        """SELECT kmv_distinct(hs, 64) AS est FROM
          |  (SELECT array(1L, 2L, 3L) AS hs UNION ALL
          |   SELECT array(3L, 4L) AS hs)""".stripMargin).head
      assert(kmv.getAs[Double]("est") == 4.0) // < k => exact count
      val mg = s2.sql(
        """SELECT mg_topk(t, 2) AS cands FROM
          |  (SELECT explode(array('a','a','a','b','c','a','b')) AS t)"""
          .stripMargin).head.getSeq[String](0)
      assert(mg.contains("a")) // freq 4 > N/k = 3.5 => guaranteed
      // round-14 injection: the quantile digest reads through pure SQL
      val qd = s2.sql(
        """SELECT qdigest_quantile(v, 0.5) AS p50 FROM
          |  (SELECT explode(sequence(1L, 10L)) AS v)""".stripMargin).head
      assert(qd.getAs[Long]("p50") == 5L) // exact below 16
      // dim-table auto-broadcast: with size-based broadcast disabled, a
      // plain customer x nation join must STILL plan a BroadcastHashJoin
      // because the injected rule recognizes the dim signature
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Tables(s2, sf, "customer")
        .join(Tables(s2, sf, "nation"),
          org.apache.spark.sql.functions.col("c_nationkey") ===
            org.apache.spark.sql.functions.col("n_nationkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"dim auto-broadcast missing:\n$plan")
      // the size gate: with the cap below nation's file size, the
      // column-name signature alone must NOT force the broadcast (a
      // terabyte denormalized extract carrying dim key names stays on
      // the normal planner path)
      s2.conf.set("spark.graft.dimBroadcastMaxBytes", "1")
      try {
        val gatedPlan = Tables(s2, sf, "customer")
          .join(Tables(s2, sf, "nation"),
            org.apache.spark.sql.functions.col("c_nationkey") ===
              org.apache.spark.sql.functions.col("n_nationkey"))
          .queryExecution.executedPlan.toString
        assert(!gatedPlan.contains("BroadcastHashJoin"),
          s"size gate ignored:\n$gatedPlan")
      } finally {
        s2.conf.set("spark.graft.dimBroadcastMaxBytes",
          (256L * 1024 * 1024).toString)
      }
    }
    // and a bare session over the same context must NOT broadcast under
    // the same threshold (proves the rule, not statistics, did it)
    withFreshSession(extended = false) { bare =>
      bare.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plainPlan = Tables(bare, sf, "customer")
        .join(Tables(bare, sf, "nation"),
          org.apache.spark.sql.functions.col("c_nationkey") ===
            org.apache.spark.sql.functions.col("n_nationkey"))
        .queryExecution.executedPlan.toString
      assert(!plainPlan.contains("BroadcastHashJoin"))
    }
  }

  test("approxCountDistinct flag rewrites COUNT(DISTINCT) to the KMV sketch") {
    withFreshSession(extended = true) { s2 =>
      val q = "SELECT source, COUNT(DISTINCT lang) AS n FROM documents GROUP BY source"
      Tables(s2, sf, "documents").createOrReplaceTempView("documents")
      // flag off: untouched exact plan, no sketch
      val exactPlan = s2.sql(q).queryExecution.optimizedPlan.toString
      assert(!exactPlan.contains("kmv"), s"rewrite fired while off:\n$exactPlan")
      val exact = s2.sql(q).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap

      s2.conf.set("spark.graft.approxCountDistinct", "true")
      val rewritten = s2.sql(q)
      val optPlan = rewritten.queryExecution.optimizedPlan.toString
      assert(optPlan.contains("kmv"), s"rewrite missing:\n$optPlan")
      // distinct langs per source << k: the sketch is in its exact
      // regime, so the rewritten query returns the EXACT counts (and
      // the schema keeps the bigint column the exact plan had)
      val approx = rewritten.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(approx == exact)

      // multi-column distinct is left alone even with the flag on
      val multi = s2.sql(
        "SELECT COUNT(DISTINCT source, lang) AS n FROM documents")
      assert(!multi.queryExecution.optimizedPlan.toString.contains("kmv"))
    }
  }
}
