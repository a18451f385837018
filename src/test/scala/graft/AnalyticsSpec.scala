package graft

import org.apache.spark.sql.functions._
import graft.operators.{Analytics, Graph}

/** Contract tests for the analytics extensions (SURVEY.md §2
  * #131-135): link prediction on pencil-and-paper graphs, and
  * invariant sweeps for readability / diversity / Gini / interval
  * merge on the sf0.001 tables.
  */
class AnalyticsSpec extends GraftSpec {

  test("link prediction: path graph P4 scores its two open wedges") {
    val sp = spark
    import sp.implicits._
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("pa", "pb")
    val rows = Graph.linkPredictionFrom(und).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) ->
        (r.getAs[Long]("common_neighbors"),
          r.getAs[Double]("resource_alloc"),
          r.getAs[Double]("jaccard"))).toMap
    assert(rows.keySet == Set((1L, 3L), (2L, 4L)))
    // (1,3) share node 2 (deg 2): RA = 1/2; jaccard = 1/(1+2-1) = 0.5
    assert(rows((1L, 3L)) == ((1L, 0.5, 0.5)))
    assert(rows((2L, 4L)) == ((1L, 0.5, 0.5)))
  }

  test("link prediction: star leaves pair through the center") {
    val sp = spark
    import sp.implicits._
    val und = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("pa", "pb")
    val rows = Graph.linkPredictionFrom(und).collect()
    assert(rows.length == 3) // the three leaf pairs
    rows.foreach { r =>
      assert(r.getAs[Long]("common_neighbors") == 1L)
      // center degree 3: RA = 1/3 → 0.3333 under r4
      assert(r.getAs[Double]("resource_alloc") == 0.3333)
      // leaf neighbor sets are both {center}: jaccard 1
      assert(r.getAs[Double]("jaccard") == 1.0)
    }
  }

  test("link prediction: K4 has no non-adjacent pairs") {
    val sp = spark
    import sp.implicits._
    val und = (for { a <- 1 to 4; b <- 1 to 4 if a < b }
      yield (a.toLong, b.toLong)).toDF("pa", "pb")
    assert(Graph.linkPredictionFrom(und).count() == 0L)
  }

  test("readability: per-row formula matches a driver-side recompute") {
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val out = Analytics.textReadability(spark, sf).collect()
    assert(out.length == docs.size)
    out.take(25).foreach { r =>
      val text = docs(r.getAs[Long]("doc_id"))
      val words = math.max(text.split(" ", -1).length, 1)
      val sentences = math.max("[.!?]".r.findAllIn(text).length, 1)
      val syllables =
        "[aeiouy]+".r.findAllIn(text.toLowerCase).length
      assert(r.getAs[Int]("n_words") == words)
      assert(r.getAs[Int]("n_sentences") == sentences)
      assert(r.getAs[Int]("n_syllables") == syllables)
      val fk = 0.39 * (words.toDouble / sentences) +
        11.8 * (syllables.toDouble / words) - 15.59
      assert(math.abs(r.getAs[Double]("fk_grade") - fk) < 5e-5)
    }
  }

  test("diversity: Simpson in [0,1), effective types in [1, n_types]") {
    val rows = Analytics.eventsDiversity(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val simpson = r.getAs[Double]("simpson")
      val eff = r.getAs[Double]("effective_types")
      val nTypes = r.getAs[Long]("n_types")
      assert(simpson >= 0.0 && simpson < 1.0)
      assert(eff >= 1.0 - 5e-5 && eff <= nTypes + 5e-5)
    }
    // single-type users must score exactly 0 (all mass on one type)
    rows.filter(_.getAs[Long]("n_types") == 1L).foreach { r =>
      assert(r.getAs[Double]("simpson") == 0.0)
      assert(r.getAs[Double]("effective_types") == 1.0)
    }
  }

  test("gini: one row, bounded in [0,1), zero for equal masses") {
    val sp = spark
    import sp.implicits._
    val r = Analytics.ordersGini(spark, sf).collect()
    assert(r.length == 1)
    val g = r.head.getAs[Double]("gini")
    assert(g >= 0.0 && g < 1.0)
  }

  test("split: every doc in exactly one split, ratios near 80/10/10") {
    val docs = Tables(spark, sf, "documents").count()
    val rows = operators.Corpus.splitTrainVal(spark, sf).collect()
    val bySplit = rows.groupBy(_.getAs[String]("split"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    assert(bySplit.values.sum == docs) // partition: no doc lost or doubled
    val train = bySplit.getOrElse("train", 0L).toDouble / docs
    val valr = bySplit.getOrElse("val", 0L).toDouble / docs
    assert(math.abs(train - 0.8) < 0.06, s"train ratio $train")
    assert(math.abs(valr - 0.1) < 0.04, s"val ratio $valr")
  }

  test("domain drift: chi2 non-negative, one row per source") {
    val nSources = Tables(spark, sf, "documents")
      .select("source").distinct().count()
    val rows = operators.Corpus.corpusDomainDrift(spark, sf).collect()
    assert(rows.length == nSources)
    rows.foreach(r => assert(r.getAs[Double]("chi2") >= 0.0))
  }

  test("bpe pairs: 2-char pairs in descending corpus-weighted order") {
    val rows = operators.Corpus.textBpePairs(spark, sf).collect()
    assert(rows.length == 20)
    assert(rows.forall(_.getAs[String]("pair").length == 2))
    val counts = rows.map(_.getAs[Long]("n_occurrences"))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
  }

  test("dispersion: coherence bounded, centroid norm in [0,1]") {
    val rows = operators.Similarity.embedDispersion(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_vectors")
      val mpc = r.getAs[Double]("mean_pairwise_cos")
      val cn = r.getAs[Double]("centroid_norm")
      // mean pairwise cosine of ANY unit set lives in [-1/(n-1), 1]
      assert(mpc >= -1.0 / (n - 1) - 5e-5 && mpc <= 1.0 + 5e-5)
      assert(cn >= 0.0 && cn <= 1.0 + 5e-5)
    }
  }

  test("phash: every planted re-upload pairs with its original at 0") {
    val planted = Tables(spark, sf, "documents")
      .where(col("doc_id") % 7 === 0).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val pairs = operators.Multimodal.mmPhashDedup(spark, sf).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("hamming")))
    val found = pairs.collect {
      case (a, b, h) if b == a + 1000000000000L && h == 0L => a
    }.toSet
    assert(planted.subsetOf(found),
      s"missing re-uploads: ${(planted -- found).take(5)}")
  }

  test("cms: never undercounts, and is exact when w >> distinct keys") {
    val sp = spark
    import sp.implicits._
    val rows = operators.Analytics.textCmsFreq(spark, sf).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      assert(r.getAs[Long]("overcount") >= 0L) // CMS one-sided error
      assert(r.getAs[Long]("est") >= r.getAs[Long]("exact_count"))
    }
    // wide sketch, few keys: every estimate collapses to the truth
    val df = Seq.fill(50)("a").++(Seq.fill(30)("b")).++(Seq.fill(7)("c"))
      .toDF("k").repartition(8)
    val exactCms = df.agg(expr("cms_agg(k, 4096, 4)").as("cms"))
    val out = df.distinct().crossJoin(exactCms)
      .select(col("k"), expr("cms_est(cms, k, 4096, 4)").as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a" -> 50L, "b" -> 30L, "c" -> 7L))
  }

  test("trend: OLS sums match a driver-side recompute per priority") {
    val rows = operators.Analytics.ordersTrend(spark, sf).collect()
    val daily = Tables(spark, sf, "orders")
      .groupBy(col("o_orderpriority"),
        datediff(col("o_orderdate"), lit("1995-01-01")).as("x"))
      .agg(sum(col("o_totalprice")).as("y"))
      .collect()
      .groupBy(_.getString(0))
    rows.foreach { r =>
      val pts = daily(r.getString(0))
        .map(p => (p.getAs[Int]("x").toDouble, p.getAs[Double]("y")))
      val n = pts.length.toDouble
      val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      val sxx = pts.map(p => p._1 * p._1).sum
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      assert(r.getAs[Long]("n_days") == pts.length)
      assert(math.abs(r.getAs[Double]("slope") - slope) < 1e-3)
    }
  }

  test("interpolate: value lies between its brackets, time ordered") {
    val rows = operators.Analytics.tsInterpolate(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("prev_ts_us") <= r.getAs[Long]("next_ts_us"))
    }
  }

  test("changepoint: peak day carries the max |cusum| of its series") {
    val out = operators.Analytics.eventsChangepoint(spark, sf).collect()
    assert(out.nonEmpty)
    // recompute the integer statistic per type and compare the argmax
    val daily = Tables.eventsUs(spark, sf)
      .groupBy(col("event_type"),
        (col("ts_us") / lit(86400000000L)).cast("long").as("day"))
      .agg(count(lit(1)).as("c"))
      .collect()
      .groupBy(_.getString(0))
    out.foreach { r =>
      val series = daily(r.getString(0)).map(p =>
        (p.getAs[Long]("day"), p.getAs[Long]("c"))).sortBy(_._1)
      val n = series.length.toLong
      val total = series.map(_._2).sum
      var cum = 0L
      val sn = series.zipWithIndex.map { case ((day, c), i) =>
        cum += c; (day, math.abs(n * cum - (i + 1) * total))
      }
      val best = sn.maxBy(p => (p._2, -p._1))
      assert(r.getAs[Long]("n_days") == n)
      assert(r.getAs[Long]("cp_day") == best._1)
      assert(math.abs(r.getAs[Double]("cusum_peak") - best._2.toDouble / n)
        < 5e-5)
    }
  }

  test("attribution: conserves the touched purchase mass") {
    val out = operators.Analytics.eventsAttribution(spark, sf).collect()
    assert(out.nonEmpty)
    val attributed = out.map(_.getAs[Double]("attributed_value")).sum
    // total value of purchases that had >= 1 view in their window
    val ev = Tables.eventsUs(spark, sf)
    val p = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("p_id"),
        col("ts_us").as("pt"), col("value").as("pv"))
    val v = ev.where(col("event_type") === "view")
      .select(col("user_id").as("vu"), col("ts_us").as("vt"))
    val touched = p.join(v, col("pu") === col("vu") &&
        col("vt") <= col("pt") &&
        col("pt") - col("vt") <= lit(7L * 86400000000L), "left_semi")
      .agg(sum("pv")).collect().head.getDouble(0)
    // r4 rounding per view bounds the drift by 5e-5 per output row
    assert(math.abs(attributed - touched) < 5e-5 * (out.length + 1))
  }

  test("watermark: z matches an md5-parity recompute; organic text unflagged") {
    val out = operators.Analytics.textWatermark(spark, sf).collect()
    val texts = Tables(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def greenOf(t: String): (Int, Int) = {
      val toks = t.split(" ", -1)
      val md = java.security.MessageDigest.getInstance("MD5")
      val g = toks.count { tk =>
        md.reset()
        val hex = md.digest(tk.getBytes("UTF-8"))
          .take(1).map("%02x".format(_)).mkString
        Integer.parseInt(hex, 16) % 2 == 0
      }
      (toks.length, g)
    }
    out.take(25).foreach { r =>
      val (n, g) = greenOf(texts(r.getAs[Long]("doc_id")))
      assert(r.getAs[Int]("n_tokens") == n)
      assert(r.getAs[Int]("n_green") == g)
      val z = (2.0 * g - n) / math.sqrt(n.toDouble)
      assert(math.abs(r.getAs[Double]("z_green") - z) < 5e-5)
    }
    // the synthetic corpus is not watermarked: essentially nothing
    // should cross the 4-sigma flag
    assert(out.count(_.getAs[Boolean]("flagged")) <= out.length / 100)
  }

  test("embedding outliers: every emission exceeds the z threshold") {
    val out = operators.Similarity.embedOutliers(spark, sf).collect()
    val corpus = Tables(spark, sf, "embeddings").count()
    out.foreach { r =>
      assert(r.getAs[Double]("z") > 2.0 - 5e-5)
      assert(r.getAs[Double]("dist2") >= 0.0)
    }
    // z > 2 on ~gaussian distances: a small tail, never the bulk
    assert(out.length < corpus / 4)
  }

  test("incremental dedup: every planted re-ingest matches history") {
    val out = operators.Corpus.dedupIncremental(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("n_history_copies")).toMap
    val planted = Tables(spark, sf, "documents")
      .where(col("source") =!= "src1" && col("doc_id") % 5 === 0)
      .select("doc_id").collect().map(_.getLong(0) + 2000000L).toSet
    assert(planted.nonEmpty)
    planted.foreach { id =>
      assert(out.getOrElse(id, 0L) >= 1L, s"re-ingest $id not matched")
    }
  }

  test("intervals: merged coverage bounded by count x length") {
    val rows = Analytics.intervalsMerge(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_intervals")
      val segs = r.getAs[Long]("n_segments")
      val days = r.getAs[Long]("covered_days")
      assert(segs >= 1L && segs <= n)
      // every segment covers >= one interval length; union <= sum
      assert(days >= 30L * segs || segs == 0L)
      assert(days <= 30L * n)
    }
  }
}
