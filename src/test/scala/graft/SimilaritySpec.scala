package graft

import org.apache.spark.sql.functions._

/** Semantic properties of the similarity-search ops that the hash
  * oracle can't express — bucket-coresidence of every emitted edge and
  * ranking integrity of the k-NN graph (#71).
  */
class SimilaritySpec extends GraftSpec {

  test("ann_knn_graph: edges are bucket-coresident, ranked, symmetricable") {
    val g = operators.Similarity.annKnnGraph(spark, sf)
    val edges = g.collect()
    assert(edges.nonEmpty, "knn graph is empty at test scale")
    // ranking integrity: per vec, ranks are 1..n with non-increasing
    // cosine (ties broken by nbr_id, so strictly sorted tuples)
    edges.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val ordered = rows.sortBy(_.getLong(1))
      assert(ordered.map(_.getLong(1)).toSeq ==
        (1L to ordered.length).toSeq)
      val cosines = ordered.map(_.getDouble(3)).toSeq
      assert(cosines == cosines.sorted.reverse)
      assert(ordered.length <= 3)
    }
    // every edge joins two vectors in the SAME 6-bit rhp bucket
    val buckets = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), expr("md5_rhp_bucket(embedding, 6)").as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    edges.foreach { r =>
      assert(buckets(r.getLong(0)) == buckets(r.getLong(2)),
        s"edge crosses buckets: $r")
    }
    // and within a bucket, the top-1 neighbor really is the max-cosine
    // bucket-mate: cross-check one vector against brute force
    val someVec = edges.head.getLong(0)
    val mates = buckets.filter(_._2 == buckets(someVec)).keySet - someVec
    val bf = operators.Similarity.annBruteforceFrom(
      Tables(spark, sf, "embeddings"),
      Tables(spark, sf, "embeddings").where(col("vec_id") === someVec)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
      k = buckets.size)
      .where(col("c_id").isin(mates.toSeq: _*))
      .orderBy("rank") // rank was computed on RAW cosine — no 4dp ties
      .head
    val top1 = edges.filter(r => r.getLong(0) == someVec &&
      r.getLong(1) == 1L).head
    assert(top1.getLong(2) == bf.getLong(2))
  }

  test("multi-probe widens the candidate pool: top-1 never worse than LSH") {
    val lsh = operators.Similarity.annLsh(spark, sf).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getDouble(3)).max }
    val mp = operators.Similarity.annMultiprobe(spark, sf).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getDouble(3)).max }
    assert(mp.nonEmpty)
    // every query the single-bucket path answers is also answered, at
    // least as well, by the probe set (superset of candidates)
    lsh.foreach { case (q, best) =>
      assert(mp.contains(q), s"query $q lost by multiprobe")
      assert(mp(q) >= best - 1e-9, s"query $q top-1 degraded")
    }
  }

  test("ann_sq8: quantized cosine tracks exact cosine, ranks contiguous") {
    val rows = operators.Similarity.annSq8(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.sortBy(_.getLong(1)).map(_.getLong(1)).toSeq ==
        (1L to rs.length).toSeq)
    }
    // SQ8 against the per-dim corpus range keeps the cosine error far
    // below the spread of this corpus's similarities
    rows.foreach { r =>
      val (q, e) = (r.getDouble(3), r.getDouble(4))
      assert(math.abs(q - e) < 0.05, s"quantization error too large: $r")
      assert(e <= 1.0001 && e >= -1.0001)
    }
  }

  test("ann_ivf_incremental: a planted drifted wave fires the " +
      "recluster trigger exactly where planted; the clean cell stays " +
      "quiet") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.col
    // two clean cells along e1/e2; wave ids are ≡3 (mod 4) so the
    // operator's split picks them up. Cell 0's arrivals are native
    // and near its centroid; cell 1's arrivals are mislabeled 0 but
    // LOCATED at cell 1 — a fresh rebuild would place them under
    // label 0, so they count as moved and must trip the trigger.
    def v(id: Long, label: Long, e: Seq[Float]) = (id, label, e)
    val init = (0 until 8).flatMap { i =>
      Seq(v(4L * i, 0L, Seq(1f, 0.01f * i, 0f, 0f)),
        v(4L * i + 1, 1L, Seq(0.01f * i, 1f, 0f, 0f)))
    }
    val clean = (0 until 4).map(i =>
      v(4L * i + 3, 0L, Seq(1f, 0f, 0.02f * i, 0f)))
    val drifted = (0 until 4).map(i =>
      v(4L * i + 19, 0L, Seq(0f, 1f, 0f, 0.02f * i)))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_inc").toString
    (init ++ clean ++ drifted).toDF("vec_id", "label", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = operators.Similarity.annIvfIncremental(spark, dir)
      .collect().map(r => r.getAs[Long]("label") -> r).toMap
    assert(out.keySet == Set(0L, 1L))
    assert(out(0L).getAs[Long]("n_initial") == 8 &&
      out(0L).getAs[Long]("n_new") == 4 &&
      out(0L).getAs[Long]("n_moved") == 0 &&
      !out(0L).getAs[Boolean]("recluster"),
      s"clean cell misreported: ${out(0L)}")
    assert(out(1L).getAs[Long]("n_initial") == 8 &&
      out(1L).getAs[Long]("n_new") == 4 &&
      out(1L).getAs[Long]("n_moved") == 4 &&
      out(1L).getAs[Boolean]("recluster"),
      s"drifted cell misreported: ${out(1L)}")
    // both cells absorbed arrivals, so both centroids move — but the
    // drifted cell must move at least as much as the clean one
    assert(out(1L).getAs[Double]("centroid_shift") >=
      out(0L).getAs[Double]("centroid_shift"))
  }

  test("incremental IVF recall drift vs a fresh rebuild, measured " +
      "against brute-force truth") {
    import org.apache.spark.sql.functions.col
    val v = Tables.spread(spark, sf, "embeddings")
      .select("vec_id", "label", "embedding")
    val q = operators.Similarity.evalQueries(spark, sf)
    val truth = operators.Similarity.annBruteforceFrom(v, q, k = 3)
      .select("q_id", "c_id")
    val nTruth = truth.count()
    assert(nTruth > 0)
    val initial = v.where(col("vec_id") % 4 =!= 3)
    val wave = v.where(col("vec_id") % 4 === 3)
    val assigned = operators.Similarity.ivfAssign(initial, wave)
    val incCorpus = initial.unionByName(assigned
      .select(col("vec_id"), col("cell").as("label"), col("embedding")))
    def recall(index: org.apache.spark.sql.DataFrame): Double =
      truth.join(operators.Similarity.annIvfFrom(index, q, k = 3,
          nprobe = 2).select("q_id", "c_id"),
        Seq("q_id", "c_id"), "left_semi").count().toDouble / nTruth
    val rFresh = recall(v)
    val rInc = recall(incCorpus)
    // the measurement exists and is sane; at this corpus the argmin
    // re-assignment tightens cells (same-direction members), so the
    // incremental index must stay within 0.5 absolute of the rebuild
    assert(rFresh >= 0.0 && rFresh <= 1.0 && rInc >= 0.0 && rInc <= 1.0)
    assert(math.abs(rFresh - rInc) <= 0.5,
      s"recall drifted implausibly: fresh=$rFresh incremental=$rInc")
  }

  test("ann_ivf_recluster: the warm Lloyd step RESETTLES the planted " +
      "mislabeled wave (the mass #333 flags as moved actually moves), " +
      "flow accounting balances, and the step is near-converged") {
    val sp = spark
    import sp.implicits._
    // initial state holds two BORDER members in cell 0 by their given
    // label (init labels are declared, not argmin'd — exactly how a
    // stale index holds stale placements); the e1-pure wave drags
    // cell 0's updated centroid away from the border, so the warm
    // reassign step must move the two border members into cell 1 —
    // genuine resettlement, not a no-op pass
    def v(id: Long, label: Long, e: Seq[Float]) = (id, label, e)
    val init = (0 until 6).flatMap { i =>
      Seq(v(4L * i, 0L, Seq(1f, 0.01f * i, 0f, 0f)),
        v(4L * i + 1, 1L, Seq(0.01f * i, 1f, 0f, 0f)))
    } ++ Seq(
      v(24L, 1L, Seq(0.01f, 1f, 0f, 0f)),
      v(25L, 1L, Seq(0.02f, 1f, 0f, 0f)),
      v(28L, 0L, Seq(0.45f, 0.55f, 0f, 0f)), // the border pair
      v(29L, 0L, Seq(0.45f, 0.56f, 0f, 0f)))
    val wave = (0 until 8).map(i =>
      v(4L * i + 3, 0L, Seq(1f, 0.02f, 0f, 0f)))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_rec").toString
    (init ++ wave).toDF("vec_id", "label", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = operators.Similarity.annIvfRecluster(spark, dir)
      .collect().map(r => r.getAs[Long]("cell") -> r).toMap
    assert(out.keySet == Set(0L, 1L))
    // the two border members genuinely resettle 0 -> 1
    assert(out(0L).getAs[Long]("n_out") == 2L, out(0L).toString)
    assert(out(1L).getAs[Long]("n_in") == 2L, out(1L).toString)
    // global flow balance: Σ n_in == Σ n_out, membership conserved
    val totIn = out.values.map(_.getAs[Long]("n_in")).sum
    val totOut = out.values.map(_.getAs[Long]("n_out")).sum
    assert(totIn == totOut)
    assert(out.values.map(_.getAs[Long]("n_before")).sum ==
      out.values.map(_.getAs[Long]("n_after")).sum)
    out.values.foreach { r =>
      assert(r.getAs[Long]("n_after") ==
        r.getAs[Long]("n_before") + r.getAs[Long]("n_in") -
          r.getAs[Long]("n_out"), r.toString)
      // warm-start convergence: one step from the updated centroids
      // must land near its own fixpoint
      assert(r.getAs[Double]("recenter_shift") < 0.5, r.toString)
    }
  }

  test("sample_coreset: the greedy farthest-point trajectory matches a " +
      "plain-Scala recompute exactly; the radius curve is non-increasing " +
      "and the final coverage radius is bounded by the last pick") {
    import org.apache.spark.sql.functions._
    val pts = Tables(spark, sf, "embeddings")
      .where(col("embedding").isNotNull)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val k = 8
    val byId = pts.toMap
    var selected = Vector(pts.map(_._1).min)
    var dmin: Map[Long, Double] = pts.map { case (id, e) =>
      id -> (1.0 - cos(e, byId(selected.head)))
    }.toMap
    val expect = scala.collection.mutable.ArrayBuffer[
      (Long, Long, Option[Double])]((1L, selected.head, None))
    for (i <- 2 to k) {
      val cand = dmin.view.filterKeys(id => !selected.contains(id)).toSeq
      val (nid, nd) = cand.maxBy { case (id, d) => (d, -id) }
      expect += ((i.toLong, nid, Some(nd)))
      selected = selected :+ nid
      dmin = dmin.map { case (id, d) =>
        id -> math.min(d, 1.0 - cos(byId(id), byId(nid)))
      }
    }
    val radius = dmin.view
      .filterKeys(id => !selected.contains(id)).values.max
    def p4d(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val out = operators.Similarity.sampleCoreset(spark, sf).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).sortBy(_._1)
    assert(out.length == k + 1)
    expect.zip(out.take(k)).foreach { case ((o, id, d), (oo, oid, od)) =>
      assert(o == oo && id == oid, s"pick $o diverged: $id vs $oid")
      assert(d.map(p4d) == od, s"pick $o distance diverged")
    }
    assert(out.last._1 == 99L && out.last._2 == -1L)
    assert(out.last._3 == Some(p4d(radius)))
    // radius curve: non-increasing over picks 2..k, and coverage
    // radius bounded by the last pick's distance
    val ds = out.slice(1, k).flatMap(_._3)
    ds.toSeq.sliding(2).foreach { w => if (w.length == 2) assert(w(1) <= w(0)) }
    assert(out.last._3.get <= ds.last)
  }

  test("embed_jl_project: recall readout is exact integers over the " +
      "brute-force truth, every query reports k truths, and the " +
      "16-d projection preserves nonzero neighbor structure") {
    val out = operators.Similarity.embedJlProject(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val t = r.getAs[Long]("n_truth"); val h = r.getAs[Long]("n_hit")
      assert(t == 3L)
      assert(h >= 0L && h <= t)
      assert(math.abs(r.getAs[Double]("recall") - h.toDouble / t) < 1e-4)
    }
    val hits = out.map(_.getAs[Long]("n_hit")).sum
    assert(hits > 0L,
      "JL projection preserved no neighbor structure - signs suspect")
  }
}
