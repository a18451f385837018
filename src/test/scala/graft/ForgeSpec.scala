package graft

import graft.operators.{Analytics, Layout, Quality}

/** Invariants of the footer-measured layouts (#324-#350) and of the
  * profiling and sampling operators (#326, #327, #342).
  */
class ForgeSpec extends GraftSpec {

  test("layout_zorder_footer: z-order skips on BOTH dimensions where " +
      "the single-key layout only skips on its sort key — measured " +
      "from REAL footers") {
    val rows = Layout.layoutZorderFooter(spark, sf).collect()
      .map(r => (r.getAs[String]("layout"), r.getAs[String]("probe")) ->
        r.getAs[Double]("skip_frac")).toMap
    assert(rows.size == 6)
    // the date-clustered layout answers day probes nearly for free...
    assert(rows(("date_clustered", "day_1995-03")) >= 0.9)
    // ...but the customer probe reads nearly everything (tiny files
    // can miss a bucket by luck; at real file sizes this is 0.0)
    assert(rows(("date_clustered", "cust_bucket_7")) <= 0.2)
    // z-order trades a little day selectivity for genuine skipping on
    // BOTH dimensions — the multi-predicate clustering argument
    assert(rows(("zorder", "day_1995-03")) >= 0.5)
    assert(rows(("zorder", "cust_bucket_7")) >= 0.5)
    assert(rows(("zorder", "combined")) >= 0.9)
    assert(rows(("zorder", "cust_bucket_7")) >
      rows(("date_clustered", "cust_bucket_7")) + 0.3)
  }

  private def p4(x: Double): Double = math.floor(x * 10000.0 + 0.5) / 10000.0

  test("quality_profile: every per-column metric matches a direct " +
      "recomputation, including the KMV estimate from reference " +
      "hashes — EXACT below k, ~1/sqrt(k) above") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sf, "documents").collect()
    def hash64u(s: String): BigInt = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      BigInt(1, d.take(8)) // unsigned 64-bit
    }
    def kmvEst(values: Seq[String]): Double = {
      val hs = values.map(hash64u).distinct.sorted
      if (hs.length < 256) hs.length.toDouble
      else 255.0 / (hs(255).toDouble / 1.8446744073709552E19)
    }
    val out = Quality.qualityProfile(spark, sf).collect()
      .map(r => r.getAs[String]("col_name") -> r).toMap
    assert(out.keySet ==
      Set("doc_id", "lang", "source", "n_chars", "text"))
    def strOf(v: Any): String = v.toString
    Seq("doc_id", "lang", "source", "n_chars").foreach { c =>
      val vals = docs.map(_.getAs[Any](c)).filter(_ != null)
      val r = out(c)
      assert(r.getAs[Long]("n_rows") == docs.length.toLong)
      assert(r.getAs[Long]("n_nulls") == (docs.length - vals.length).toLong)
      assert(r.getAs[Double]("completeness") ==
        p4(vals.length.toDouble / docs.length))
      assert(r.getAs[Double]("approx_distinct") ==
        p4(kmvEst(vals.map(strOf))), s"col $c kmv")
      // estimate quality: exact below k, ~1/sqrt(k) above
      val exact = vals.map(strOf).distinct.size.toDouble
      if (exact < 256)
        assert(r.getAs[Double]("approx_distinct") == exact,
          s"col $c must be EXACT below k")
      else
        assert(math.abs(r.getAs[Double]("approx_distinct") - exact) <=
          0.25 * exact, s"col $c est quality")
      val ord = vals.map(strOf)
      c match {
        case "doc_id" | "n_chars" =>
          val nums = vals.map(_.asInstanceOf[Long])
          assert(r.getAs[String]("min_repr") == nums.min.toString)
          assert(r.getAs[String]("max_repr") == nums.max.toString)
        case _ =>
          assert(r.getAs[String]("min_repr") == ord.min)
          assert(r.getAs[String]("max_repr") == ord.max)
      }
    }
    val texts = docs.map(_.getAs[String]("text")).filter(_ != null)
    val rt = out("text")
    assert(rt.getAs[String]("min_repr") ==
      texts.map(_.length).min.toString)
    assert(rt.getAs[String]("max_repr") ==
      texts.map(_.length).max.toString)
  }

  test("quality_constraints: the suite evaluates in one pass, verdicts " +
      "match a direct recomputation, and BOTH outcomes occur (the " +
      "min-length floor fails on this corpus)") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sf, "documents").collect()
    val out = Quality.qualityConstraints(spark, sf).collect()
      .map(r => r.getAs[String]("check_name") -> r).toMap
    assert(out.size == 7)
    val n = docs.length.toLong
    val ids = docs.map(_.getAs[Any]("doc_id")).filter(_ != null)
    assert(out("completeness_doc_id").getAs[Boolean]("passed") ==
      (ids.length.toLong == n))
    assert(out("uniqueness_doc_id").getAs[Boolean]("passed") ==
      (ids.distinct.length == ids.length))
    val langs = docs.map(_.getAs[String]("lang")).filter(_ != null)
    assert(out("containment_lang").getAs[Boolean]("passed") ==
      langs.forall(Set("en", "de", "fr", "es", "zh")))
    val cons = docs.count { r =>
      val t = r.getAs[String]("text")
      t != null && !r.isNullAt(r.fieldIndex("n_chars")) &&
        r.getAs[Long]("n_chars") == t.length.toLong
    }
    val both = docs.count { r =>
      r.getAs[String]("text") != null &&
        !r.isNullAt(r.fieldIndex("n_chars"))
    }
    assert(out("consistency_n_chars").getAs[Boolean]("passed") ==
      (cons == both))
    val minNc = docs.map(_.getAs[Long]("n_chars")).min
    assert(out("min_length_floor").getAs[Double]("metric") ==
      minNc.toDouble)
    assert(!out("min_length_floor").getAs[Boolean]("passed"),
      "the floor check should FAIL on this corpus")
    assert(out("max_length_cap").getAs[Boolean]("passed"))
    assert(out.values.count(_.getAs[Boolean]("passed")) == 6)
  }

  test("hilbertSteps IS a Hilbert curve: the shared SQL text evaluates " +
      "to a bijection over 0..4095 with unit-step grid adjacency") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val grid = (0 until 64).flatMap(x => (0 until 64).map(y =>
      (x.toLong, y.toLong))).toDF("db", "cb")
    val (steps, dFinal) = Layout.hilbertSteps("db", "cb")
    val cells = steps.foldLeft(grid) { case (df, (c, e)) =>
        df.withColumn(c, expr(e)) }
      .select(col("db"), col("cb"), col(dFinal).cast("long").as("hd"))
      .collect()
      .map(r => r.getLong(2) -> (r.getLong(0), r.getLong(1))).toMap
    assert(cells.keySet == (0L until 4096L).toSet, "bijection")
    (0L until 4095L).foreach { d =>
      val (x1, y1) = cells(d); val (x2, y2) = cells(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"consecutive d=$d,$d+1 not grid-adjacent")
    }
  }

  test("layout_pruned_scan executor: the footer-pruned read is " +
      "row-IDENTICAL to the full scan on BOTH layouts, and genuinely " +
      "reads fewer files") {
    import org.apache.spark.sql.functions._
    // wider day band than the operator's probe: sf0.001 has ~1500
    // orders and the 31-day band × 1/64 bucket is empty there — the
    // identity must be checked on a NON-vacuous match set
    val (dLo, dHi, cV) = (9000L, 9400L, 7L)
    val o = Layout.ordersZFrame(spark, sf)
    def prunedEqualsFull(write: org.apache.spark.sql.DataFrame => String)
        : (Long, Long) = {
      val tmp = write(o)
      val stats = Layout.footerTwoDimStats(spark, tmp, "t").collect()
      val survivors = stats.filter { r =>
        r.getAs[Long]("max_day") >= dLo &&
          r.getAs[Long]("min_day") <= dHi &&
          r.getAs[Long]("max_cb") >= cV && r.getAs[Long]("min_cb") <= cV
      }.map(_.getAs[String]("path"))
      val residual = (df: org.apache.spark.sql.DataFrame) => df
        .where(col("day").between(dLo, dHi) && col("cb") === cV)
        .select("o_orderkey", "day", "cb")
      val full = residual(spark.read.parquet(tmp)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val pruned = residual(spark.read.option("basePath", tmp)
        .parquet(survivors.toSeq: _*)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(pruned == full,
        "footer pruning changed the visible rows — stats untruthful " +
          "or prune predicate wrong")
      assert(full.nonEmpty, "probe matched nothing — vacuous identity")
      org.apache.spark.sql.functions.lit(1) // keep imports used
      deleteTempLayout(tmp)
      (survivors.length.toLong, stats.length.toLong)
    }
    def clustered(name: String, part: String, key: String)(
        df: org.apache.spark.sql.DataFrame): String = {
      val t = java.nio.file.Files.createTempDirectory(name).toString
      Layout.writeClustered(df, t, part, key, 512L)
      t
    }
    val (zRead, zTotal) =
      prunedEqualsFull(clustered("graft_prune_z", "zb", "z"))
    val (dRead, dTotal) =
      prunedEqualsFull(clustered("graft_prune_d", "month", "day"))
    // the executor must actually skip — on the z-order layout the
    // combined probe reads a small fraction of the files
    assert(zRead < zTotal && zRead.toDouble / zTotal <= 0.5,
      s"z-order pruned read $zRead/$zTotal files — no real skipping")
    assert(dRead <= dTotal)
  }

  test("layout_rowgroup_scan: multi-row-group files roll, row groups " +
      "are genuinely skipped INSIDE kept files, and the selective " +
      "row-group read is row-identical to the full scan") {
    import org.apache.spark.sql.functions._
    val tmp = Layout.writeRowGroupDateLayout(spark, sf)
    try {
      val rg = ParquetFiles.readFooterRowGroupStats(spark, tmp, "day")
        .collect()
      val perFile = rg.groupBy(_.getAs[String]("path"))
      // the 4 KiB block size genuinely rolls many row groups per file
      assert(perFile.values.exists(_.length >= 3),
        "no multi-row-group file — parquet.block.size not honored")
      val (dLo, dHi) = (9190L, 9196L)
      val surviving = rg.filter(r => r.getAs[Long]("max_v") >= dLo &&
        r.getAs[Long]("min_v") <= dHi)
      assert(surviving.nonEmpty, "probe week empty at this sf")
      // the point of the leg: a KEPT file still skips most of its own
      // row groups (file-level pruning alone would decode all of them)
      val survByFile = surviving.groupBy(_.getAs[String]("path"))
      assert(survByFile.exists { case (p, s) =>
        s.length < perFile(p).length },
        "no sub-file skipping — every kept file fully decoded")
      val decoded = surviving.map(_.getAs[Long]("n_rows")).sum
      val total = rg.map(_.getAs[Long]("n_rows")).sum
      assert(decoded < total,
        s"decoded $decoded of $total rows — nothing skipped")
      // identity: selective read + residual filter == full scan + filter
      val survivors = survByFile.map { case (p, rows) =>
        (p, rows.map(_.getAs[Int]("rg_idx")).sorted.toSeq) }.toSeq
      val got = Layout.readSelectedRowGroups(spark, survivors)
        .where(col("day").between(dLo, dHi))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val full = spark.read.parquet(tmp)
        .where(col("day").between(dLo, dHi))
        .select(col("o_orderkey").cast("long"), col("day"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == full && got.nonEmpty,
        "row-group-pruned read diverged from the full scan")
    } finally ()  // cache-owned layout: LayoutCache deletes on JVM exit
  }

  test("layout_overlap_depth: every metric equals the rank-cut " +
      "closed-form sweep recomputed in Scala off raw orders — real " +
      "footers == simulation THROUGH the depth algebra — and the " +
      "layouts rank as the clustering story predicts") {
    import org.apache.spark.sql.functions._
    val orders = Tables(spark, sf, "orders")
      .select(col("o_orderkey"),
        datediff(col("o_orderdate"), lit("1970-01-01")).cast("long"),
        (col("o_custkey") % 64).cast("long"),
        date_format(col("o_orderdate"), "yyyy-MM"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    def z(day: Long, cb: Long): Long = {
      val db = math.min(63L, math.max(0L, (day - 8000L) * 64L / 2000L))
      (0 until 6).map { i =>
        ((db >> i) & 1L) * (1L << (2 * i + 1)) +
          ((cb >> i) & 1L) * (1L << (2 * i))
      }.sum
    }
    // files of a layout: group by directory, total-sort, cut at 512
    def files(group: ((Long, Long, Long, String)) => String,
        ord: ((Long, Long, Long, String)) => (Long, Long))
        : Seq[(Long, Long, Long, Long)] =
      orders.groupBy(group).toSeq.flatMap { case (_, g) =>
        g.sortBy(ord).grouped(512).map { f =>
          (f.map(_._2).min, f.map(_._2).max,
            f.map(_._3).min, f.map(_._3).max)
        }
      }
    val layouts = Map(
      "date_clustered" -> files(_._4, r => (r._2, r._1)),
      "zorder" -> files(r => (z(r._2, r._3) / 64L).toString,
        r => (z(r._2, r._3), r._1)))
    def sweep(iv: Seq[(Long, Long)]): (Long, Long, Long, Double) = {
      val ev = iv.flatMap { case (lo, hi) => Seq(lo -> 1L, (hi + 1L) -> -1L) }
        .groupBy(_._1).map { case (p, g) => p -> g.map(_._2).sum }
        .toSeq.sortBy(_._1)
      var depth = 0L; var dl = 0L; var len = 0L; var maxD = 0L
      ev.zip(ev.tail).foreach { case ((p, d), (np, _)) =>
        depth += d
        if (depth > 0) {
          dl += depth * (np - p); len += np - p
          maxD = math.max(maxD, depth)
        }
      }
      (iv.size.toLong, len, maxD, p4(dl.toDouble / len.toDouble))
    }
    val expected = layouts.flatMap { case (l, fs) =>
      Seq((l, "day") -> sweep(fs.map(f => (f._1, f._2))),
        (l, "cb") -> sweep(fs.map(f => (f._3, f._4))))
    }
    val out = Layout.layoutOverlapDepth(spark, sf).collect()
    assert(out.length == 4)
    out.foreach { r =>
      val k = (r.getAs[String]("layout"), r.getAs[String]("dim"))
      val (nf, len, maxD, avg) = expected(k)
      assert(r.getAs[Long]("n_files") == nf, k)
      assert(r.getAs[Long]("domain_len") == len, k)
      assert(r.getAs[Long]("max_depth") == maxD, k)
      assert(r.getAs[Double]("avg_depth") == avg, k)
    }
    val avg = out.map(r => (r.getAs[String]("layout"),
      r.getAs[String]("dim")) -> r.getAs[Double]("avg_depth")).toMap
    // date clusters day (low depth) and ignores cb (files stack to
    // near n_files deep); z-order holds BOTH at intermediate depth
    assert(avg(("date_clustered", "day")) < avg(("zorder", "day")))
    assert(avg(("zorder", "cb")) < avg(("date_clustered", "cb")))
  }

  test("sample_pps: the bottom-k-by-xi sample, its exact membership " +
      "sum, and the PPS count estimate all match a plain-Scala " +
      "recompute; big-value rows are genuinely oversampled") {
    import org.apache.spark.sql.functions._
    val events = Tables.eventsUs(spark, sf)
      .select(col("event_id"), col("event_type"),
        expr("cast(floor(value * 100.0 + 0.5) as bigint)"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .filter(_._3 > 0L)
    def u(id: Long): Double = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0
    }
    val out = Analytics.samplePps(spark, sf).collect()
    val byType = events.groupBy(_._2)
    assert(out.length == byType.size)
    out.foreach { r =>
      val t = r.getAs[String]("event_type")
      val g = byType(t)
      val n = g.length.toLong
      val w = g.map(_._3).sum
      val sample = g.sortBy(e => (u(e._1) / e._3.toDouble, e._1)).take(50)
      assert(r.getAs[Long]("n") == n, t)
      assert(r.getAs[Long]("w_total_cents") == w, t)
      assert(r.getAs[Long]("k_taken") == math.min(50, g.length).toLong, t)
      assert(r.getAs[Long]("sample_w_cents") == sample.map(_._3).sum, t)
      val raw = sample.map { e =>
        BigDecimal(w.toDouble / (50.0 * e._3.toDouble))
          .setScale(8, BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble
      assert(r.getAs[Double]("n_est") == p4(raw), t)
      assert(r.getAs[Double]("err_rel") ==
        p4(math.abs(raw - n.toDouble) / n.toDouble), t)
      // PPS inclusion ∝ value: the sample's mean value must exceed
      // the universe's (that is what "proportional to size" buys)
      val meanS = sample.map(_._3).sum.toDouble / sample.length
      val meanU = w.toDouble / n
      assert(meanS > meanU, s"$t: PPS sample not value-skewed")
    }
  }

  test("layout_compact_files: per-month accounting matches the " +
      "ceil(n/cap) closed form off REAL footers, rows survive, and " +
      "files genuinely collapse") {
    import org.apache.spark.sql.functions._
    val monthCounts = Tables(spark, sf, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("m"))
      .count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val out = Layout.layoutCompactFiles(spark, sf).collect()
    assert(out.length == monthCounts.size)
    out.foreach { r =>
      val m = r.getAs[String]("month")
      val n = monthCounts(m)
      assert(r.getAs[Long]("n_rows") == n, m)
      assert(r.getAs[Boolean]("rows_preserved"), m)
      assert(r.getAs[Long]("files_before") == (n + 511) / 512, m)
      assert(r.getAs[Long]("files_after") == (n + 4095) / 4096, m)
      assert(r.getAs[Long]("max_file_rows_after") <= 4096L, m)
      assert(r.getAs[Long]("files_after") <=
        r.getAs[Long]("files_before"), m)
    }
    // at sf >= 0.001 some month has > 512 rows... or not — either way
    // the TOTAL must collapse when any month rolled multiple files
    val before = out.map(_.getAs[Long]("files_before")).sum
    val after = out.map(_.getAs[Long]("files_after")).sum
    assert(after <= before)
    if (monthCounts.values.exists(_ > 512L)) assert(after < before)
  }

  test("layout_bloom_scan: real blooms on every row group, no false " +
      "negatives against the actual file contents, bloom reads fewer " +
      "files than zone maps, and the pruned lookup matches the direct " +
      "filter") {
    import org.apache.spark.sql.functions._
    val keys = Layout.bloomProbeKeys(spark, sf)
    assert(keys.length == 3)
    val tmp = Layout.writeBloomDateLayout(spark, sf)
    val audit = ParquetFiles
      .readFooterBloomAudit(spark, tmp, "o_custkey", keys).collect()
    assert(audit.nonEmpty)
    assert(audit.forall(_.getAs[Boolean]("has_bloom")),
      "writer bloom option did not propagate - no blooms in footers")
    // no false negatives: every (file, key) that truly contains the
    // key must be bloom-admitted (the contract pruning correctness
    // rests on)
    // input_file_name renders file:///, the footer reader file:/ —
    // normalize to a plain path before set-comparing
    def norm(p: String): String = p.replaceFirst("^file:/+", "/")
    val truth = spark.read.parquet(tmp)
      .where(col("o_custkey").isin(keys: _*))
      .select(input_file_name().as("path"), col("o_custkey"))
      .distinct().collect()
      .map(r => (norm(r.getString(0)), r.getLong(1))).toSet
    val admitted = audit.filter(_.getAs[Boolean]("bloom_hit"))
      .map(r => (norm(r.getAs[String]("path")), r.getAs[Long]("k"))).toSet
    truth.foreach { case (p, k) =>
      assert(admitted.contains((p, k)), s"bloom FALSE NEGATIVE: $k in $p")
    }
    // the point of the operator: on the unclustered column zone maps
    // admit most (file, key) pairs while blooms admit a fraction
    val zmRead = audit.count(_.getAs[Boolean]("zm_hit")).toLong
    val bloomRead = audit.count(_.getAs[Boolean]("bloom_hit")).toLong
    assert(zmRead >= audit.length / 2,
      s"zone maps unexpectedly selective ($zmRead/${audit.length}) - " +
        "probe keys no longer exercise the bloom argument")
    assert(bloomRead * 2 < zmRead,
      s"blooms read $bloomRead vs zone maps $zmRead - no real win")
    val out = Layout.layoutBloomScan(spark, sf).collect()
    assert(out.length == 3)
    val direct = Tables(spark, sf, "orders")
      .where(col("o_custkey").isin(keys: _*))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), sum("o_orderkey").as("s"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    out.foreach { r =>
      val k = r.getAs[Long]("probe_custkey")
      assert(r.getAs[Long]("n_orders") == direct(k)._1)
      assert(r.getAs[Long]("sum_orderkey") == direct(k)._2)
      assert(r.getAs[Long]("zm_files_read") <=
        r.getAs[Long]("files_total"))
    }
    // tmp is LayoutCache-owned (bloom512): deleted at JVM exit, not here
  }

  test("layout_schema_evolution: epoch-1 footers physically LACK the " +
      "late column, the merged read carries it as null exactly there, " +
      "and row counts are conserved") {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val tmp = Layout.writeSchemaEvolutionLayout(spark, sf)
    def physicalFields(sub: String): Set[String] = {
      val hconf = spark.sparkContext.hadoopConfiguration
      val root = new org.apache.hadoop.fs.Path(s"$tmp/$sub")
      val fs = root.getFileSystem(hconf)
      val it = fs.listFiles(root, true)
      var f: org.apache.hadoop.fs.Path = null
      while (f == null && it.hasNext) {
        val p = it.next().getPath
        if (p.getName.endsWith(".parquet")) f = p
      }
      assert(f != null, s"no data file under $sub")
      ParquetFiles.withReader(f.toString, hconf)(
        _.getFooter.getFileMetaData.getSchema.getFields.asScala
          .map(_.getName).toSet)
    }
    assert(!physicalFields("epoch=1").contains("price_cents"),
      "epoch-1 files unexpectedly carry the late column - " +
        "the evolution scenario degenerated into a rewrite")
    assert(physicalFields("epoch=2").contains("price_cents"))
    val merged = spark.read.option("mergeSchema", "true").parquet(tmp)
    assert(merged.columns.contains("price_cents"))
    val total = Tables(spark, sf, "orders").count()
    assert(merged.count() == total, "merged read lost rows")
    assert(merged.where(col("epoch") === 1 &&
      col("price_cents").isNotNull).count() == 0,
      "old-generation rows fabricated a value for the late column")
    assert(merged.where(col("epoch") === 2 &&
      col("price_cents").isNull).count() == 0,
      "new-generation rows lost their column through the merge")
    // tmp is LayoutCache-owned (schemaevo): deleted at JVM exit, not here
  }
}
