package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Exprs.{r4, r4Sql, sumDec, sumDecSql}

/** Round-19 widening (SURVEY.md §2 #322+): the sample-emitting face
  * of the sketch family — bottom-k deterministic group samples
  * (`functions.SampleSketch`, the 7th mergeable sketch) with an
  * estimate-vs-exact eval, the per-group exemplar read every curation
  * UI and debugging session runs against a 100 TB table.
  */
object Forge {

  private val centsExpr = "cast(floor(value * 100.0 + 0.5) as bigint)"
  private val centsSql = "CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)"
  private val dec = org.apache.spark.sql.types.DecimalType(38, 0)

  // --------------------------------------------------------------- #322
  /** #322 mergeable bottom-k group samples + estimate-vs-exact eval:
    * every event type carries a k=32 deterministic uniform sample of
    * its purchase-value cents (rows with the 32 smallest md5 hashes of
    * their event id — the KMV lattice emitting SAMPLE ROWS instead of
    * a cardinality, `functions.SampleSketch`), evaluated against the
    * exact group mean. The sample is a pure set function of the data —
    * any partition layout, merge tree, or replay yields the identical
    * exemplar set (spec-pinned), which is what makes it usable as
    * merge-on-read state in the streamed twin.
    *
    * Exactness: sample membership is proven by the integer
    * sample_sum_cents (the oracle re-derives the same 32 rows by
    * `ROW_NUMBER() OVER (ORDER BY hash, id)`); means and the relative
    * error are r4'd IEEE over exact integers, with the zero-mean
    * denominator gated to null on both engines.
    *
    * Scale: ONE grouped aggregation; partial state is ≤ 24·k bytes per
    * group and combines map-side — only sketches cross the shuffle
    * (the reason a reservoir with random draws is the wrong tool: not
    * mergeable, not replayable, not oracle-checkable).
    */
  def sampleBottomk(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.eventsUs(spark, dir)
      .select(col("event_type"), col("event_id"),
        expr(centsExpr).as("c"))
      .withColumn("h", expr(
        "cast(conv(substring(md5(cast(event_id as string)), 1, 15), " +
          "16, 10) as long)"))
    e.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("c").cast(dec)).as("sc"),
        expr("bottomk_sample(h, event_id, c, 32)").as("sample"))
      .select(col("event_type"), col("n"),
        size(col("sample")).cast("long").as("sample_n"),
        expr("aggregate(sample, 0L, (a, x) -> a + x)")
          .as("sample_sum_cents"),
        col("sc"))
      .select(col("event_type"), col("n"), col("sample_n"),
        col("sample_sum_cents"),
        r4(col("sc").cast("double") / col("n") / 100.0)
          .as("exact_mean_dollars"),
        r4(col("sample_sum_cents").cast("double") / col("sample_n")
          / 100.0).as("sample_mean_dollars"),
        when(col("sc") =!= 0L,
          r4(abs(col("sample_sum_cents").cast("double") / col("sample_n")
            - col("sc").cast("double") / col("n"))
            / abs(col("sc").cast("double") / col("n")))).as("rel_err"))
      .orderBy("event_type")
  }

  val sampleBottomkSql: String =
    s"""WITH e AS (
       |  SELECT event_type, event_id, $centsSql AS c,
       |    ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
       |      ::UBIGINT AS h
       |  FROM events),
       |rk AS (
       |  SELECT event_type, c, ROW_NUMBER() OVER (
       |    PARTITION BY event_type ORDER BY h, event_id) AS rn
       |  FROM e WHERE c IS NOT NULL),
       |samp AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS sample_n,
       |    CAST(SUM(c) AS BIGINT) AS sample_sum_cents
       |  FROM rk WHERE rn <= 32 GROUP BY 1),
       |ex AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       |    SUM(c::HUGEINT) AS sc
       |  FROM e GROUP BY 1)
       |SELECT ex.event_type, ex.n, samp.sample_n, samp.sample_sum_cents,
       |  ${r4Sql("CAST(ex.sc AS DOUBLE) / ex.n / 100.0")}
       |    AS exact_mean_dollars,
       |  ${r4Sql("CAST(samp.sample_sum_cents AS DOUBLE) " +
                  "/ samp.sample_n / 100.0")} AS sample_mean_dollars,
       |  CASE WHEN ex.sc <> 0 THEN
       |    ${r4Sql("ABS(CAST(samp.sample_sum_cents AS DOUBLE) " +
                    "/ samp.sample_n - CAST(ex.sc AS DOUBLE) / ex.n) " +
                    "/ ABS(CAST(ex.sc AS DOUBLE) / ex.n)")} END AS rel_err
       |FROM ex JOIN samp ON ex.event_type = samp.event_type
       |ORDER BY ex.event_type""".stripMargin

  // --------------------------------------------------------------- #324
  /** Bit-interleave two 6-bit values (`a` into odd bit positions, `b`
    * into even) as a SQL expression string — the Morton/Z-value the
    * #108/#324 layouts cluster by. `shr` abstracts the engines' shift
    * syntax (Spark `shiftright(x, i)`, DuckDB `x >> i`).
    */
  private def zInterleave(a: String, b: String,
      shr: (String, Int) => String): String =
    (0 until 6).map { i =>
      s"((${shr(a, i)} & 1) * ${1L << (2 * i + 1)} + " +
        s"(${shr(b, i)} & 1) * ${1L << (2 * i)})"
    }.mkString("(", " + ", ")")

  /** #324 Z-ORDER skipping audit with REAL footers — the measured
    * argument for multi-dimension clustering (#108 computes z-values;
    * this PROVES what they buy): physically write the same orders
    * projection under TWO layouts — date-clustered (the #320 layout:
    * month directories, day-sorted) and Z-ORDERED (Morton-interleaved
    * 6-bit day-quantile × 6-bit customer-bucket, top-6-bits
    * directories, z-sorted) — then read the ACTUAL parquet footer
    * min/max of BOTH dimensions off every file and measure what a
    * day-range probe, a customer-bucket probe, and the combined probe
    * each skip. The date layout skips on day and reads ~everything
    * for the customer probe; z-order skips on BOTH (each file spans
    * ~1/64 of either dimension's range) — the reason warehouse
    * OPTIMIZE orders multi-predicate tables by z-value instead of a
    * single sort key, here with real bytes instead of a slide.
    *
    * Deterministic == oracle-checkable (the #320 argument, twice):
    * both writes hash-route one directory to one task, sort totally
    * within it, and roll files at exactly 512 records, so file f of a
    * directory holds sorted-rank rows [512f, 512f+511] and the DuckDB
    * oracle recomputes every file's per-dimension min/max from the
    * rank-cut closed form. Day quantization uses FIXED literal bounds
    * (not data-dependent min/max) so both engines derive identical
    * z-values.
    *
    * Scale: two partition-parallel writes (one shuffle each), footer
    * reads distributed and metadata-plane; the audit output is
    * 6 rows.
    */
  /** The shared layout projection: orders with day (epoch days), a
    * 64-bucket customer hash `cb`, the fixed-bound 6-bit day quantile
    * `db`, the Morton value `z` and its 64-directory bucket `zb` —
    * the frame #324/#331/#332 write under competing physical layouts.
    */
  private[graft] def ordersZFrame(spark: SparkSession, dir: String): DataFrame = {
    val shrSpark = (x: String, i: Int) => s"shiftright($x, $i)"
    Tables(spark, dir, "orders")
      .select(col("o_orderkey"),
        datediff(col("o_orderdate"), lit("1970-01-01")).cast("long")
          .as("day"),
        (col("o_custkey") % 64).cast("long").as("cb"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .withColumn("db", expr(
        "least(63L, greatest(0L, (day - 8000) * 64 div 2000))"))
      .withColumn("z", expr(zInterleave("db", "cb", shrSpark)))
      .withColumn("zb", expr("z div 64"))
  }

  /** The date-clustered 512-row-file layout of [[ordersZFrame]]
    * (month directories, (day, key)-sorted inside) — the #320/#324/
    * #340/#343 "streaming ingest" layout, written once per JVM via
    * [[graft.LayoutCache]] and shared by every consumer (the write is
    * deterministic, so reuse is invisible to results; the cache owns
    * deletion — see its leak-discipline note).
    */
  private[graft] def date512Layout(spark: SparkSession,
      dir: String): String =
    graft.LayoutCache.getOrWrite("date512", dir) { tmp =>
      ordersZFrame(spark, dir)
        .repartition(col("month"))
        .sortWithinPartitions("month", "day", "o_orderkey")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 512L)
        .partitionBy("month").parquet(tmp)
    }

  /** The Morton/z-ordered 512-row-file layout of [[ordersZFrame]] —
    * the #324/#331/#340 clustered layout, cache-shared like
    * [[date512Layout]].
    */
  private[graft] def z512Layout(spark: SparkSession,
      dir: String): String =
    graft.LayoutCache.getOrWrite("z512", dir) { tmp =>
      ordersZFrame(spark, dir)
        .repartition(col("zb"))
        .sortWithinPartitions("zb", "z", "o_orderkey")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 512L)
        .partitionBy("zb").parquet(tmp)
    }

  def layoutZorderFooter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmpD = date512Layout(spark, dir)
    val tmpZ = z512Layout(spark, dir)
    val stats = footerTwoDimStats(spark, tmpD, "date_clustered")
      .unionByName(footerTwoDimStats(spark, tmpZ, "zorder"))
    // probes: day range only, customer bucket only, combined.
    // Sentinel bounds make "no constraint" explicit per dimension.
    val probes = layoutProbes.toDF("probe", "d_lo", "d_hi", "c_lo", "c_hi")
    stats.crossJoin(broadcast(probes))
      .groupBy("layout", "probe")
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("max_day") >= col("d_lo") &&
          col("min_day") <= col("d_hi") &&
          col("max_cb") >= col("c_lo") &&
          col("min_cb") <= col("c_hi"), 1L).otherwise(0L)).as("n_read"))
      .select(col("layout"), col("probe"), col("n_files"), col("n_read"),
        r4(lit(1.0) - col("n_read").cast("double") / col("n_files"))
          .as("skip_frac"))
      .orderBy("layout", "probe")
  }

  val layoutZorderFooterSql: String = {
    val shrDuck = (x: String, i: Int) => s"($x >> $i)"
    s"""WITH o AS (
       |  SELECT o_orderkey,
       |    CAST(date_diff('day', DATE '1970-01-01', o_orderdate)
       |      AS BIGINT) AS day,
       |    CAST(o_custkey % 64 AS BIGINT) AS cb,
       |    strftime(o_orderdate, '%Y-%m') AS month
       |  FROM orders),
       |z AS (
       |  SELECT *,
       |    least(63, greatest(0, (day - 8000) * 64 // 2000)) AS db
       |  FROM o),
       |zz AS (
       |  SELECT *, ${zInterleave("db", "cb", shrDuck)} AS zv FROM z),
       |zb AS (SELECT *, zv // 64 AS zbk FROM zz),
       |rd AS (
       |  SELECT month, day, cb,
       |    CAST((ROW_NUMBER() OVER (PARTITION BY month
       |      ORDER BY day, o_orderkey) - 1) // 512 AS BIGINT) AS fid
       |  FROM zb),
       |rz AS (
       |  SELECT zbk, day, cb,
       |    CAST((ROW_NUMBER() OVER (PARTITION BY zbk
       |      ORDER BY zv, o_orderkey) - 1) // 512 AS BIGINT) AS fid
       |  FROM zb),
       |f AS (
       |  SELECT 'date_clustered' AS layout, month AS part, fid,
       |    MIN(day) AS min_day, MAX(day) AS max_day,
       |    MIN(cb) AS min_cb, MAX(cb) AS max_cb
       |  FROM rd GROUP BY 2, 3
       |  UNION ALL
       |  SELECT 'zorder', CAST(zbk AS VARCHAR), fid,
       |    MIN(day), MAX(day), MIN(cb), MAX(cb)
       |  FROM rz GROUP BY 2, 3),
       |p AS (SELECT * FROM (VALUES
       |  ('day_1995-03', 9190, 9220, 0, 63),
       |  ('cust_bucket_7', 0, 1000000, 7, 7),
       |  ('combined', 9190, 9220, 7, 7))
       |  AS t(probe, d_lo, d_hi, c_lo, c_hi))
       |SELECT layout, probe, CAST(COUNT(*) AS BIGINT) AS n_files,
       |  CAST(COUNT(*) FILTER (WHERE max_day >= d_lo AND min_day <= d_hi
       |    AND max_cb >= c_lo AND min_cb <= c_hi) AS BIGINT) AS n_read,
       |  ${r4Sql("1.0 - CAST(COUNT(*) FILTER (WHERE max_day >= d_lo " +
                  "AND min_day <= d_hi AND max_cb >= c_lo " +
                  "AND min_cb <= c_hi) AS DOUBLE) / COUNT(*)")}
       |    AS skip_frac
       |FROM f CROSS JOIN p
       |GROUP BY layout, probe ORDER BY layout, probe""".stripMargin
  }

  // --------------------------------------------------------------- #331
  /** Unrolled Hilbert xy2d (Wikipedia's iterative form, s-1
    * reflection variant) for the 64×64 (db, cb) grid: six
    * (quadrant, d, rotate/reflect) steps, each a (column, SQL text)
    * pair using only `&`, `*`, `+`, `-` and CASE — so the SAME text
    * runs verbatim on Spark (withColumn chain) and DuckDB (lateral
    * column aliases). The quadrant value (3·rx)⊕ry is enumerated as a
    * CASE instead of XOR (DuckDB's `^` is power; its xor() is a
    * function — CASE sidesteps the engine split). ForgeSpec proves
    * the curve property directly: bijection over 0..4095 and
    * unit-step grid adjacency of consecutive d.
    */
  private[graft] def hilbertSteps(xCol: String,
      yCol: String): (Seq[(String, String)], String) = {
    val steps = Seq.newBuilder[(String, String)]
    var x = xCol; var y = yCol; var d = "0"
    Seq(32, 16, 8, 4, 2, 1).zipWithIndex.foreach { case (s, i) =>
      val (q, nx, ny, nd) = (s"h_q$i", s"h_x$i", s"h_y$i", s"h_d$i")
      steps += q -> (s"CASE WHEN ($x & $s) = 0 AND ($y & $s) = 0 THEN 0 " +
        s"WHEN ($x & $s) = 0 THEN 1 WHEN ($y & $s) > 0 THEN 2 ELSE 3 END")
      steps += nd -> s"$d + ${s.toLong * s} * $q"
      steps += nx -> (s"CASE WHEN ($y & $s) = 0 THEN (CASE WHEN " +
        s"($x & $s) > 0 THEN $s - 1 - $y ELSE $y END) ELSE $x END")
      steps += ny -> (s"CASE WHEN ($y & $s) = 0 THEN (CASE WHEN " +
        s"($x & $s) > 0 THEN $s - 1 - $x ELSE $x END) ELSE $y END")
      x = nx; y = ny; d = nd
    }
    (steps.result(), d)
  }

  /** Pivot [[Apex.readFooterLongStats]]'s long-format (file, column)
    * rows to one row per file with both dimensions' min/max, tagged
    * with the layout under audit.
    */
  private[graft] def footerTwoDimStats(spark: SparkSession, path: String,
      layout: String): DataFrame =
    Apex.readFooterLongStats(spark, path, Seq("day", "cb"))
      .groupBy("path")
      .agg(min(when(col("stat_col") === "day", col("min_v")))
          .as("min_day"),
        max(when(col("stat_col") === "day", col("max_v")))
          .as("max_day"),
        min(when(col("stat_col") === "cb", col("min_v"))).as("min_cb"),
        max(when(col("stat_col") === "cb", col("max_v"))).as("max_cb"))
      .withColumn("layout", lit(layout))

  private val layoutProbes = Seq(
    ("day_1995-03", 9190L, 9220L, 0L, 63L),
    ("cust_bucket_7", 0L, 1000000L, 7L, 7L),
    ("combined", 9190L, 9220L, 7L, 7L))

  /** #331 Hilbert vs Morton, measured off REAL footers — the classic
    * warehouse follow-up to #324: at the SAME bit budget (6+6 bits,
    * 64 directories, 512-row files), the Hilbert curve's unit-step
    * continuity keeps each file's (day, cb) footprint tighter than
    * Morton's quadrant jumps, so range probes should skip at least as
    * many files. Both layouts are physically written (one shuffle
    * each, partition-parallel, in-task sorts), footers are read
    * distributed, and the same three #324 probes are scored — 6 rows.
    * Cross-check with #324's output ranks date vs z-order vs Hilbert.
    * The oracle recomputes both layouts' per-file min/max from the
    * rank-cut closed form (deterministic write == oracle-checkable).
    */
  def layoutHilbertFooter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fileRows = 512
    val (steps, dFinal) = hilbertSteps("db", "cb")
    val o = steps.foldLeft(ordersZFrame(spark, dir)) {
        case (df, (c, e)) => df.withColumn(c, expr(e))
      }
      .withColumn("hd", col(dFinal).cast("long"))
      .withColumn("hb", expr("hd div 64"))
      .select("o_orderkey", "day", "cb", "z", "zb", "hd", "hb")
    val tmpZ = graft.LayoutCache.getOrWrite("hilbz512", dir) { tmp =>
      o.repartition(col("zb"))
        .sortWithinPartitions("zb", "z", "o_orderkey")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", fileRows.toLong)
        .partitionBy("zb").parquet(tmp)
    }
    val tmpH = graft.LayoutCache.getOrWrite("hilbh512", dir) { tmp =>
      o.repartition(col("hb"))
        .sortWithinPartitions("hb", "hd", "o_orderkey")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", fileRows.toLong)
        .partitionBy("hb").parquet(tmp)
    }
    val stats = footerTwoDimStats(spark, tmpZ, "zorder")
      .unionByName(footerTwoDimStats(spark, tmpH, "hilbert"))
    val probes = layoutProbes.toDF("probe", "d_lo", "d_hi", "c_lo", "c_hi")
    stats.crossJoin(broadcast(probes))
      .groupBy("layout", "probe")
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("max_day") >= col("d_lo") &&
          col("min_day") <= col("d_hi") &&
          col("max_cb") >= col("c_lo") &&
          col("min_cb") <= col("c_hi"), 1L).otherwise(0L)).as("n_read"))
      .select(col("layout"), col("probe"), col("n_files"), col("n_read"),
        r4(lit(1.0) - col("n_read").cast("double") / col("n_files"))
          .as("skip_frac"))
      .orderBy("layout", "probe")
  }

  val layoutHilbertFooterSql: String = {
    val shrDuck = (x: String, i: Int) => s"($x >> $i)"
    val (steps, dFinal) = hilbertSteps("db", "cb")
    val lateral = steps.map { case (c, e) => s"$e AS $c" }
      .mkString(",\n    ")
    s"""WITH o AS (
       |  SELECT o_orderkey,
       |    CAST(date_diff('day', DATE '1970-01-01', o_orderdate)
       |      AS BIGINT) AS day,
       |    CAST(o_custkey % 64 AS BIGINT) AS cb
       |  FROM orders),
       |z AS (
       |  SELECT *,
       |    least(63, greatest(0, (day - 8000) * 64 // 2000)) AS db
       |  FROM o),
       |zz AS (
       |  SELECT *, ${zInterleave("db", "cb", shrDuck)} AS zv FROM z),
       |hh AS (
       |  SELECT *,
       |    $lateral
       |  FROM zz),
       |hb AS (SELECT *, zv // 64 AS zbk,
       |  CAST($dFinal AS BIGINT) AS hd,
       |  CAST($dFinal AS BIGINT) // 64 AS hbk FROM hh),
       |rz AS (
       |  SELECT zbk, day, cb,
       |    CAST((ROW_NUMBER() OVER (PARTITION BY zbk
       |      ORDER BY zv, o_orderkey) - 1) // 512 AS BIGINT) AS fid
       |  FROM hb),
       |rh AS (
       |  SELECT hbk, day, cb,
       |    CAST((ROW_NUMBER() OVER (PARTITION BY hbk
       |      ORDER BY hd, o_orderkey) - 1) // 512 AS BIGINT) AS fid
       |  FROM hb),
       |f AS (
       |  SELECT 'zorder' AS layout, zbk AS part, fid,
       |    MIN(day) AS min_day, MAX(day) AS max_day,
       |    MIN(cb) AS min_cb, MAX(cb) AS max_cb
       |  FROM rz GROUP BY 2, 3
       |  UNION ALL
       |  SELECT 'hilbert', hbk, fid,
       |    MIN(day), MAX(day), MIN(cb), MAX(cb)
       |  FROM rh GROUP BY 2, 3),
       |p AS (SELECT * FROM (VALUES
       |  ('day_1995-03', 9190, 9220, 0, 63),
       |  ('cust_bucket_7', 0, 1000000, 7, 7),
       |  ('combined', 9190, 9220, 7, 7))
       |  AS t(probe, d_lo, d_hi, c_lo, c_hi))
       |SELECT layout, probe, CAST(COUNT(*) AS BIGINT) AS n_files,
       |  CAST(COUNT(*) FILTER (WHERE max_day >= d_lo AND min_day <= d_hi
       |    AND max_cb >= c_lo AND min_cb <= c_hi) AS BIGINT) AS n_read,
       |  ${r4Sql("1.0 - CAST(COUNT(*) FILTER (WHERE max_day >= d_lo " +
                  "AND min_day <= d_hi AND max_cb >= c_lo " +
                  "AND min_cb <= c_hi) AS DOUBLE) / COUNT(*)")}
       |    AS skip_frac
       |FROM f CROSS JOIN p
       |GROUP BY layout, probe ORDER BY layout, probe""".stripMargin
  }

  // --------------------------------------------------------------- #332
  /** #332 the pruned-scan EXECUTOR: #320/#324 measure what footer
    * stats COULD skip; this operator actually skips — it consults the
    * REAL footers of a freshly written z-order layout, drops every
    * file whose [min,max] on either dimension excludes the combined
    * probe, physically reads ONLY the survivors (plus the row-level
    * residual filter — footer pruning is file-granular), and returns
    * the probe's aggregate WITH the file accounting. The DuckDB
    * oracle computes the same aggregate over the FULL table (pruning
    * must be invisible to results — that's the identity being
    * hash-checked) and the file counts from the rank-cut closed form.
    *
    * Scale: the survivor list is file-count-sized metadata (exactly
    * the file index every parquet scan builds; a production reader
    * gets it from table-format manifests instead of footers) — the
    * DATA plane touches only surviving files, which is the entire
    * point of the layout program: at 100 TB the combined probe reads
    * ~1.5% of the files instead of all of them.
    */
  def layoutPrunedScan(spark: SparkSession, dir: String): DataFrame = {
    val (dLo, dHi, cV) = (9190L, 9220L, 7L)
    val tmpZ = z512Layout(spark, dir)
    val stats = footerTwoDimStats(spark, tmpZ, "zorder").collect()
    val survivors = stats.filter { r =>
      r.getAs[Long]("max_day") >= dLo && r.getAs[Long]("min_day") <= dHi &&
        r.getAs[Long]("max_cb") >= cV && r.getAs[Long]("min_cb") <= cV
    }.map(_.getAs[String]("path"))
    val pruned =
      if (survivors.isEmpty) spark.read.parquet(tmpZ).where(lit(false))
      else spark.read.option("basePath", tmpZ).parquet(survivors.toSeq: _*)
    val out = pruned
      .where(col("day").between(dLo, dHi) && col("cb") === cV)
      .agg(count(lit(1)).as("n_rows"),
        sum("o_orderkey").cast("long").as("sum_orderkey"),
        min("day").as("min_day_read"), max("day").as("max_day_read"))
      .withColumn("files_total", lit(stats.length.toLong))
      .withColumn("files_read", lit(survivors.length.toLong))
      .select(col("files_total"), col("files_read"),
        r4(lit(1.0) - col("files_read").cast("double")
          / col("files_total")).as("skip_frac"),
        col("n_rows"), col("sum_orderkey"),
        col("min_day_read"), col("max_day_read"))
    out
  }

  val layoutPrunedScanSql: String = {
    val shrDuck = (x: String, i: Int) => s"($x >> $i)"
    s"""WITH o AS (
       |  SELECT o_orderkey,
       |    CAST(date_diff('day', DATE '1970-01-01', o_orderdate)
       |      AS BIGINT) AS day,
       |    CAST(o_custkey % 64 AS BIGINT) AS cb
       |  FROM orders),
       |z AS (
       |  SELECT *,
       |    least(63, greatest(0, (day - 8000) * 64 // 2000)) AS db
       |  FROM o),
       |zz AS (
       |  SELECT *, ${zInterleave("db", "cb", shrDuck)} AS zv FROM z),
       |zb AS (SELECT *, zv // 64 AS zbk FROM zz),
       |rz AS (
       |  SELECT zbk, day, cb,
       |    CAST((ROW_NUMBER() OVER (PARTITION BY zbk
       |      ORDER BY zv, o_orderkey) - 1) // 512 AS BIGINT) AS fid
       |  FROM zb),
       |f AS (
       |  SELECT zbk, fid,
       |    MIN(day) AS min_day, MAX(day) AS max_day,
       |    MIN(cb) AS min_cb, MAX(cb) AS max_cb
       |  FROM rz GROUP BY 1, 2),
       |acc AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS files_total,
       |    CAST(COUNT(*) FILTER (WHERE max_day >= 9190
       |      AND min_day <= 9220 AND max_cb >= 7 AND min_cb <= 7)
       |      AS BIGINT) AS files_read
       |  FROM f),
       |agg AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       |    CAST(SUM(o_orderkey) AS BIGINT) AS sum_orderkey,
       |    MIN(day) AS min_day_read, MAX(day) AS max_day_read
       |  FROM zb WHERE day BETWEEN 9190 AND 9220 AND cb = 7)
       |SELECT files_total, files_read,
       |  ${r4Sql("1.0 - CAST(files_read AS DOUBLE) / files_total")}
       |    AS skip_frac,
       |  n_rows, sum_orderkey, min_day_read, max_day_read
       |FROM acc CROSS JOIN agg""".stripMargin
  }

  // --------------------------------------------------------------- #337
  /** #337 ROW-GROUP-granular pruned scan — the skipping unit #331
    * stops short of: a production parquet reader prunes row groups
    * INSIDE files it must open, not just whole files. The date
    * layout is written with a deliberately small `parquet.block.size`
    * so every year file rolls many row groups (day-sorted, so each
    * row group's footer [min,max] is a tight day slice); the scan
    * then reads per-ROW-GROUP stats off the real footers, keeps only
    * row groups whose [min,max] overlaps a one-week probe, and
    * physically decodes ONLY those (`skipNextRowGroup()` passes the
    * rest without page I/O — [[Apex.readSelectedRowGroups]]), with the
    * row-level residual filter on top.
    *
    * Oracle device: row-group BOUNDARIES are writer-memory-estimated
    * (not closed-form), so — unlike the file-level #331 — boundary-
    * dependent counts stay OUT of the hashed result: the emitted row
    * is the probe aggregate (which pruning must not change — that
    * identity is what the hash compare proves) plus the file count
    * (one file per year by construction). The row-group accounting
    * (groups skipped inside kept files, rows never decoded) is
    * ForgeSpec's job, pinned against the same footers.
    *
    * Scale: at 100 TB a clustering-unit file is many GB; file-level
    * pruning alone still reads the whole file for a one-week probe —
    * the row-group cut is what turns that into ~week/year of the
    * bytes.
    */
  def layoutRowgroupScan(spark: SparkSession, dir: String): DataFrame = {
    val (dLo, dHi) = (9190L, 9196L)
    val tmp = writeRowGroupDateLayout(spark, dir)
    val rg = Apex.readFooterRowGroupStats(spark, tmp, "day").collect()
    val survivors = rg.toSeq
      .filter(r => r.getAs[Long]("max_v") >= dLo &&
        r.getAs[Long]("min_v") <= dHi)
      .groupBy(_.getAs[String]("path"))
      .map { case (p, rows) => (p, rows.map(_.getAs[Int]("rg_idx")).sorted) }
      .toSeq
    val nFiles = rg.map(_.getAs[String]("path")).distinct.length.toLong
    val out = Apex.readSelectedRowGroups(spark, survivors)
      .where(col("day").between(dLo, dHi))
      .agg(count(lit(1)).as("n_rows"),
        sum("o_orderkey").cast("long").as("sum_orderkey"),
        min("day").as("min_day_read"), max("day").as("max_day_read"))
      .withColumn("files_total", lit(nFiles))
      .select(col("files_total"), col("n_rows"), col("sum_orderkey"),
        col("min_day_read"), col("max_day_read"))
    out
  }

  /** Write the date-clustered orders layout with multi-row-group
    * files: one file per YEAR (the year's rows hash to one task, no
    * record cap — months are too small at bench sf to outgrow even a
    * small row group), rows (day, key)-sorted inside it, and a 1 KiB
    * `parquet.block.size` so the writer rolls a row group every ~100
    * records (the writer's minimum memory-check interval) — the
    * sub-file structure #337 prunes against. Returns the
    * [[graft.LayoutCache]]-owned root (write once per JVM; the cache
    * deletes on exit — callers must not).
    */
  private[graft] def writeRowGroupDateLayout(spark: SparkSession,
      dir: String): String =
    graft.LayoutCache.getOrWrite("rg1k", dir) { tmp =>
      ordersZFrame(spark, dir)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("day"), substring(col("month"), 1, 4).as("year"))
        .repartition(col("year"))
        .sortWithinPartitions("year", "day", "o_orderkey")
        .write.mode("overwrite")
        .option("parquet.block.size", "1024")
        .partitionBy("year").parquet(tmp)
    }

  val layoutRowgroupScanSql: String =
    """WITH o AS (
      |  SELECT o_orderkey,
      |    CAST(date_diff('day', DATE '1970-01-01', o_orderdate)
      |      AS BIGINT) AS day,
      |    strftime(o_orderdate, '%Y') AS year
      |  FROM orders),
      |acc AS (
      |  SELECT CAST(COUNT(DISTINCT year) AS BIGINT) AS files_total
      |  FROM o),
      |agg AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(SUM(o_orderkey) AS BIGINT) AS sum_orderkey,
      |    MIN(day) AS min_day_read, MAX(day) AS max_day_read
      |  FROM o WHERE day BETWEEN 9190 AND 9196)
      |SELECT files_total, n_rows, sum_orderkey, min_day_read, max_day_read
      |FROM acc CROSS JOIN agg""".stripMargin

  // --------------------------------------------------------------- #326
  private val profileCols = Seq("doc_id", "lang", "source", "n_chars")

  /** #326 column profiler — the Deequ-style first read on ANY new
    * table a data platform ingests: per column the row count, null
    * count, completeness, APPROXIMATE distinct, and a min/max
    * representation (value bounds for scalars, LENGTH bounds for the
    * text payload). The whole profile is ONE map-side-combinable pass
    * over the table — five sketches and a handful of counters per
    * partition, unpivoted to the per-column report with `stack`.
    *
    * Sketch choice: KMV (k=256), NOT HLL — a profiler meets columns
    * across the whole cardinality spectrum, and KMV is EXACT below k
    * (a 5-value lang column reports 5.0, where HLL's raw estimate
    * without its small-range ln() correction reads ~370 — measured,
    * and the correction is exactly the cross-engine ln() this repo
    * keeps out of oracles) while carrying ~1/√k error above k. 2 KiB
    * of partial state per column crosses the shuffle, never value
    * sets — the exact per-column countDistinct a 100 TB profile
    * cannot afford.
    *
    * Exactness: counts/bounds exact; the KMV estimate is the
    * literal-double (k−1)/(h_k/2^64) over the exact k-th smallest
    * 60-bit md5 hash, which the oracle re-derives by ORDER BY/OFFSET.
    */
  def qualityProfile(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    // the full-64-bit md5 hash (ngram_md5_hashes at n=1 over a
    // singleton array) — KMV's (k−1)/(h_k/2^64) estimator needs the
    // whole hash range; a 60-bit hash reads 16× high (measured)
    def kmvOf(c: String): org.apache.spark.sql.Column = expr(
      s"""kmv_distinct(
         |  if(isnull($c), cast(null as array<bigint>),
         |     ngram_md5_hashes(array(cast($c as string)), 1)), 256)"""
        .stripMargin)
    val aggs =
      Seq(count(lit(1)).as("n")) ++
        profileCols.flatMap(c => Seq(
          count(col(c)).as(s"p_$c"),
          kmvOf(c).as(s"ad_$c"),
          min(col(c)).cast("string").as(s"lo_$c"),
          max(col(c)).cast("string").as(s"hi_$c"))) ++
        Seq(count(col("text")).as("p_text"),
          kmvOf("text").as("ad_text"),
          min(length(col("text"))).cast("string").as("lo_text"),
          max(length(col("text"))).cast("string").as("hi_text"))
    val wide = docs.agg(aggs.head, aggs.tail: _*)
    val stackArgs = (profileCols :+ "text")
      .map(c => s"'$c', p_$c, ad_$c, lo_$c, hi_$c").mkString(", ")
    wide
      .selectExpr("n", s"stack(5, $stackArgs) as " +
        "(col_name, n_present, ad, min_repr, max_repr)")
      .select(col("col_name"), col("n").as("n_rows"),
        (col("n") - col("n_present")).as("n_nulls"),
        when(col("n") > 0L, r4(col("n_present").cast("double") /
          col("n").cast("double"))).as("completeness"),
        when(col("n_present") > 0L, r4(col("ad")))
          .as("approx_distinct"),
        col("min_repr"), col("max_repr"))
      .orderBy("col_name")
  }

  val qualityProfileSql: String = {
    def branch(c: String, v: String, lo: String, hi: String): String =
      s"""hv_$c AS (
         |  SELECT DISTINCT ('0x' || substr(md5($v), 1, 16))::UBIGINT
         |    AS h
         |  FROM documents WHERE $v IS NOT NULL),
         |k_$c AS (
         |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM hv_$c) AS nd,
         |    (SELECT h FROM hv_$c ORDER BY h LIMIT 1 OFFSET 255) AS hk),
         |m_$c AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(COUNT($v) AS BIGINT) AS p,
         |    CAST($lo AS VARCHAR) AS lo, CAST($hi AS VARCHAR) AS hi
         |  FROM documents)""".stripMargin
    val estSql = "CASE WHEN k.nd < 256 THEN CAST(k.nd AS DOUBLE) " +
      "ELSE 255.0 / (CAST(k.hk AS DOUBLE) / 18446744073709551616.0) END"
    def leg(c: String): String =
      s"""SELECT '$c' AS col_name, m.n AS n_rows, m.n - m.p AS n_nulls,
         |  CASE WHEN m.n > 0 THEN
         |    ${r4Sql("CAST(m.p AS DOUBLE) / CAST(m.n AS DOUBLE)")}
         |    END AS completeness,
         |  CASE WHEN m.p > 0 THEN
         |    ${r4Sql(estSql)}
         |    END AS approx_distinct,
         |  m.lo AS min_repr, m.hi AS max_repr
         |FROM m_$c m CROSS JOIN k_$c k""".stripMargin
    val specs = Seq(
      ("doc_id", "CAST(doc_id AS VARCHAR)", "MIN(doc_id)", "MAX(doc_id)"),
      ("lang", "lang", "MIN(lang)", "MAX(lang)"),
      ("source", "source", "MIN(source)", "MAX(source)"),
      ("n_chars", "CAST(n_chars AS VARCHAR)", "MIN(n_chars)",
        "MAX(n_chars)"),
      ("text", "text", "MIN(length(text))", "MAX(length(text))"))
    s"""WITH ${specs.map(s => branch(s._1, s._2, s._3, s._4))
         .mkString(",\n")}
       |SELECT * FROM (
       |${specs.map(s => leg(s._1)).mkString("\nUNION ALL\n")})
       |ORDER BY col_name""".stripMargin
  }

  // --------------------------------------------------------------- #327
  /** #327 constraint verification — the Deequ-check suite the profiler
    * feeds: declarative data-quality assertions evaluated in ONE pass
    * and emitted as an audit table (check, measured metric, threshold,
    * passed). Checks cover the real failure modes of an ingested
    * corpus: key completeness and uniqueness, payload completeness,
    * categorical containment (lang ⊆ the allowed set), CROSS-COLUMN
    * consistency (n_chars must equal length(text) — the declared
    * metadata matching the payload), and value bounds — where the
    * min-length floor legitimately FAILS on this corpus (min 48 < 100),
    * so the audit demonstrably reports both outcomes.
    *
    * Exactness: every pass/fail verdict compares EXACT INTEGERS
    * (100·p ≥ 99·n for the 0.99 floor — never a float threshold), so
    * the booleans cannot drift; metrics are r4'd for the report.
    */
  def qualityConstraints(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val langSet = Seq("en", "de", "fr", "es", "zh")
    val wide = docs.agg(
      count(lit(1)).as("n"),
      count(col("doc_id")).as("p_doc"),
      countDistinct(col("doc_id")).as("d_doc"),
      count(col("text")).as("p_text"),
      count(col("lang")).as("p_lang"),
      sum(when(col("lang").isin(langSet: _*), 1L).otherwise(0L))
        .as("lang_in"),
      sum(when(col("n_chars").isNotNull && col("text").isNotNull,
        1L).otherwise(0L)).as("both"),
      sum(when(col("n_chars") === length(col("text")), 1L).otherwise(0L))
        .as("consistent"),
      min(col("n_chars")).as("min_nc"),
      max(col("n_chars")).as("max_nc"))
    // every ratio is GATED before it is computed: under ANSI (the
    // Spark 4 default) 0/0 throws, and an empty table must yield null
    // verdicts, not a crashed audit
    val checks = wide.select(col("*"),
      when(col("n") > 0L,
        r4(col("p_doc").cast("double") / col("n"))).as("m1"),
      (col("p_doc") === col("n")).as("ok1"),
      when(col("p_doc") > 0L,
        r4(col("d_doc").cast("double") / col("p_doc"))).as("m2"),
      (col("d_doc") === col("p_doc")).as("ok2"),
      when(col("n") > 0L,
        r4(col("p_text").cast("double") / col("n"))).as("m3"),
      (col("p_text") * 100L >= col("n") * 99L).as("ok3"),
      when(col("p_lang") > 0L,
        r4(col("lang_in").cast("double") / col("p_lang"))).as("m4"),
      (col("lang_in") === col("p_lang")).as("ok4"),
      when(col("both") > 0L,
        r4(col("consistent").cast("double") / col("both"))).as("m5"),
      (col("consistent") === col("both")).as("ok5"),
      col("min_nc").cast("double").as("m6"),
      (col("min_nc") >= 100L).as("ok6"),
      col("max_nc").cast("double").as("m7"),
      (col("max_nc") <= 100000L).as("ok7"))
    checks.selectExpr("n",
      """stack(7,
        |  'completeness_doc_id', m1, 1.0D, ok1,
        |  'uniqueness_doc_id', m2, 1.0D, ok2,
        |  'completeness_text', m3, 0.99D, ok3,
        |  'containment_lang', m4, 1.0D, ok4,
        |  'consistency_n_chars', m5, 1.0D, ok5,
        |  'min_length_floor', m6, 100.0D, ok6,
        |  'max_length_cap', m7, 100000.0D, ok7
        |) as (check_name, metric, threshold, passed)""".stripMargin)
      .select(col("check_name"),
        when(col("n") > 0L, col("metric")).as("metric"),
        col("threshold"),
        when(col("n") > 0L, col("passed")).as("passed"))
      .orderBy("check_name")
  }

  val qualityConstraintsSql: String =
    s"""WITH w AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(COUNT(doc_id) AS BIGINT) AS p_doc,
       |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS d_doc,
       |    CAST(COUNT(text) AS BIGINT) AS p_text,
       |    CAST(COUNT(lang) AS BIGINT) AS p_lang,
       |    CAST(COUNT(*) FILTER (WHERE lang IN
       |      ('en','de','fr','es','zh')) AS BIGINT) AS lang_in,
       |    CAST(COUNT(*) FILTER (WHERE n_chars IS NOT NULL
       |      AND text IS NOT NULL) AS BIGINT) AS nboth,
       |    CAST(COUNT(*) FILTER (WHERE n_chars = length(text))
       |      AS BIGINT) AS consistent,
       |    MIN(n_chars) AS min_nc, MAX(n_chars) AS max_nc
       |  FROM documents),
       |c AS (
       |  SELECT 'completeness_doc_id' AS check_name,
       |    ${r4Sql("CAST(p_doc AS DOUBLE) / n")} AS metric,
       |    1.0 AS threshold, p_doc = n AS passed, n FROM w
       |  UNION ALL SELECT 'uniqueness_doc_id',
       |    ${r4Sql("CAST(d_doc AS DOUBLE) / p_doc")}, 1.0,
       |    d_doc = p_doc, n FROM w
       |  UNION ALL SELECT 'completeness_text',
       |    ${r4Sql("CAST(p_text AS DOUBLE) / n")}, 0.99,
       |    p_text * 100 >= n * 99, n FROM w
       |  UNION ALL SELECT 'containment_lang',
       |    ${r4Sql("CAST(lang_in AS DOUBLE) / p_lang")}, 1.0,
       |    lang_in = p_lang, n FROM w
       |  UNION ALL SELECT 'consistency_n_chars',
       |    ${r4Sql("CAST(consistent AS DOUBLE) / nboth")}, 1.0,
       |    consistent = nboth, n FROM w
       |  UNION ALL SELECT 'min_length_floor',
       |    CAST(min_nc AS DOUBLE), 100.0, min_nc >= 100, n FROM w
       |  UNION ALL SELECT 'max_length_cap',
       |    CAST(max_nc AS DOUBLE), 100000.0, max_nc <= 100000, n FROM w)
       |SELECT check_name,
       |  CASE WHEN n > 0 THEN metric END AS metric, threshold,
       |  CASE WHEN n > 0 THEN passed END AS passed
       |FROM c ORDER BY check_name""".stripMargin

  // --------------------------------------------------------------- #340
  /** #340 clustering-health metric off REAL footers: the interval-
    * OVERLAP DEPTH of each layout's per-file [min,max] ranges — the
    * manifest-only number that predicts what #324/#332's probes
    * measure, without running a probe. For every point of a
    * dimension's domain, depth(x) = how many files' footer ranges
    * contain x; a perfectly clustered layout has depth 1 everywhere
    * (any point probe reads one file), an unclustered one has depth ≈
    * n_files (every probe reads everything). This is the statistic a
    * warehouse OPTIMIZE scheduler watches to decide WHEN to recluster
    * (the audits say what a layout buys; the depth says when it has
    * decayed) — computable from table-format manifests alone,
    * metadata-plane at any data scale.
    *
    * Computed exactly by the #259 sweep-line device over file
    * endpoints: +1 at min, −1 at max+1, running sum ordered by the
    * (unique, post-grouped) position = depth over each inter-endpoint
    * segment; `avg_depth` is the segment-length-weighted mean over
    * the covered domain and `max_depth` the worst point — integers
    * until the one final r4'd division. The date layout clusters
    * `day` (depth→1) and ignores `cb` (depth→n_files); z-order holds
    * BOTH dimensions' depth at ~n_files/64 — the 4-row table ranks
    * the layouts per dimension in one read.
    *
    * Both writes are the #324 deterministic layouts, so the DuckDB
    * oracle recomputes every file's ranges from the rank-cut closed
    * form and runs the same sweep — a green hash proves real footers
    * == simulation THROUGH the depth algebra. Both layouts are the
    * cache-shared #324 writes (graft.LayoutCache — one physical write
    * per JVM, deleted on exit).
    */
  def layoutOverlapDepth(spark: SparkSession, dir: String): DataFrame = {
    val tmpD = date512Layout(spark, dir)
    val tmpZ = z512Layout(spark, dir)
    // localCheckpoint: the stats frame feeds TWO consumers (the sweep
    // and the per-(layout,dim) file counts) — materialize the footer
    // read once instead of twice
    val stats = footerTwoDimStats(spark, tmpD, "date_clustered")
      .unionByName(footerTwoDimStats(spark, tmpZ, "zorder"))
      .localCheckpoint()
    val iv = stats.select(col("layout"), expr(
      "stack(2, 'day', min_day, max_day, 'cb', min_cb, max_cb) " +
        "as (dim, lo, hi)"))
    val ev = iv.select(col("layout"), col("dim"),
      expr("stack(2, lo, 1L, hi + 1L, -1L) as (pos, delta)"))
    val w = Window.partitionBy("layout", "dim").orderBy("pos")
    val seg = ev.groupBy("layout", "dim", "pos")
      .agg(sum("delta").as("d"))
      .withColumn("depth", sum("d").over(w))
      .withColumn("np", lead("pos", 1).over(w))
      .where(col("np").isNotNull && col("depth") > 0L)
      .withColumn("len", col("np") - col("pos"))
    val nf = iv.groupBy("layout", "dim").agg(count(lit(1)).as("n_files"))
    seg.groupBy("layout", "dim")
      .agg(sum("len").as("domain_len"), max("depth").as("max_depth"),
        sum(col("depth") * col("len")).as("dl"))
      .join(nf, Seq("layout", "dim"))
      .select(col("layout"), col("dim"), col("n_files"),
        col("domain_len"), col("max_depth"),
        r4(col("dl").cast("double") / col("domain_len").cast("double"))
          .as("avg_depth"))
      .orderBy("layout", "dim")
  }

  val layoutOverlapDepthSql: String = {
    val shrDuck = (x: String, i: Int) => s"($x >> $i)"
    s"""WITH o AS (
       |  SELECT o_orderkey,
       |    CAST(date_diff('day', DATE '1970-01-01', o_orderdate)
       |      AS BIGINT) AS day,
       |    CAST(o_custkey % 64 AS BIGINT) AS cb,
       |    strftime(o_orderdate, '%Y-%m') AS month
       |  FROM orders),
       |z AS (
       |  SELECT *,
       |    least(63, greatest(0, (day - 8000) * 64 // 2000)) AS db
       |  FROM o),
       |zz AS (
       |  SELECT *, ${zInterleave("db", "cb", shrDuck)} AS zv FROM z),
       |zb AS (SELECT *, zv // 64 AS zbk FROM zz),
       |rd AS (
       |  SELECT month, day, cb,
       |    CAST((ROW_NUMBER() OVER (PARTITION BY month
       |      ORDER BY day, o_orderkey) - 1) // 512 AS BIGINT) AS fid
       |  FROM zb),
       |rz AS (
       |  SELECT zbk, day, cb,
       |    CAST((ROW_NUMBER() OVER (PARTITION BY zbk
       |      ORDER BY zv, o_orderkey) - 1) // 512 AS BIGINT) AS fid
       |  FROM zb),
       |f AS (
       |  SELECT 'date_clustered' AS layout, month AS part, fid,
       |    MIN(day) AS min_day, MAX(day) AS max_day,
       |    MIN(cb) AS min_cb, MAX(cb) AS max_cb
       |  FROM rd GROUP BY 2, 3
       |  UNION ALL
       |  SELECT 'zorder', CAST(zbk AS VARCHAR), fid,
       |    MIN(day), MAX(day), MIN(cb), MAX(cb)
       |  FROM rz GROUP BY 2, 3),
       |iv AS (
       |  SELECT layout, 'day' AS dim, min_day AS lo, max_day AS hi
       |  FROM f
       |  UNION ALL
       |  SELECT layout, 'cb', min_cb, max_cb FROM f),
       |ev AS (
       |  SELECT layout, dim, lo AS pos, 1 AS delta FROM iv
       |  UNION ALL
       |  SELECT layout, dim, hi + 1, -1 FROM iv),
       |g AS (
       |  SELECT layout, dim, pos, SUM(delta) AS d
       |  FROM ev GROUP BY 1, 2, 3),
       |r AS (
       |  SELECT *,
       |    SUM(d) OVER (PARTITION BY layout, dim ORDER BY pos) AS depth,
       |    LEAD(pos) OVER (PARTITION BY layout, dim ORDER BY pos) AS np
       |  FROM g),
       |seg AS (
       |  SELECT layout, dim, depth, np - pos AS len
       |  FROM r WHERE np IS NOT NULL AND depth > 0),
       |nf AS (
       |  SELECT layout, dim, CAST(COUNT(*) AS BIGINT) AS n_files
       |  FROM iv GROUP BY 1, 2)
       |SELECT s.layout, s.dim, nf.n_files,
       |  CAST(SUM(s.len) AS BIGINT) AS domain_len,
       |  CAST(MAX(s.depth) AS BIGINT) AS max_depth,
       |  ${r4Sql("CAST(SUM(s.depth * s.len) AS DOUBLE) / " +
                  "CAST(SUM(s.len) AS DOUBLE)")} AS avg_depth
       |FROM seg s JOIN nf ON s.layout = nf.layout AND s.dim = nf.dim
       |GROUP BY s.layout, s.dim, nf.n_files
       |ORDER BY s.layout, s.dim""".stripMargin
  }

  // --------------------------------------------------------------- #342
  /** #342 sequential Poisson PPS sampling (Ohlsson): per event type,
    * the k=50 rows with smallest ξᵢ = uᵢ/wᵢ form a probability-
    * proportional-to-size sample — the estimator-grade upgrade of the
    * uniform samplers (#44/#316 allocate BETWEEN strata; this weights
    * WITHIN one): big-value events are near-certain draws, so a
    * value-weighted total is estimated from k rows with far less
    * variance than uniform sampling, which is how production metric
    * pipelines sample pennies-to-millions payment streams. uᵢ is the
    * #67 md5 uniform — deterministic, rerunnable, stable under other
    * rows' arrival (a row's ξ never changes, the bottom-k property
    * #322 proved mergeable). The eval emits the PPS estimate of the
    * population COUNT (Σ 1/pᵢ over the sample, pᵢ = k·wᵢ/W — for the
    * count target, PPS is deliberately mis-matched weighting, so the
    * estimate is unbiased but visibly noisier on skewed types; the
    * per-type relative error IS the read) next to the exact count,
    * plus the exact integer sample-value sum as the membership proof
    * (the #322 device).
    *
    * Scale: ranking is a per-type bottom-k (WindowGroupLimit pushes
    * the rank filter map-side, partial top-k per partition before the
    * shuffle); everything emitted is one grouped agg over ≤ k·types
    * rows. Every double is one IEEE expression over exact integers,
    * sumDec-summed.
    */
  def samplePps(spark: SparkSession, dir: String): DataFrame = {
    val k = 50
    val e = Tables.eventsUs(spark, dir)
      .select(col("event_type"), col("event_id"),
        expr("cast(floor(value * 100.0 + 0.5) as bigint)").as("c"))
      .where(col("c") > 0L)
    val tot = e.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("c").as("w_total_cents"))
    val xi = (conv(substring(md5(col("event_id").cast("string")), 1, 8),
      16, 10).cast("double") / lit(4294967296.0)) / col("c").cast("double")
    val w = Window.partitionBy("event_type")
      .orderBy(col("xi"), col("event_id"))
    val s = e.withColumn("xi", xi)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
    val term = col("w_total_cents").cast("double") /
      (lit(k.toDouble) * col("c").cast("double"))
    s.join(broadcast(tot), "event_type")
      .groupBy("event_type")
      .agg(max("n").as("n"), max("w_total_cents").as("w_total_cents"),
        count(lit(1)).as("k_taken"), sum("c").as("sample_w_cents"),
        sumDec(term, 38, 8).as("n_est_raw"))
      .select(col("event_type"), col("n"), col("w_total_cents"),
        col("k_taken"), col("sample_w_cents"),
        r4(col("n_est_raw")).as("n_est"),
        r4(abs(col("n_est_raw") - col("n").cast("double")) /
          col("n").cast("double")).as("err_rel"))
      .orderBy("event_type")
  }

  val samplePpsSql: String =
    s"""WITH e AS (
       |  SELECT event_type, event_id,
       |    CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS c
       |  FROM events
       |  WHERE CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) > 0),
       |tot AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(c) AS BIGINT) AS w_total_cents
       |  FROM e GROUP BY 1),
       |s AS (
       |  SELECT event_type, event_id, c FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
       |      ORDER BY (('0x' || substr(md5(CAST(event_id AS VARCHAR)),
       |        1, 8))::UBIGINT / 4294967296.0) / CAST(c AS DOUBLE),
       |        event_id) AS rn
       |    FROM e)
       |  WHERE rn <= 50),
       |j AS (
       |  SELECT s.event_type, s.c, t.n, t.w_total_cents
       |  FROM s JOIN tot t ON s.event_type = t.event_type),
       |agg AS (
       |  SELECT event_type, MAX(n) AS n,
       |    MAX(w_total_cents) AS w_total_cents,
       |    CAST(COUNT(*) AS BIGINT) AS k_taken,
       |    CAST(SUM(c) AS BIGINT) AS sample_w_cents,
       |    ${sumDecSql("CAST(w_total_cents AS DOUBLE) / " +
                        "(50.0 * CAST(c AS DOUBLE))", 38, 8)} AS n_est_raw
       |  FROM j GROUP BY 1)
       |SELECT event_type, n, w_total_cents, k_taken, sample_w_cents,
       |  ${r4Sql("n_est_raw")} AS n_est,
       |  ${r4Sql("ABS(n_est_raw - CAST(n AS DOUBLE)) / " +
                  "CAST(n AS DOUBLE)")} AS err_rel
       |FROM agg ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- #343
  /** #343 small-file compaction executor — the OTHER half of the
    * OPTIMIZE loop #340's depth metric schedules: the date layout is
    * first written with a 512-row file cap (the planted small-file
    * problem every streaming ingest accumulates), then READ BACK and
    * rewritten under the identical clustering with an 8× cap, and
    * REAL footers of both trees supply the per-month accounting —
    * row counts (before == after is part of the hashed result: a
    * compactor that loses rows is not a compactor), file counts, the
    * ceil(n/512)→ceil(n/4096) collapse and the r4'd reduction. Both
    * writes are the #320 deterministic layout, so the DuckDB oracle
    * recomputes everything from per-month row counts alone — the
    * green hash proves the physical rewrite preserved cardinality and
    * rolled files exactly at the caps.
    *
    * Scale: compaction is one partition-parallel shuffle + in-task
    * sort (same cost class as the ingest that made the mess); footer
    * reads are metadata-plane. At 100 TB the read-side payoff is
    * #331's: fewer, larger files mean fewer footers, fewer seeks, and
    * row groups that actually reach parquet.block.size.
    */
  def layoutCompactFiles(spark: SparkSession, dir: String): DataFrame = {
    val o = ordersZFrame(spark, dir)
    val tmpS = date512Layout(spark, dir)
    val tmpC = graft.LayoutCache.getOrWrite("date4096", dir) { tmp =>
      // explicit schema: a zero-row upstream writes zero files and
      // schema INFERENCE would throw — the compactor must no-op instead
      spark.read.schema(o.schema).parquet(tmpS)
        .repartition(col("month"))
        .sortWithinPartitions("month", "day", "o_orderkey")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 4096L)
        .partitionBy("month").parquet(tmp)
    }
    def monthStats(path: String): DataFrame =
      Apex.readFooterLongStats(spark, path, Seq("day"))
        .withColumn("month", regexp_extract(col("path"),
          "month=([^/]+)", 1))
    val before = monthStats(tmpS).groupBy("month")
      .agg(count(lit(1)).as("files_before"), sum("n_rows").as("n_rows"))
    val after = monthStats(tmpC).groupBy("month")
      .agg(count(lit(1)).as("files_after"),
        sum("n_rows").as("n_rows_after"),
        max("n_rows").as("max_file_rows_after"))
    before.join(after, "month")
      .select(col("month"), col("n_rows"), col("files_before"),
        col("files_after"),
        (col("n_rows") === col("n_rows_after")).as("rows_preserved"),
        col("max_file_rows_after"),
        r4(lit(1.0) - col("files_after").cast("double") /
          col("files_before").cast("double")).as("file_reduction"))
      .orderBy("month")
  }

  val layoutCompactFilesSql: String =
    s"""WITH m AS (
       |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM orders GROUP BY 1),
       |c AS (
       |  SELECT month, n AS n_rows,
       |    CAST((n + 511) // 512 AS BIGINT) AS files_before,
       |    CAST((n + 4095) // 4096 AS BIGINT) AS files_after,
       |    TRUE AS rows_preserved,
       |    CAST(CASE WHEN n % 4096 = 0 THEN 4096
       |      WHEN n < 4096 THEN n
       |      WHEN n % 4096 >= 1 THEN 4096 END AS BIGINT)
       |      AS max_file_rows_after
       |  FROM m)
       |SELECT month, n_rows, files_before, files_after, rows_preserved,
       |  max_file_rows_after,
       |  ${r4Sql("1.0 - CAST(files_after AS DOUBLE) / " +
                  "CAST(files_before AS DOUBLE)")} AS file_reduction
       |FROM c ORDER BY month""".stripMargin

  // ----------------------------------------------------------------
  // --------------------------------------------------------------- #347
  /** Probe keys for #347: the 3 custkeys with the FEWEST orders (ties
    * by smallest key) — deterministic at any sf, and maximally
    * bloom-favorable (a rare key lives in very few 512-row files).
    */
  private[graft] def bloomProbeKeys(spark: SparkSession,
      dir: String): Seq[Long] =
    Tables(spark, dir, "orders")
      .groupBy("o_custkey").agg(count(lit(1)).as("n"))
      .orderBy(col("n"), col("o_custkey")).limit(3)
      .collect().map(_.getAs[Long]("o_custkey")).toSeq

  /** The #347 layout: the #343 date-clustered 512-cap month layout
    * carrying raw o_custkey, written with parquet BLOOM FILTERS
    * enabled on o_custkey (NDV-sized to the customer count decade).
    */
  private[graft] def writeBloomDateLayout(spark: SparkSession,
      dir: String): String =
    graft.LayoutCache.getOrWrite("bloom512", dir) { tmp =>
      // size the bloom NDV from the ACTUAL customer count (parquet
      // footer metadata — no scan), not a fixed literal: an undersized
      // bloom keeps its no-false-negative contract but its FP rate —
      // and with it the measured skipping — degrades silently at
      // larger sf (r9 advisory). Floor keeps tiny sf blooms sane.
      val ndv = math.max(1024L,
        Tables.parquetRowCount(spark, dir, "customer"))
      Tables(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          datediff(col("o_orderdate"), lit("1970-01-01")).cast("long")
            .as("day"),
          date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .repartition(col("month"))
        .sortWithinPartitions("month", "day", "o_orderkey")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 512L)
        .option("parquet.bloom.filter.enabled#o_custkey", "true")
        .option("parquet.bloom.filter.expected.ndv#o_custkey",
          ndv.toString)
        // parquet-mr SKIPS the bloom when a chunk stays fully
        // dictionary-encoded (the dictionary is already an exact
        // membership index). At bench sf the 150-1500-key dictionary
        // never overflows, so force the production high-cardinality
        // regime (dict fallback) on the probe column to get real blooms
        .option("parquet.enable.dictionary#o_custkey", "false")
        .partitionBy("month").parquet(tmp)
    }

  /** #347 BLOOM-FILTER pruned point lookup — the third skipping index,
    * completing the trilogy: zone maps (#320/#331) answer RANGE probes
    * on the clustered dimension, multi-dimension clustering (#324/
    * #336) buys a second dimension, but a POINT lookup on a
    * high-cardinality UNCLUSTERED column defeats both — in the
    * date-clustered layout every 512-row file spans nearly the full
    * custkey range, so [min,max] prunes essentially nothing. Parquet's
    * per-row-group bloom filters are the production answer (the same
    * trade Delta/Iceberg expose): this operator writes the #343 date
    * layout WITH blooms on o_custkey, consults the REAL serialized
    * blooms off every footer ([[Apex.readFooterBloomAudit]]), reads
    * ONLY files whose bloom admits one of the 3 rarest probe custkeys,
    * and emits the per-key lookup result PLUS the zone-map accounting.
    *
    * Oracle device: bloom bitsets are impl-defined (xxhash64 block
    * layout), so — the #337 discipline — bloom-dependent counts stay
    * OUT of the hashed result. What IS hashed: the per-key lookup
    * aggregates (pruning must be invisible to results — a bloom has
    * NO false negatives, and the hash compare proves it end-to-end
    * through the real bitsets) and the ZONE-MAP file counts, which
    * are deterministic: real footer [min,max] per rank-cut 512-chunk
    * == the closed form the oracle computes (the #320 identity, here
    * on the UNclustered column — hash-proving zone maps read ~every
    * file is exactly the motivation for blooms). ForgeSpec pins the
    * bloom side: blooms present on every row group, bloom-read file
    * sets a fraction of the zone-map read sets.
    *
    * Scale: blooms are KBs of metadata per row group at any volume —
    * the audit is metadata-plane; the data plane touches only the
    * handful of admitted files. At 100 TB this is the difference
    * between a full-table scan and reading ~p·files false-positive
    * files plus the true hits for every point lookup.
    */
  def layoutBloomScan(spark: SparkSession, dir: String): DataFrame = {
    val keys = bloomProbeKeys(spark, dir)
    val tmp = writeBloomDateLayout(spark, dir)
    val audit = Apex.readFooterBloomAudit(spark, tmp, "o_custkey", keys)
      .localCheckpoint()
    val survivors = audit.where(col("bloom_hit"))
      .select("path").distinct()
      .collect().map(_.getString(0)).toSeq
    val filesTotal = audit.select("path").distinct().count()
    val zm = audit.groupBy("k")
      .agg(sum(when(col("zm_hit"), 1L).otherwise(0L))
        .as("zm_files_read"))
    val pruned =
      if (survivors.isEmpty)
        // zero admitted files (or an empty upstream): schema-stable
        // empty relation — a zero-path parquet read would throw
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          new org.apache.spark.sql.types.StructType()
            .add("o_orderkey", "long").add("o_custkey", "long")
            .add("day", "long").add("month", "string"))
      else spark.read.option("basePath", tmp).parquet(survivors: _*)
    val out = pruned
      .where(col("o_custkey").isin(keys: _*))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum("o_orderkey").cast("long").as("sum_orderkey"),
        min("day").as("min_day"), max("day").as("max_day"))
      .join(zm, col("o_custkey") === col("k"))
      .select(col("o_custkey").as("probe_custkey"), col("n_orders"),
        col("sum_orderkey"), col("min_day"), col("max_day"),
        lit(filesTotal).as("files_total"), col("zm_files_read"))
      .orderBy("probe_custkey")
    out
  }

  val layoutBloomScanSql: String =
    """WITH o AS (
      |  SELECT o_orderkey, o_custkey,
      |    CAST(date_diff('day', DATE '1970-01-01', o_orderdate)
      |      AS BIGINT) AS day,
      |    strftime(o_orderdate, '%Y-%m') AS month
      |  FROM orders),
      |pk AS (
      |  SELECT o_custkey AS k FROM (
      |    SELECT o_custkey, COUNT(*) AS n FROM orders
      |    GROUP BY 1 ORDER BY n, o_custkey LIMIT 3)),
      |r AS (
      |  SELECT month, o_custkey,
      |    CAST((ROW_NUMBER() OVER (PARTITION BY month
      |      ORDER BY day, o_orderkey) - 1) // 512 AS BIGINT) AS fid
      |  FROM o),
      |f AS (
      |  SELECT month, fid, MIN(o_custkey) AS mn, MAX(o_custkey) AS mx
      |  FROM r GROUP BY 1, 2),
      |ft AS (SELECT CAST(COUNT(*) AS BIGINT) AS files_total FROM f),
      |zm AS (
      |  SELECT k, CAST(COUNT(*) FILTER (WHERE k BETWEEN mn AND mx)
      |    AS BIGINT) AS zm_files_read
      |  FROM f CROSS JOIN pk GROUP BY k),
      |agg AS (
      |  SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |    CAST(SUM(o_orderkey) AS BIGINT) AS sum_orderkey,
      |    MIN(day) AS min_day, MAX(day) AS max_day
      |  FROM o WHERE o_custkey IN (SELECT k FROM pk) GROUP BY 1)
      |SELECT agg.k AS probe_custkey, n_orders, sum_orderkey,
      |  min_day, max_day, files_total, zm_files_read
      |FROM agg JOIN zm ON agg.k = zm.k CROSS JOIN ft
      |ORDER BY probe_custkey""".stripMargin

  // --------------------------------------------------------------- #350
  /** The #350 two-epoch table: epoch 1 (orders before 1998) written
    * under the ORIGINAL schema, epoch 2 (1998+) after a column was
    * added (`price_cents`). Physically two file generations under one
    * root — the shape every long-lived production table reaches.
    */
  private[graft] def writeSchemaEvolutionLayout(spark: SparkSession,
      dir: String): String =
    graft.LayoutCache.getOrWrite("schemaevo", dir) { tmp =>
      val o = Tables(spark, dir, "orders")
        .select(col("o_orderkey"),
          datediff(col("o_orderdate"), lit("1970-01-01")).cast("long")
            .as("day"),
          year(col("o_orderdate")).as("yr"),
          expr("cast(floor(o_totalprice * 100.0 + 0.5) as bigint)")
            .as("price_cents"))
      o.where(col("yr") < 1998).select("o_orderkey", "day")
        .write.mode("overwrite").parquet(s"$tmp/epoch=1")
      o.where(col("yr") >= 1998).select("o_orderkey", "day", "price_cents")
        .write.mode("overwrite").parquet(s"$tmp/epoch=2")
    }

  /** #350 SCHEMA-EVOLUTION read — the production read every long-lived
    * table eventually needs: files written BEFORE a column existed sit
    * under the same root as files written after, and the reader must
    * union them without a rewrite (the Delta/Iceberg "add column is
    * metadata-only" contract). The operator physically writes two file
    * generations (pre-1998 orders under the original schema; 1998+
    * with an added `price_cents`), reads the root with `mergeSchema`,
    * and emits the per-epoch accounting a migration owner checks: row
    * counts preserved, the late column NULL for exactly the old
    * generation (nulls counted from the ACTUAL merged rows — proving
    * the reader fills absence with null, not garbage), and the sum
    * over the rows that really carry the column. The oracle computes
    * the same accounting straight from `orders`, so a green hash
    * proves the merged read loses no rows and invents no values.
    * ForgeSpec pins the physical truth: epoch-1 footers genuinely
    * LACK the column while the merged frame carries it.
    *
    * Scale: schema merge is footer-metadata-plane (at 100 TB a
    * mergeSchema read lists footers, it does not rewrite data — while
    * the alternative, a backfill rewrite, IS 100 TB of I/O; production
    * table formats carry the merged schema in the manifest so even
    * the footer sweep amortizes to metadata).
    */
  def layoutSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val tmp = writeSchemaEvolutionLayout(spark, dir)
    // empty upstream writes zero data files and schema inference would
    // throw — surface the same empty accounting instead
    val anyData = graft.ParquetFiles.list(spark, tmp).nonEmpty
    if (!anyData) {
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        new org.apache.spark.sql.types.StructType()
          .add("epoch", "long").add("n_rows", "long")
          .add("price_nulls", "long").add("sum_price_cents", "long")
          .add("price_null_frac", "double"))
    }
    val merged = spark.read.option("mergeSchema", "true").parquet(tmp)
    val out = merged.groupBy(col("epoch").cast("long").as("epoch"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("price_cents").isNull, 1L).otherwise(0L))
          .as("price_nulls"),
        sum("price_cents").as("sum_price_cents"))
      .select(col("epoch"), col("n_rows"), col("price_nulls"),
        col("sum_price_cents"),
        r4(col("price_nulls").cast("double") /
          col("n_rows").cast("double")).as("price_null_frac"))
      .orderBy("epoch")
    out
  }

  val layoutSchemaEvolutionSql: String =
    s"""WITH o AS (
       |  SELECT CAST(CASE WHEN year(o_orderdate) < 1998
       |      THEN 1 ELSE 2 END AS BIGINT) AS epoch,
       |    CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS pc
       |  FROM orders)
       |SELECT epoch, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(COUNT(*) FILTER (WHERE epoch = 1) AS BIGINT)
       |    AS price_nulls,
       |  CAST(SUM(CASE WHEN epoch = 2 THEN pc END) AS BIGINT)
       |    AS sum_price_cents,
       |  ${r4Sql("CAST(COUNT(*) FILTER (WHERE epoch = 1) AS DOUBLE)" +
                  " / COUNT(*)")} AS price_null_frac
       |FROM o GROUP BY epoch ORDER BY epoch""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "layout_schema_evolution" -> (layoutSchemaEvolution _),
    "layout_bloom_scan" -> (layoutBloomScan _),
    "sample_bottomk" -> (sampleBottomk _),
    "layout_zorder_footer" -> (layoutZorderFooter _),
    "layout_hilbert_footer" -> (layoutHilbertFooter _),
    "layout_overlap_depth" -> (layoutOverlapDepth _),
    "sample_pps" -> (samplePps _),
    "layout_compact_files" -> (layoutCompactFiles _),
    "layout_pruned_scan" -> (layoutPrunedScan _),
    "layout_rowgroup_scan" -> (layoutRowgroupScan _),
    "quality_profile" -> (qualityProfile _),
    "quality_constraints" -> (qualityConstraints _))

  val oracles: Map[String, String] = Map(
    "layout_schema_evolution" -> layoutSchemaEvolutionSql,
    "layout_bloom_scan" -> layoutBloomScanSql,
    "sample_bottomk" -> sampleBottomkSql,
    "layout_zorder_footer" -> layoutZorderFooterSql,
    "layout_hilbert_footer" -> layoutHilbertFooterSql,
    "layout_overlap_depth" -> layoutOverlapDepthSql,
    "sample_pps" -> samplePpsSql,
    "layout_compact_files" -> layoutCompactFilesSql,
    "layout_pruned_scan" -> layoutPrunedScanSql,
    "layout_rowgroup_scan" -> layoutRowgroupScanSql,
    "quality_profile" -> qualityProfileSql,
    "quality_constraints" -> qualityConstraintsSql)
}
