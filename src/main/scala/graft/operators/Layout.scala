package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.{LayoutCache, ParquetFiles, Tables}
import graft.Exprs.{r4, r4Sql}

/** The physical-layout family (SURVEY.md §2 #108, #291-292, #320-350):
  * what a table's file layout lets a reader skip, measured and executed
  * on REAL parquet footers. Zone maps (per-file and per-row-group
  * min/max), date clustering, z-order and Hilbert curves, bloom
  * filters, small-file compaction and schema evolution.
  *
  * Every physical layout here is written by [[writeClustered]] into a
  * [[graft.LayoutCache]]-owned tree: one task per directory value, rows
  * totally ordered inside it, files rolled at a fixed record count. So
  * file f of a directory holds sorted-rank rows [cap·f, cap·(f+1)), and
  * the DuckDB oracles recompute every file's footer min/max from that
  * rank-cut closed form: a green hash proves real footers == simulation.
  * Footers are read through [[graft.ParquetFiles]] (distributed,
  * metadata-plane); a pruned read of the surviving files goes through
  * [[readSurvivors]].
  */
object Layout {

  // --------------------------------------------------------------- #108
  /** #108 Z-order layout analysis: quantize two dimensions to 8 bits
    * (rank-based, so any distribution flattens), interleave the bits
    * into a 16-bit Morton key, split rows into 16 "files" by z-range —
    * and measure per-file min/max SPANS of both dimensions against the
    * single-column-sort layout. The span is exactly what file-level
    * min/max statistics prune on: a predicate on dim Y skips files
    * whose Y-span misses it, so avg span/256 estimates the fraction of
    * files a point query must read. Linear layout: one dim's span ≈ 1
    * file, the other ≈ the full domain; z-order bounds BOTH near
    * sqrt — the multi-dimensional data-skipping trade every lakehouse
    * OPTIMIZE ZORDER makes, expressed as a measurable plan.
    *
    * Scale: three global rank windows over the fact table (the same
    * single-partition-sort caveat as #85 — at 100 TB use range
    * partitioning for the quantiles); the Morton key is pure integer
    * map-side math; the report aggregates 2×16 file stats.
    */
  def layoutZorder(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val qx = ntile(256).over(
      Window.orderBy(col("o_custkey"), col("o_orderkey"))) - 1
    val qy = ntile(256).over(
      Window.orderBy(col("o_totalprice"), col("o_orderkey"))) - 1
    val quant = o.withColumn("qx", qx).withColumn("qy", qy)
      .withColumn("z", expr(
        """aggregate(sequence(0, 7), 0, (acc, i) ->
          |  acc + shiftleft(shiftright(qx, i) & 1, 2 * i)
          |      + shiftleft(shiftright(qy, i) & 1, 2 * i + 1))"""
          .stripMargin))
    val files = quant
      .withColumn("zfile",
        ntile(16).over(Window.orderBy(col("z"), col("o_orderkey"))))
      .withColumn("lfile",
        ntile(16).over(Window.orderBy(col("qx"), col("o_orderkey"))))
    def spans(fileCol: String, layout: String): DataFrame = files
      .groupBy(col(fileCol).as("f"))
      .agg((max(col("qx")) - min(col("qx")) + 1).as("sx"),
        (max(col("qy")) - min(col("qy")) + 1).as("sy"))
      .agg(r4(sum(col("sx")) / lit(16.0 * 256)).as("avg_span_x"),
        r4(sum(col("sy")) / lit(16.0 * 256)).as("avg_span_y"))
      .select(lit(layout).as("layout"), col("avg_span_x"),
        col("avg_span_y"))
    spans("zfile", "zorder").union(spans("lfile", "linear"))
      .orderBy("layout")
  }

  val layoutZorderSql: String =
    s"""WITH q AS (
       |  SELECT o_orderkey,
       |    NTILE(256) OVER (ORDER BY o_custkey, o_orderkey) - 1 AS qx,
       |    NTILE(256) OVER (ORDER BY o_totalprice, o_orderkey) - 1 AS qy
       |  FROM orders),
       |z AS (
       |  SELECT *, CAST(list_sum(list_transform(range(0, 8), i ->
       |    (((qx >> CAST(i AS INT)) & 1) << CAST(2 * i AS INT))
       |    + (((qy >> CAST(i AS INT)) & 1) << CAST(2 * i + 1 AS INT))))
       |    AS INT) AS zval
       |  FROM q),
       |files AS (
       |  SELECT qx, qy,
       |    NTILE(16) OVER (ORDER BY zval, o_orderkey) AS zfile,
       |    NTILE(16) OVER (ORDER BY qx, o_orderkey) AS lfile
       |  FROM z),
       |zs AS (
       |  SELECT 'zorder' AS layout,
       |    ${r4Sql("SUM(sx) / (16.0 * 256)")} AS avg_span_x,
       |    ${r4Sql("SUM(sy) / (16.0 * 256)")} AS avg_span_y
       |  FROM (SELECT zfile, MAX(qx) - MIN(qx) + 1 AS sx,
       |        MAX(qy) - MIN(qy) + 1 AS sy FROM files GROUP BY zfile)),
       |ls AS (
       |  SELECT 'linear' AS layout,
       |    ${r4Sql("SUM(sx) / (16.0 * 256)")} AS avg_span_x,
       |    ${r4Sql("SUM(sy) / (16.0 * 256)")} AS avg_span_y
       |  FROM (SELECT lfile, MAX(qx) - MIN(qx) + 1 AS sx,
       |        MAX(qy) - MIN(qy) + 1 AS sy FROM files GROUP BY lfile))
       |SELECT * FROM zs UNION ALL SELECT * FROM ls ORDER BY layout"""
      .stripMargin

  // --------------------------------------------------------------- #291
  /** #291 partition-key advisor: for each candidate partition column of
    * the orders fact (status, priority, order month, order year),
    * the layout profile a catalog maintainer reads before choosing
    * `partitionBy` — partition count, average rows per partition, and
    * the max/avg skew ratio. Too few partitions → no pruning; too many
    * → the small-files explosion `CatalogIO.writeCatalog` guards
    * against; high skew → stragglers on every partitioned write. The
    * advisory read behind the #284 compactor's layout choice.
    *
    * Scale: ONE scan — the four candidate profiles come out of a
    * single GROUPING SETS pass (grouping_id labels the candidate), a
    * second tiny agg folds group rows into per-candidate stats. Never
    * four scans.
    *
    * Exactness: counts are exact; avg and skew are each ONE r4'd
    * division of exact integers.
    */
  def layoutPartitionAdvisor(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
      .select(col("o_orderstatus").as("status"),
        col("o_orderpriority").as("priority"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        date_format(col("o_orderdate"), "yyyy").as("year"))
    val grouped = o
      .groupingSets(
        Seq(Seq(col("status")), Seq(col("priority")), Seq(col("month")),
          Seq(col("year"))),
        col("status"), col("priority"), col("month"), col("year"))
      .agg(count(lit(1)).as("rows"), grouping_id().as("gid"))
    // gid bit = 1 when the column is AGGREGATED AWAY; a single-column
    // grouping set therefore has exactly one zero bit
    val candidate =
      when(col("gid") === 7, "status")      // 0111
        .when(col("gid") === 11, "priority") // 1011
        .when(col("gid") === 13, "month")    // 1101
        .otherwise("year")                   // 1110
    grouped
      .select(candidate.as("candidate"), col("rows"))
      .groupBy("candidate")
      .agg(count(lit(1)).as("n_partitions"),
        sum("rows").as("n_rows"),
        max("rows").as("max_rows"))
      .select(col("candidate"), col("n_partitions"), col("n_rows"),
        col("max_rows"),
        r4(col("n_rows").cast("double") / col("n_partitions"))
          .as("avg_rows"),
        r4(col("max_rows").cast("double") * col("n_partitions") /
          col("n_rows")).as("skew"))
      .orderBy("candidate")
  }

  val layoutPartitionAdvisorSql: String =
    s"""WITH o AS (
       |  SELECT o_orderstatus AS status, o_orderpriority AS priority,
       |    strftime(o_orderdate, '%Y-%m') AS month,
       |    strftime(o_orderdate, '%Y') AS year
       |  FROM orders),
       |g AS (
       |  SELECT CASE WHEN GROUPING(status) = 0 THEN 'status'
       |              WHEN GROUPING(priority) = 0 THEN 'priority'
       |              WHEN GROUPING(month) = 0 THEN 'month'
       |              ELSE 'year' END AS candidate,
       |    CAST(COUNT(*) AS BIGINT) AS rows
       |  FROM o
       |  GROUP BY GROUPING SETS ((status), (priority), (month), (year)))
       |SELECT candidate, CAST(COUNT(*) AS BIGINT) AS n_partitions,
       |  CAST(SUM(rows) AS BIGINT) AS n_rows,
       |  MAX(rows) AS max_rows,
       |  ${r4Sql("CAST(SUM(rows) AS DOUBLE) / COUNT(*)")} AS avg_rows,
       |  ${r4Sql("CAST(MAX(rows) AS DOUBLE) * COUNT(*) / SUM(rows)")}
       |    AS skew
       |FROM g GROUP BY candidate ORDER BY candidate""".stripMargin

  // ------------------------------------------------------ shared layouts
  /** The month-range probes of #292/#320: (month, first day, last day)
    * in epoch days.
    */
  private val probeMonths = Seq(
    ("1993-06", 8552L, 8581L), ("1995-03", 9190L, 9220L),
    ("1997-11", 10166L, 10195L))

  /** [[probeMonths]] as the oracles' `p` CTE. */
  private val probeMonthsSql: String = {
    val v = probeMonths.map { case (m, lo, hi) => s"('$m', $lo, $hi)" }
    s"""p AS (SELECT * FROM (VALUES ${v.head},
       |  ${v.tail.mkString(", ")})
       |  AS t(probe, lo, hi))""".stripMargin
  }

  /** Score [[probeMonths]] against per-file (`min_day`, `max_day`)
    * rows: files per group of `by`, how many a probe must read (its
    * range overlaps the file's), and the skipped share.
    */
  private def monthProbeSkips(spark: SparkSession, files: DataFrame,
      by: String*): DataFrame = {
    import spark.implicits._
    val keys = by.map(col)
    files
      .crossJoin(broadcast(probeMonths.toDF("probe", "lo", "hi")))
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("max_day") >= col("lo") &&
          col("min_day") <= col("hi"), 1L).otherwise(0L)).as("n_read"))
      .select(keys ++ Seq(col("n_files"), col("n_read"),
        r4(lit(1.0) - col("n_read").cast("double") / col("n_files"))
          .as("skip_frac")): _*)
      .orderBy(keys: _*)
  }

  /** Bit-interleave two 6-bit values (`a` into odd bit positions, `b`
    * into even) as a SQL expression string — the Morton/Z-value the
    * #324 layouts cluster by. `shr` abstracts the engines' shift
    * syntax (Spark `shiftright(x, i)`, DuckDB `x >> i`).
    */
  private def zInterleave(a: String, b: String,
      shr: (String, Int) => String): String =
    (0 until 6).map { i =>
      s"((${shr(a, i)} & 1) * ${1L << (2 * i + 1)} + " +
        s"(${shr(b, i)} & 1) * ${1L << (2 * i)})"
    }.mkString("(", " + ", ")")

  /** The shared layout projection: orders with day (epoch days), a
    * 64-bucket customer hash `cb`, the fixed-bound 6-bit day quantile
    * `db`, the Morton value `z` and its 64-directory bucket `zb` —
    * the frame #320-#343 write under competing physical layouts. Day
    * quantization uses FIXED literal bounds (not data-dependent
    * min/max) so both engines derive identical z-values.
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

  /** The oracle side of [[ordersZFrame]]: CTEs `o` (day, cb and, if
    * `month`, the month), `z` (+ db) and `zz` (+ the Morton value zv).
    */
  private def ordersZSql(month: Boolean): String = {
    val shrDuck = (x: String, i: Int) => s"($x >> $i)"
    val monthCol = if (month) ",\n    strftime(o_orderdate, '%Y-%m') AS month"
      else ""
    s"""WITH o AS (
       |  SELECT o_orderkey,
       |    CAST(date_diff('day', DATE '1970-01-01', o_orderdate)
       |      AS BIGINT) AS day,
       |    CAST(o_custkey % 64 AS BIGINT) AS cb$monthCol
       |  FROM orders),
       |z AS (
       |  SELECT *,
       |    least(63, greatest(0, (day - 8000) * 64 // 2000)) AS db
       |  FROM o),
       |zz AS (
       |  SELECT *, ${zInterleave("db", "cb", shrDuck)} AS zv FROM z)"""
      .stripMargin
  }

  /** Write `df` clustered for footer skipping: `part` directories, each
    * hash-routed to one task, rows totally ordered by (`part`, `key`,
    * o_orderkey) inside it — which satisfies the writer's partition
    * sort with no extra sort — and files rolled every `maxRows`
    * records (0: no cap). `opts` are extra parquet writer options.
    */
  private[graft] def writeClustered(df: DataFrame, path: String,
      part: String, key: String, maxRows: Long,
      opts: (String, String)*): Unit =
    df.repartition(col(part))
      .sortWithinPartitions(part, key, "o_orderkey")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRows)
      .options(opts.toMap)
      .partitionBy(part).parquet(path)

  /** The date-clustered 512-row-file layout of [[ordersZFrame]]
    * (month directories, (day, key)-sorted inside) — the #320/#324/
    * #340/#343 "streaming ingest" layout.
    */
  private[graft] def date512Layout(spark: SparkSession,
      dir: String): String =
    LayoutCache.getOrWrite("date512", dir)(
      writeClustered(ordersZFrame(spark, dir), _, "month", "day", 512L))

  /** The Morton/z-ordered 512-row-file layout of [[ordersZFrame]]
    * (`zb` directories, z-sorted inside) — the #324/#331/#332/#340
    * clustered layout.
    */
  private[graft] def z512Layout(spark: SparkSession,
      dir: String): String =
    LayoutCache.getOrWrite("z512", dir)(
      writeClustered(ordersZFrame(spark, dir), _, "zb", "z", 512L))

  /** Per-FILE min/max/count of the `day` column read from REAL parquet
    * footers under `path` (one row per data file; row-group stats are
    * folded per file), tagged with the `month=` partition directory the
    * file sits in.
    */
  def readFooterDayStats(spark: SparkSession, path: String): DataFrame =
    ParquetFiles.readFooterRowGroupStats(spark, path, "day")
      .groupBy("path")
      .agg(min("min_v").as("min_day"), max("max_v").as("max_day"),
        sum("n_rows").as("n_rows"))
      .select(regexp_replace(element_at(split(col("path"), "/"), -2),
          "^month=", "").as("month"),
        col("path"), col("min_day"), col("max_day"), col("n_rows"))

  /** One row per file under `path` with both dimensions' footer
    * min/max (`day`, `cb`), tagged with the layout under audit.
    */
  private[graft] def footerTwoDimStats(spark: SparkSession, path: String,
      layout: String): DataFrame =
    ParquetFiles.readFooterRowGroupStats(spark, path, "day", "cb")
      .groupBy("path")
      .agg(min(when(col("stat_col") === "day", col("min_v")))
          .as("min_day"),
        max(when(col("stat_col") === "day", col("max_v")))
          .as("max_day"),
        min(when(col("stat_col") === "cb", col("min_v"))).as("min_cb"),
        max(when(col("stat_col") === "cb", col("max_v"))).as("max_cb"))
      .withColumn("layout", lit(layout))

  /** The #324 probes, (name, day lo, day hi, cb lo, cb hi): day range
    * only, customer bucket only, combined. Sentinel bounds make "no
    * constraint" explicit per dimension.
    */
  private val layoutProbes = Seq(
    ("day_1995-03", 9190L, 9220L, 0L, 63L),
    ("cust_bucket_7", 0L, 1000000L, 7L, 7L),
    ("combined", 9190L, 9220L, 7L, 7L))

  /** Score [[layoutProbes]] against [[footerTwoDimStats]] rows: files
    * per layout, files each probe must read, and the skipped share.
    */
  private def layoutProbeSkips(spark: SparkSession,
      stats: DataFrame): DataFrame = {
    import spark.implicits._
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

  /** The oracle side of [[layoutProbeSkips]]: the `p` CTE and the
    * scoring SELECT over a per-file CTE `f`.
    */
  private val layoutProbeSkipsSql: String = {
    val v = layoutProbes.map { case (p, dLo, dHi, cLo, cHi) =>
      s"  ('$p', $dLo, $dHi, $cLo, $cHi)" }
    s"""p AS (SELECT * FROM (VALUES
       |${v.mkString(",\n")})
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

  /** The oracle's closed form of the date512 and z512 trees: CTE `f`
    * holds one row per file (layout, directory, file id, day and cb
    * min/max), cut per directory at 512 sorted-rank rows.
    */
  private val dateAndZFilesSql: String =
    s"""${ordersZSql(month = true)},
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
       |  FROM rz GROUP BY 2, 3)""".stripMargin

  /** Read only `files` of the layout tree at `root`, keeping its
    * partition columns (`basePath`). With no survivors the result is an
    * empty frame of `schema`: a zero-path parquet read cannot infer one.
    */
  private def readSurvivors(spark: SparkSession, root: String,
      files: Seq[String], schema: => StructType): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.option("basePath", root).parquet(files: _*)

  // --------------------------------------------------------------- #292
  /** #292 file-skipping audit: how many simulated 512-row files would a
    * month-predicate scan actually skip, under the insertion-order
    * layout (files cut by o_orderkey) vs the date-clustered layout
    * (files cut by o_orderdate)? Each file's min/max order-day is the
    * footer statistic parquet row groups carry; a file is READ iff its
    * [min, max] overlaps the probe month. The measured argument for
    * #108's clustering (and this compactor's sort choice): same data,
    * same predicate — the clustered layout skips nearly everything,
    * the insertion layout nearly nothing.
    *
    * Scale: simulating a layout is a total-order rank — inherent (the
    * audit IS about physical order) and run offline per layout like
    * #108; the PRODUCTION audit is #320 [[layoutFooterAudit]], which
    * writes the clustered layout partition-parallel (no global sort)
    * and reads REAL parquet row-group footer min/max. This simulated
    * variant remains for the two-layout what-if comparison (insertion
    * vs clustered) that needs no physical write. The probe join is
    * |files| × 3 literal months, broadcast.
    */
  def layoutSkippingAudit(spark: SparkSession, dir: String): DataFrame = {
    val fileRows = 512
    val o = Tables(spark, dir, "orders")
      .select(col("o_orderkey"),
        datediff(col("o_orderdate"), lit("1970-01-01")).cast("long")
          .as("day"))
    def files(layout: String, ord: Seq[org.apache.spark.sql.Column]) =
      o.withColumn("rn", row_number().over(Window.orderBy(ord: _*)))
        .withColumn("fid", expr(s"(rn - 1) div $fileRows"))
        .groupBy("fid")
        .agg(min("day").as("min_day"), max("day").as("max_day"))
        .withColumn("layout", lit(layout))
    val byKey = files("insertion", Seq(col("o_orderkey")))
    val byDate = files("date_clustered", Seq(col("day"), col("o_orderkey")))
    monthProbeSkips(spark, byKey.unionByName(byDate), "layout", "probe")
  }

  val layoutSkippingAuditSql: String =
    s"""WITH o AS (
       |  SELECT o_orderkey,
       |    CAST(date_diff('day', DATE '1970-01-01', o_orderdate)
       |      AS BIGINT) AS day
       |  FROM orders),
       |byk AS (
       |  SELECT 'insertion' AS layout,
       |    CAST(ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS BIGINT)
       |      // 512 AS fid, day
       |  FROM o),
       |byd AS (
       |  SELECT 'date_clustered' AS layout,
       |    CAST(ROW_NUMBER() OVER (ORDER BY day, o_orderkey) - 1 AS BIGINT)
       |      // 512 AS fid, day
       |  FROM o),
       |f AS (
       |  SELECT layout, fid, MIN(day) AS min_day, MAX(day) AS max_day
       |  FROM (SELECT * FROM byk UNION ALL SELECT * FROM byd)
       |  GROUP BY 1, 2),
       |$probeMonthsSql
       |SELECT layout, probe, CAST(COUNT(*) AS BIGINT) AS n_files,
       |  CAST(COUNT(*) FILTER (WHERE max_day >= lo AND min_day <= hi)
       |    AS BIGINT) AS n_read,
       |  ${r4Sql("1.0 - CAST(COUNT(*) FILTER (WHERE max_day >= lo " +
                  "AND min_day <= hi) AS DOUBLE) / COUNT(*)")} AS skip_frac
       |FROM f CROSS JOIN p
       |GROUP BY layout, probe ORDER BY layout, probe""".stripMargin

  // --------------------------------------------------------------- #320
  /** #320 REAL-footer-stats skipping audit — the production-true form
    * of #292: the date-clustered layout ([[date512Layout]]: orders
    * directory-partitioned by month, rows sorted by (day, key) inside
    * each partition, files capped at 512 records) is physically
    * written, then the actual parquet row-group footer statistics are
    * read off the committed files to measure how many files a
    * month-predicate scan skips. No simulation: the min/max per file
    * comes from the footers — the bytes a real scan planner (Spark's
    * parquet reader, Delta/Iceberg data-skipping) consults.
    *
    * Simulated == real, PROVEN by the oracle: the write is
    * deterministic (see [[writeClustered]]), so file f of a month
    * holds sorted-rank rows [512f, 512f+511] and the footer min/max
    * equals the rank-chunk min/max. The DuckDB oracle recomputes that
    * closed form (per-month rank div 512); a green hash therefore
    * proves the REAL footers match the simulation bit-for-bit —
    * retiring #292's declared global-sort device: this layout write
    * is partition-parallel (one task per month), not one global rank.
    *
    * Scale: the write shuffles once on the partition column. Footer
    * reads are metadata-plane — ~8 bytes of stats per column chunk,
    * read DISTRIBUTED over the file list (a 100 TB table has millions
    * of files; the stats frame is file-count-sized, never row-sized).
    * The probe join is |files| × 3 literal months, broadcast.
    */
  def layoutFooterAudit(spark: SparkSession, dir: String): DataFrame =
    // the extra clustering columns the shared frame carries don't
    // appear in the day stats
    monthProbeSkips(spark,
      readFooterDayStats(spark, date512Layout(spark, dir)), "probe")

  val layoutFooterAuditSql: String =
    s"""WITH o AS (
       |  SELECT o_orderkey,
       |    CAST(date_diff('day', DATE '1970-01-01', o_orderdate)
       |      AS BIGINT) AS day,
       |    strftime(o_orderdate, '%Y-%m') AS month
       |  FROM orders),
       |r AS (
       |  SELECT month, day,
       |    CAST((ROW_NUMBER() OVER (PARTITION BY month
       |      ORDER BY day, o_orderkey) - 1) // 512 AS BIGINT) AS fid
       |  FROM o),
       |f AS (
       |  SELECT month, fid, MIN(day) AS min_day, MAX(day) AS max_day
       |  FROM r GROUP BY 1, 2),
       |$probeMonthsSql
       |SELECT probe, CAST(COUNT(*) AS BIGINT) AS n_files,
       |  CAST(COUNT(*) FILTER (WHERE max_day >= lo AND min_day <= hi)
       |    AS BIGINT) AS n_read,
       |  ${r4Sql("1.0 - CAST(COUNT(*) FILTER (WHERE max_day >= lo " +
                  "AND min_day <= hi) AS DOUBLE) / COUNT(*)")} AS skip_frac
       |FROM f CROSS JOIN p
       |GROUP BY probe ORDER BY probe""".stripMargin

  // --------------------------------------------------------------- #324
  /** #324 Z-ORDER skipping audit with REAL footers — the measured
    * argument for multi-dimension clustering (#108 computes z-values;
    * this PROVES what they buy): the same orders projection is
    * physically written under TWO layouts — date-clustered
    * ([[date512Layout]]) and Z-ORDERED ([[z512Layout]]: Morton-
    * interleaved 6-bit day-quantile × 6-bit customer-bucket, top-6-bits
    * directories, z-sorted) — and the ACTUAL parquet footer min/max of
    * BOTH dimensions is read off every file to measure what a day-range
    * probe, a customer-bucket probe, and the combined probe each skip.
    * The date layout skips on day and reads ~everything for the
    * customer probe; z-order skips on BOTH (each file spans ~1/64 of
    * either dimension's range) — the reason warehouse OPTIMIZE orders
    * multi-predicate tables by z-value instead of a single sort key.
    *
    * Scale: two partition-parallel writes (one shuffle each), footer
    * reads distributed and metadata-plane; the audit output is
    * 6 rows.
    */
  def layoutZorderFooter(spark: SparkSession, dir: String): DataFrame =
    layoutProbeSkips(spark,
      footerTwoDimStats(spark, date512Layout(spark, dir), "date_clustered")
        .unionByName(
          footerTwoDimStats(spark, z512Layout(spark, dir), "zorder")))

  val layoutZorderFooterSql: String =
    s"""$dateAndZFilesSql,
       |$layoutProbeSkipsSql""".stripMargin

  // --------------------------------------------------------------- #332
  /** Unrolled Hilbert xy2d (Wikipedia's iterative form, s-1
    * reflection variant) for the 64×64 (db, cb) grid: six
    * (quadrant, d, rotate/reflect) steps, each a (column, SQL text)
    * pair using only `&`, `*`, `+`, `-` and CASE — so the SAME text
    * runs verbatim on Spark (withColumn chain) and DuckDB (lateral
    * column aliases). The quadrant value (3·rx)⊕ry is enumerated as a
    * CASE instead of XOR (DuckDB's `^` is power; its xor() is a
    * function — CASE sidesteps the engine split). A spec proves the
    * curve property directly: bijection over 0..4095 and
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

  /** #332 Hilbert vs Morton, measured off REAL footers — the classic
    * warehouse follow-up to #324: at the SAME bit budget (6+6 bits,
    * 64 directories, 512-row files), the Hilbert curve's unit-step
    * continuity keeps each file's (day, cb) footprint tighter than
    * Morton's quadrant jumps, so range probes should skip at least as
    * many files. The Morton side is the shared [[z512Layout]]; the
    * Hilbert layout is written the same way (`hb` directories,
    * Hilbert-index sorted), and the same three #324 probes are
    * scored — 6 rows. The oracle recomputes both layouts' per-file
    * min/max from the rank-cut closed form.
    */
  def layoutHilbertFooter(spark: SparkSession, dir: String): DataFrame = {
    val tmpH = LayoutCache.getOrWrite("hilbh512", dir) { tmp =>
      val (steps, dFinal) = hilbertSteps("db", "cb")
      val o = steps.foldLeft(ordersZFrame(spark, dir)) {
          case (df, (c, e)) => df.withColumn(c, expr(e))
        }
        .withColumn("hd", col(dFinal).cast("long"))
        .withColumn("hb", expr("hd div 64"))
        .select("o_orderkey", "day", "cb", "z", "zb", "hd", "hb")
      writeClustered(o, tmp, "hb", "hd", 512L)
    }
    layoutProbeSkips(spark,
      footerTwoDimStats(spark, z512Layout(spark, dir), "zorder")
        .unionByName(footerTwoDimStats(spark, tmpH, "hilbert")))
  }

  val layoutHilbertFooterSql: String = {
    val (steps, dFinal) = hilbertSteps("db", "cb")
    val lateral = steps.map { case (c, e) => s"$e AS $c" }
      .mkString(",\n    ")
    s"""${ordersZSql(month = false)},
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
       |$layoutProbeSkipsSql""".stripMargin
  }

  // --------------------------------------------------------------- #331
  /** #331 the pruned-scan EXECUTOR: #320/#324 measure what footer
    * stats COULD skip; this operator actually skips — it consults the
    * REAL footers of the z-order layout, drops every file whose
    * [min,max] on either dimension excludes the combined probe,
    * physically reads ONLY the survivors (plus the row-level residual
    * filter — footer pruning is file-granular), and returns the
    * probe's aggregate WITH the file accounting. The DuckDB oracle
    * computes the same aggregate over the FULL table (pruning must be
    * invisible to results — that's the identity being hash-checked)
    * and the file counts from the rank-cut closed form. An empty table
    * writes no files: the accounting row reads zero files, zero rows
    * and a null `skip_frac`.
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
    }.map(_.getAs[String]("path")).toSeq
    readSurvivors(spark, tmpZ, survivors, ordersZFrame(spark, dir).schema)
      .where(col("day").between(dLo, dHi) && col("cb") === cV)
      .agg(count(lit(1)).as("n_rows"),
        sum("o_orderkey").cast("long").as("sum_orderkey"),
        min("day").as("min_day_read"), max("day").as("max_day_read"))
      .withColumn("files_total", lit(stats.length.toLong))
      .withColumn("files_read", lit(survivors.length.toLong))
      .select(col("files_total"), col("files_read"),
        // null, not a division by zero, when no file was written
        r4(lit(1.0) - col("files_read").cast("double")
          / nullif(col("files_total"), lit(0L))).as("skip_frac"),
        col("n_rows"), col("sum_orderkey"),
        col("min_day_read"), col("max_day_read"))
  }

  val layoutPrunedScanSql: String =
    s"""${ordersZSql(month = false)},
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
    * rest without page I/O — [[readSelectedRowGroups]]), with the
    * row-level residual filter on top.
    *
    * Oracle device: row-group BOUNDARIES are writer-memory-estimated
    * (not closed-form), so — unlike the file-level #331 — boundary-
    * dependent counts stay OUT of the hashed result: the emitted row
    * is the probe aggregate (which pruning must not change — that
    * identity is what the hash compare proves) plus the file count
    * (one file per year by construction). The row-group accounting
    * (groups skipped inside kept files, rows never decoded) is
    * pinned by a spec against the same footers.
    *
    * Scale: at 100 TB a clustering-unit file is many GB; file-level
    * pruning alone still reads the whole file for a one-week probe —
    * the row-group cut is what turns that into ~week/year of the
    * bytes.
    */
  def layoutRowgroupScan(spark: SparkSession, dir: String): DataFrame = {
    val (dLo, dHi) = (9190L, 9196L)
    val tmp = writeRowGroupDateLayout(spark, dir)
    val rg = ParquetFiles.readFooterRowGroupStats(spark, tmp, "day")
      .collect()
    val survivors = rg.toSeq
      .filter(r => r.getAs[Long]("max_v") >= dLo &&
        r.getAs[Long]("min_v") <= dHi)
      .groupBy(_.getAs[String]("path"))
      .map { case (p, rows) => (p, rows.map(_.getAs[Int]("rg_idx")).sorted) }
      .toSeq
    val nFiles = rg.map(_.getAs[String]("path")).distinct.length.toLong
    readSelectedRowGroups(spark, survivors)
      .where(col("day").between(dLo, dHi))
      .agg(count(lit(1)).as("n_rows"),
        sum("o_orderkey").cast("long").as("sum_orderkey"),
        min("day").as("min_day_read"), max("day").as("max_day_read"))
      .withColumn("files_total", lit(nFiles))
      .select(col("files_total"), col("n_rows"), col("sum_orderkey"),
        col("min_day_read"), col("max_day_read"))
  }

  /** Write the date-clustered orders layout with multi-row-group
    * files: one file per YEAR (the year's rows hash to one task, no
    * record cap — months are too small at bench sf to outgrow even a
    * small row group), rows (day, key)-sorted inside it, and a 1 KiB
    * `parquet.block.size` so the writer rolls a row group every ~100
    * records (the writer's minimum memory-check interval) — the
    * sub-file structure #337 prunes against.
    */
  private[graft] def writeRowGroupDateLayout(spark: SparkSession,
      dir: String): String =
    LayoutCache.getOrWrite("rg1k", dir)(writeClustered(
      ordersZFrame(spark, dir)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("day"), substring(col("month"), 1, 4).as("year")),
      _, "year", "day", 0L, "parquet.block.size" -> "1024"))

  /** Physically read ONLY the named row groups of each file —
    * the data plane of the #337 row-group-pruned scan. Non-surviving
    * row groups are passed over with `skipNextRowGroup()` (footer-only
    * seek, no page I/O); surviving ones decode through the parquet
    * record-assembly stack. Emits the two scan columns of the layout
    * frame. Distributed: each (file, row-group set) pair is one unit
    * of executor work, exactly like a native scan's file splits.
    */
  private[graft] def readSelectedRowGroups(spark: SparkSession,
      survivors: Seq[(String, Seq[Int])]): DataFrame = {
    import spark.implicits._
    ParquetFiles.readEach(spark, survivors)(_._1) {
      case ((_, idxs), reader) =>
        val want = idxs.toSet
        val schema = reader.getFooter.getFileMetaData.getSchema
        val nBlocks = reader.getFooter.getBlocks.size
        val colIO = new org.apache.parquet.io.ColumnIOFactory()
          .getColumnIO(schema)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        var i = 0
        while (i < nBlocks) {
          if (want(i)) {
            val pages = reader.readNextRowGroup()
            val rr = colIO.getRecordReader(pages,
              new org.apache.parquet.example.data.simple.convert
                .GroupRecordConverter(schema))
            var r = 0L
            while (r < pages.getRowCount) {
              val g = rr.read()
              out += ((g.getLong("o_orderkey", 0), g.getLong("day", 0)))
              r += 1
            }
          } else reader.skipNextRowGroup()
          i += 1
        }
        out.toSeq
    }.toDF("o_orderkey", "day")
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
    * Both layouts are the shared #324 trees, so the DuckDB oracle
    * recomputes every file's ranges from the rank-cut closed form and
    * runs the same sweep — a green hash proves real footers ==
    * simulation THROUGH the depth algebra.
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

  val layoutOverlapDepthSql: String =
    s"""$dateAndZFilesSql,
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
    val tmpS = date512Layout(spark, dir)
    // explicit schema: a zero-row upstream writes zero files and
    // schema INFERENCE would throw — the compactor must no-op instead
    val tmpC = LayoutCache.getOrWrite("date4096", dir)(writeClustered(
      spark.read.schema(ordersZFrame(spark, dir).schema).parquet(tmpS),
      _, "month", "day", 4096L))
    val before = readFooterDayStats(spark, tmpS).groupBy("month")
      .agg(count(lit(1)).as("files_before"), sum("n_rows").as("n_rows"))
    val after = readFooterDayStats(spark, tmpC).groupBy("month")
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

  /** The frame of the #347 layout: orders keyed by day and month,
    * carrying raw o_custkey.
    */
  private def ordersBloomFrame(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate"), lit("1970-01-01")).cast("long")
          .as("day"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))

  /** The #347 layout: the #343 date-clustered 512-cap month layout
    * of [[ordersBloomFrame]], written with parquet BLOOM FILTERS
    * enabled on o_custkey (NDV-sized to the customer count).
    */
  private[graft] def writeBloomDateLayout(spark: SparkSession,
      dir: String): String =
    LayoutCache.getOrWrite("bloom512", dir) { tmp =>
      // size the bloom NDV from the ACTUAL customer count (parquet
      // footer metadata — no scan), not a fixed literal: an undersized
      // bloom keeps its no-false-negative contract but its FP rate —
      // and with it the measured skipping — degrades silently at
      // larger sf. Floor keeps tiny sf blooms sane.
      val ndv = math.max(1024L,
        Tables.parquetRowCount(spark, dir, "customer"))
      writeClustered(ordersBloomFrame(spark, dir), tmp, "month", "day", 512L,
        "parquet.bloom.filter.enabled#o_custkey" -> "true",
        "parquet.bloom.filter.expected.ndv#o_custkey" -> ndv.toString,
        // parquet-mr SKIPS the bloom when a chunk stays fully
        // dictionary-encoded (the dictionary is already an exact
        // membership index). At bench sf the 150-1500-key dictionary
        // never overflows, so force the production high-cardinality
        // regime (dict fallback) on the probe column to get real blooms
        "parquet.enable.dictionary#o_custkey" -> "false")
    }

  /** #347 BLOOM-FILTER pruned point lookup — the third skipping index,
    * completing the trilogy: zone maps (#320/#331) answer RANGE probes
    * on the clustered dimension, multi-dimension clustering (#324/
    * #332) buys a second dimension, but a POINT lookup on a
    * high-cardinality UNCLUSTERED column defeats both — in the
    * date-clustered layout every 512-row file spans nearly the full
    * custkey range, so [min,max] prunes essentially nothing. Parquet's
    * per-row-group bloom filters are the production answer (the same
    * trade Delta/Iceberg expose): this operator writes the #343 date
    * layout WITH blooms on o_custkey, consults the REAL serialized
    * blooms off every footer ([[graft.ParquetFiles.readFooterBloomAudit]]),
    * reads ONLY files whose bloom admits one of the 3 rarest probe
    * custkeys, and emits the per-key lookup result PLUS the zone-map
    * accounting.
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
    * file is exactly the motivation for blooms). A spec pins the
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
    val audit = ParquetFiles.readFooterBloomAudit(spark, tmp, "o_custkey", keys)
      .localCheckpoint()
    val survivors = audit.where(col("bloom_hit"))
      .select("path").distinct()
      .collect().map(_.getString(0)).toSeq
    val filesTotal = audit.select("path").distinct().count()
    val zm = audit.groupBy("k")
      .agg(sum(when(col("zm_hit"), 1L).otherwise(0L))
        .as("zm_files_read"))
    readSurvivors(spark, tmp, survivors, ordersBloomFrame(spark, dir).schema)
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
    LayoutCache.getOrWrite("schemaevo", dir) { tmp =>
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
    * A spec pins the physical truth: epoch-1 footers genuinely
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
    if (ParquetFiles.list(spark, tmp).isEmpty) {
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        new StructType()
          .add("epoch", "long").add("n_rows", "long")
          .add("price_nulls", "long").add("sum_price_cents", "long")
          .add("price_null_frac", "double"))
    }
    spark.read.option("mergeSchema", "true").parquet(tmp)
      .groupBy(col("epoch").cast("long").as("epoch"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("price_cents").isNull, 1L).otherwise(0L))
          .as("price_nulls"),
        sum("price_cents").as("sum_price_cents"))
      .select(col("epoch"), col("n_rows"), col("price_nulls"),
        col("sum_price_cents"),
        r4(col("price_nulls").cast("double") /
          col("n_rows").cast("double")).as("price_null_frac"))
      .orderBy("epoch")
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
    "layout_zorder" -> (layoutZorder _),
    "layout_partition_advisor" -> (layoutPartitionAdvisor _),
    "layout_skipping_audit" -> (layoutSkippingAudit _),
    "layout_footer_audit" -> (layoutFooterAudit _),
    "layout_zorder_footer" -> (layoutZorderFooter _),
    "layout_hilbert_footer" -> (layoutHilbertFooter _),
    "layout_pruned_scan" -> (layoutPrunedScan _),
    "layout_rowgroup_scan" -> (layoutRowgroupScan _),
    "layout_overlap_depth" -> (layoutOverlapDepth _),
    "layout_compact_files" -> (layoutCompactFiles _),
    "layout_bloom_scan" -> (layoutBloomScan _),
    "layout_schema_evolution" -> (layoutSchemaEvolution _))

  val oracles: Map[String, String] = Map(
    "layout_zorder" -> layoutZorderSql,
    "layout_partition_advisor" -> layoutPartitionAdvisorSql,
    "layout_skipping_audit" -> layoutSkippingAuditSql,
    "layout_footer_audit" -> layoutFooterAuditSql,
    "layout_zorder_footer" -> layoutZorderFooterSql,
    "layout_hilbert_footer" -> layoutHilbertFooterSql,
    "layout_pruned_scan" -> layoutPrunedScanSql,
    "layout_rowgroup_scan" -> layoutRowgroupScanSql,
    "layout_overlap_depth" -> layoutOverlapDepthSql,
    "layout_compact_files" -> layoutCompactFilesSql,
    "layout_bloom_scan" -> layoutBloomScanSql,
    "layout_schema_evolution" -> layoutSchemaEvolutionSql)
}
