package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal binary-column plumbing (SURVEY.md §2 #39).
  *
  * Models how a 100 TB training-data pipeline carries image/audio/video:
  * an opaque `binary` payload column plus typed metadata extracted by a
  * batched per-partition decode. Most decodes are DECLARED STUBS — a
  * deterministic fake standing in for a codec (no media libs in this
  * environment) — but everything Spark-level is real: the binary
  * schema, the typed `Dataset` hop, partition-batched iteration
  * (`mapPartitions`, the Scala analogue of `mapInPandas` batches), and
  * the metadata schema the downstream pipeline would consume. One leg
  * (#285 `mm_image_resize`) runs a REAL codec — JDK ImageIO over
  * planted deterministic BMPs — with its oracle pinning the decoded
  * pixels to the closed-form pixel function; #290 `mm_image_phash`
  * hashes those real decoded pixels.
  *
  * Scale: the payload never shuffles — decode is map-side narrow on the
  * scan partitions; only the (tiny) typed metadata flows onward.
  */
object Multimodal {

  // ImageIO defaults to DISK-cached image streams — a temp file under
  // java.io.tmpdir per read/write call, even for in-memory byte-array
  // payloads like every planted codec leg here. That temp-file churn
  // is pure overhead AND couples codec throughput to the machine's
  // page-cache state (measured: the whole ImageIO family drifting
  // 3-6× between idle sweeps). Memory-cached streams are strictly
  // better for our small in-memory images; set once per JVM at class
  // load (executors initialize this object when the decode lambdas
  // deserialize, so the setting reaches every JVM on a real cluster).
  javax.imageio.ImageIO.setUseCache(false)

  // Per-thread BMP codec instances (r12 verdict item 4 — the mm family
  // inverted c8/c32 scaling in the degraded r12 32-core run, and the
  // convenience entry points are the only per-row JDK machinery left):
  // ImageIO.read/ImageIO.write run a registry scan (getImageReaders /
  // getImageWritersByFormatName) and allocate a fresh reader/writer +
  // stream wrapper PER CALL. One reader/writer per task thread, reused
  // across rows, removes that churn. The instances come from the same
  // SPI the convenience path selects (the JDK ships exactly one BMP
  // plugin), setInput/setOutput resets all per-image state, and the
  // read(0)/write(img) calls are the ones ImageIO.read/write make —
  // decoded pixels and encoded bytes are bit-identical
  // (ImageCodecSpec pins both against the convenience path).
  private val bmpReaderTl =
    ThreadLocal.withInitial[javax.imageio.ImageReader](() =>
      javax.imageio.ImageIO.getImageReadersByFormatName("bmp").next())
  private val bmpWriterTl =
    ThreadLocal.withInitial[javax.imageio.ImageWriter](() =>
      javax.imageio.ImageIO.getImageWritersByFormatName("bmp").next())

  /** Decode a BMP byte payload with this thread's reused reader —
    * drop-in for `ImageIO.read(new ByteArrayInputStream(bytes))`. */
  def decodeBmp(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    val reader = bmpReaderTl.get()
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      reader.setInput(iis, true, true)
      reader.read(0)
    } finally {
      reader.setInput(null)
      iis.close()
    }
  }

  /** Encode an image to BMP bytes with this thread's reused writer —
    * drop-in for `ImageIO.write(img, "bmp", byteArrayOutputStream)`. */
  def encodeBmp(img: java.awt.image.BufferedImage): Array[Byte] = {
    val writer = bmpWriterTl.get()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(img)
      ios.flush()
    } finally {
      writer.setOutput(null)
      ios.close()
    }
    bos.toByteArray
  }

  /** One "media file": opaque bytes + the id. */
  final case class BinaryDoc(doc_id: Long, payload: Array[Byte])

  /** Typed metadata the (stub) decoder emits. */
  final case class MediaMeta(
      doc_id: Long, format: String, n_bytes: Long,
      width: Long, height: Long)

  /** STUB CODEC — deterministic fake. A real deployment decodes the
    * payload header (PNG/JPEG/WAV...) here; this fake derives plausible
    * fields from bytes so the full pipeline shape is testable:
    * format from doc_id, dimensions from first/last payload byte.
    */
  private def fakeDecode(d: BinaryDoc): MediaMeta = {
    val first = java.lang.Byte.toUnsignedLong(d.payload(0))
    val last = java.lang.Byte.toUnsignedLong(d.payload(d.payload.length - 1))
    MediaMeta(
      doc_id = d.doc_id,
      format = Seq("png", "jpg", "wav")((d.doc_id % 3).toInt),
      n_bytes = d.payload.length.toLong,
      width = 16L * (1L + first % 32L),
      height = 16L * (1L + last % 32L))
  }

  /** #39 binary-column pipeline: synthesize payloads from `documents`
    * (UTF-8 bytes stand in for media bytes), decode per-partition in
    * batches, aggregate typed metadata per format.
    */
  def mmBinaryMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bin = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[BinaryDoc]
    // partition-batched decode: one iterator per partition, no per-row
    // task overhead — the mapInPandas batch shape in Dataset form.
    val meta = bin.mapPartitions(_.map(fakeDecode))
    meta.toDF()
      .groupBy("format")
      .agg(count(lit(1)).as("n_media"),
        sum("n_bytes").as("total_bytes"),
        min("width").as("min_w"), max("width").as("max_w"),
        min("height").as("min_h"), max("height").as("max_h"))
      .orderBy("format")
  }

  /** The stub decode is plain byte arithmetic, so the oracle can mirror
    * it in SQL (ascii of first/last char == first/last UTF-8 byte for
    * this ASCII corpus).
    */
  val mmBinaryMetaSql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    ['png','jpg','wav'][CAST(doc_id % 3 AS INT) + 1] AS format,
      |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
      |    16 * (1 + ascii(substr(text, 1, 1)) % 32) AS width,
      |    16 * (1 + ascii(substr(text, length(text), 1)) % 32) AS height
      |  FROM documents)
      |SELECT format, COUNT(*) AS n_media,
      |  CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
      |  MIN(width) AS min_w, MAX(width) AS max_w,
      |  MIN(height) AS min_h, MAX(height) AS max_h
      |FROM m GROUP BY format ORDER BY format""".stripMargin


  /** #50 feature extraction — EIGHTH real-codec leg (pixels-true
    * since round 19, retiring the byte-stub featurizer): each asset's
    * planted BMP (`plantedBmp`, the #285 device) is decoded with JDK
    * `ImageIO` and featurized over its TRUE pixels — mean pixel,
    * high-pixel fraction, and the pixel-value histogram collision
    * probability Σ(c_v/n)² (the entropy proxy that stays in rational
    * arithmetic — no log, so the oracle reproduces it bit-for-bit
    * from the closed-form pixel function). These are the cheap
    * screening features a curation pass computes before any learned
    * embedding: brightness, contrast class, and degenerate-image
    * detection (a constant image has collision_prob 1).
    *
    * Exactness: sums/counts/collision numerators are exact integers;
    * each emitted double is ONE r4'd division. Scale: map-side narrow
    * in mapPartitions, per-doc work bounded by the 128×128 dim cap;
    * only the 7-column summary leaves the partition.
    */
  def mmFeatureExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.Exprs.r4
    val ids = graft.Tables.spread(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
    ids.mapPartitions(_.map { id =>
      val img = decodeBmp(plantedBmp(id))
      val w = img.getWidth
      val h = img.getHeight
      val px = img.getRaster.getSamples(0, 0, w, h, 0,
        new Array[Int](w * h))
      val n = (w * h).toLong
      val hist = new Array[Long](256)
      var sum = 0L
      var high = 0L
      var i = 0
      while (i < px.length) {
        val v = px(i)
        hist(v) += 1
        sum += v
        if (v >= 128) high += 1
        i += 1
      }
      var collNum = 0L
      var k = 0
      while (k < 256) { collNum += hist(k) * hist(k); k += 1 }
      (id, w.toLong, h.toLong, n, sum.toDouble / n, high.toDouble / n,
        collNum.toDouble / (n * n))
    }).toDF("doc_id", "width", "height", "n_px", "mean_px", "frac_high",
      "collision_prob")
      .select(col("doc_id"), col("width"), col("height"), col("n_px"),
        r4(col("mean_px")).as("mean_px"),
        r4(col("frac_high")).as("frac_high"),
        r4(col("collision_prob")).as("collision_prob"))
      .orderBy("doc_id")
  }

  /** Oracle evaluates the closed-form pixel function — never parses a
    * byte (the #285 proof shape): a green hash proves the decode path
    * featurized the TRUE pixels.
    */
  val mmFeatureExtractSql: String = {
    import graft.Exprs.r4Sql
    s"""WITH d AS (
       |  SELECT doc_id,
       |    16 * (1 + (doc_id * 7 + 3) % 8) AS w,
       |    16 * (1 + (doc_id * 5 + 1) % 8) AS h
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, w, h, w * h AS n,
       |    list_transform(range(0, w * h),
       |      i -> (3 * (i % w) + 5 * (i // w) + doc_id) % 256) AS px
       |  FROM d),
       |f AS (
       |  SELECT doc_id, w, h, n,
       |    CAST(list_sum(px) AS DOUBLE) / n AS mean_px,
       |    CAST(len(list_filter(px, x -> x >= 128)) AS DOUBLE) / n
       |      AS frac_high,
       |    CAST(list_sum(list_transform(list_distinct(px),
       |      v -> len(list_filter(px, x -> x = v))
       |        * len(list_filter(px, x -> x = v)))) AS DOUBLE)
       |      / (CAST(n AS BIGINT) * n) AS collision_prob
       |  FROM b)
       |SELECT doc_id, CAST(w AS BIGINT) AS width,
       |  CAST(h AS BIGINT) AS height, CAST(n AS BIGINT) AS n_px,
       |  ${r4Sql("mean_px")} AS mean_px,
       |  ${r4Sql("frac_high")} AS frac_high,
       |  ${r4Sql("collision_prob")} AS collision_prob
       |FROM f ORDER BY doc_id""".stripMargin
  }

  /** #51 keyframe sampling — NINTH real-codec leg (pixels-true since
    * round 19, retiring the every-4th-byte-chunk stub): sample one
    * KEYFRAME PER SHOT, which is the access pattern the #267
    * doc-comment promised ("sample per SHOT, not per fixed stride" —
    * a fixed stride over a long static shot wastes decode budget and
    * can miss a short shot entirely). Each asset's planted video
    * (`plantedFrameBmp`) is decoded frame-by-frame with `ImageIO`;
    * shot starts are DETECTED (frame 0, or block-phash hamming > 16
    * against the previous frame — the #267 detector, not the planted
    * truth), and the first frame of every shot is emitted with its
    * true-pixel checksum (Σ pixels mod 65536 — the decode proof).
    *
    * Oracle: recomputes phash bits, hammings, shot segmentation and
    * pixel checksums from the closed-form pixel function — a green
    * hash proves the per-frame decode→detect→sample path pixels-true
    * end to end.
    *
    * Scale: everything runs map-side inside one mapPartitions pass
    * (decode, phash, hamming chain, shot walk); payload bytes never
    * shuffle — only (doc_id, shot_idx, frame_idx, checksum) rows do.
    */
  def mmFrameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = graft.Tables.spread(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
    ids.mapPartitions(_.flatMap { id =>
      val nf = plantedFrameCount(id)
      var prevSig = 0L
      var shot = -1L
      (0 until nf).iterator.flatMap { f =>
        val img = decodeBmp(plantedFrameBmp(id, f))
        val px = img.getRaster.getSamples(0, 0, 32, 32,
          0, new Array[Int](32 * 32))
        val sums = new Array[Long](64)
        var total = 0L
        var i = 0
        while (i < 1024) {
          val v = px(i).toLong
          sums(((i / 32) / 4) * 8 + (i % 32) / 4) += v
          total += v
          i += 1
        }
        var sig = 0L
        var b = 0
        while (b < 64) {
          if (sums(b) * 64 > total) sig |= 1L << b
          b += 1
        }
        val isStart =
          f == 0 || java.lang.Long.bitCount(sig ^ prevSig) > 16
        prevSig = sig
        if (isStart) {
          shot += 1
          Some((id, shot, f.toLong, total % 65536L))
        } else None
      }
    }).toDF("doc_id", "shot_idx", "frame_idx", "checksum")
      .orderBy("doc_id", "shot_idx")
  }

  /** Oracle mirrors the #267 phash/hamming closed form, segments
    * shots by the detected cuts, and checksums the keyframes' true
    * pixels — never parsing a byte.
    */
  val mmFrameSampleSql: String =
    """WITH d AS (
      |  SELECT doc_id, 4 + (3 * doc_id + 1) % 5 AS nf FROM documents),
      |fr AS (SELECT doc_id, unnest(range(0, nf)) AS fi FROM d),
      |sh AS (
      |  SELECT doc_id, fi, fi + 127 * COALESCE(list_sum(
      |    list_transform(range(1, fi + 1),
      |      g -> CASE WHEN (doc_id + g) % 3 = 0 THEN 1 ELSE 0 END)), 0)
      |    AS s
      |  FROM fr),
      |pv AS (
      |  SELECT doc_id, fi,
      |    ((i // 32) // 4) * 8 + (i % 32) // 4 AS blk,
      |    (3 * (i % 32) + 5 * (i // 32) + doc_id + s) % 256 AS v
      |  FROM (SELECT doc_id, fi, s, unnest(range(0, 1024)) AS i
      |        FROM sh)),
      |bs AS (
      |  SELECT doc_id, fi, blk, SUM(v) AS bsum
      |  FROM pv GROUP BY 1, 2, 3),
      |tot AS (
      |  SELECT doc_id, fi, CAST(SUM(v) AS BIGINT) AS total
      |  FROM pv GROUP BY 1, 2),
      |bits AS (
      |  SELECT bs.doc_id, bs.fi, bs.blk,
      |    CASE WHEN bs.bsum * 64 > t.total THEN 1 ELSE 0 END AS bit
      |  FROM bs JOIN tot t ON bs.doc_id = t.doc_id AND bs.fi = t.fi),
      |hm AS (
      |  SELECT x.doc_id, x.fi,
      |    CAST(SUM(ABS(x.bit - y.bit)) AS BIGINT) AS hamming
      |  FROM bits x JOIN bits y ON x.doc_id = y.doc_id
      |    AND x.fi = y.fi + 1 AND x.blk = y.blk
      |  GROUP BY 1, 2),
      |starts AS (
      |  SELECT f.doc_id, f.fi,
      |    CASE WHEN f.fi = 0 OR hm.hamming > 16 THEN 1 ELSE 0 END
      |      AS is_start
      |  FROM fr f LEFT JOIN hm ON f.doc_id = hm.doc_id
      |    AND f.fi = hm.fi),
      |seg AS (
      |  SELECT doc_id, fi, is_start,
      |    CAST(SUM(is_start) OVER (PARTITION BY doc_id ORDER BY fi
      |      ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS shot_idx
      |  FROM starts)
      |SELECT seg.doc_id, seg.shot_idx, CAST(seg.fi AS BIGINT)
      |    AS frame_idx,
      |  CAST(t.total % 65536 AS BIGINT) AS checksum
      |FROM seg JOIN tot t ON seg.doc_id = t.doc_id AND seg.fi = t.fi
      |WHERE seg.is_start = 1
      |ORDER BY seg.doc_id, seg.shot_idx""".stripMargin

  /** One resized payload's summary. */
  final case class Resized(doc_id: Long, width: Long, height: Long,
      out_w: Long, out_h: Long, stride: Long, n_out_bytes: Long,
      checksum: Long)

  /** STUB RESIZE — deterministic byte decimation standing in for pixel
    * resampling: fit the (fake-decoded) dimensions into 64×64 and keep
    * every `stride`-th payload byte, stride sized so ~256 bytes
    * survive. A real deployment swaps the decimation for a codec
    * resample; the Spark shape (map-side narrow, payload never
    * shuffles, only the small summary flows on) is the real thing.
    */
  private def fakeResize(d: BinaryDoc): Resized = {
    val m = fakeDecode(d)
    val n = d.payload.length.toLong
    val stride = math.max(1L, n / 256L)
    var sum = 0L
    var cnt = 0L
    var i = 0L
    while (i < n) {
      sum += java.lang.Byte.toUnsignedInt(d.payload(i.toInt))
      cnt += 1
      i += stride
    }
    Resized(d.doc_id, m.width, m.height,
      math.min(m.width, 64L), math.min(m.height, 64L),
      stride, cnt, sum % 65536L)
  }

  /** #77 resize: partition-batched stub resample of every payload —
    * the third leg of the decode / featurize / resize / frame-sample
    * quartet a multimodal pipeline runs before training.
    */
  def mmResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bin = graft.Tables.spread(spark, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[BinaryDoc]
    bin.mapPartitions(_.map(fakeResize)).toDF()
      .orderBy("doc_id")
  }

  val mmResizeSql: String =
    """WITH m AS (
      |  SELECT doc_id, length(text) AS n, text,
      |    16 * (1 + ascii(substr(text, 1, 1)) % 32) AS width,
      |    16 * (1 + ascii(substr(text, length(text), 1)) % 32) AS height,
      |    GREATEST(1, length(text) // 256) AS stride
      |  FROM documents)
      |SELECT doc_id, width, height,
      |  LEAST(width, 64) AS out_w, LEAST(height, 64) AS out_h,
      |  CAST(stride AS BIGINT) AS stride,
      |  CAST((n - 1) // stride + 1 AS BIGINT) AS n_out_bytes,
      |  CAST(list_sum(list_transform(range(1, n + 1, CAST(stride AS INT)),
      |    i -> ascii(substr(text, CAST(i AS INT), 1)))) % 65536 AS BIGINT)
      |    AS checksum
      |FROM m ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- #140
  /** #140 perceptual-hash re-upload detection for media payloads: a
    * 64-bit average-hash (64 stride-sampled bytes, bit i set iff
    * sample i exceeds the sample mean — the mean compare cleared to
    * exact integers: vᵢ·64 > Σv), then the #29 banding: 4×16-bit
    * slices, hamming ≤ 3 pairs must agree on ≥1 slice (pigeonhole).
    * The eval corpus plants the dominant real-world positive class —
    * byte-identical re-uploads under fresh ids (every 7th doc) — on
    * top of the organic corpus; a real deployment swaps the byte
    * sampler for a DCT over decoded pixels to also catch re-ENCODES
    * (the text stand-in bytes have no pixel alignment for that, as
    * the corpus's word-edit near-dups shift every downstream byte).
    * The signature/banding/verify pipeline — the part Spark owns — is
    * identical. Payload bytes never shuffle: only the 8-byte
    * signature leaves the scan.
    *
    * ASCII contract: `phash64` samples UTF8String BYTES; its oracle
    * samples CHARACTERS. On any non-ASCII payload the two diverge —
    * feed this operator ASCII (or raw binary) payloads, or extend
    * Phash64 to code-point sampling first (see `mmPhashDedupSql`).
    */
  def mmPhashDedup(spark: SparkSession, dir: String,
      bands: Int = 4, maxHamming: Int = 3): DataFrame = {
    require(64 % bands == 0 && bands > maxHamming)
    val docs = graft.Tables.spread(spark, dir, "documents")
      .select("doc_id", "text")
    // planted ids at +10^12 — disjoint from organic doc_ids by
    // construction at any realistic corpus size (the #275 device; a
    // +10^6 offset collides once the corpus reaches 1e6 docs)
    val reuploads = docs.where(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000000000L).as("doc_id"), col("text"))
    // native one-pass signature (Phash64); persisted because BOTH
    // sides of the banded self-join reference this subplan — without
    // it every signature computes twice. Slot-bounded: repeated calls
    // keep one cached signature table, not one per call.
    val base = graft.Tables.persistSlot("mm.phashDedup.sigs",
      docs.union(reuploads)
        .select(col("doc_id"), expr("phash64(text)").as("sig")))
    val banded = base.select(col("doc_id"), col("sig"),
        explode(Signatures.bitBands(col("sig"), bands, 64 / bands)).as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.*"))
    Signatures.bucketPairs(banded, "doc_id",
        expr("cast(bit_count(a.sig ^ b.sig) as long)").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .orderBy("id_a", "id_b")
  }

  /** Bits-array mirror of the signature (same integer-cleared mean
    * compare), banded exactly like the #29 oracle. Parameter-matched:
    * interpolates the SAME bands/maxHamming the operator takes.
    *
    * ASCII caveat (operator-level, not just a Hashes comment): Phash64
    * samples UTF8String BYTES while this oracle samples CHARACTERS via
    * `ascii(substr(...))` — identical on ASCII payloads (the eval
    * corpora), divergent on any multibyte text. A production corpus
    * with non-ASCII content should pre-filter/transliterate before
    * phash-dedup, or extend Phash64 to code-point sampling.
    */
  def mmPhashDedupSql(bands: Int = 4, maxHamming: Int = 3): String = {
    val bits = 64 / bands
    s"""WITH docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000000000, text FROM documents
      |  WHERE doc_id % 7 = 0),
      |t AS (
      |  SELECT doc_id, list_transform(range(0, 64), i ->
      |      ascii(substr(text,
      |        1 + CAST(FLOOR(i * len(text) / 64) AS INT), 1))) AS samples
      |  FROM docs),
      |s AS (
      |  SELECT doc_id, samples,
      |    CAST(list_sum(samples) AS BIGINT) AS ssum
      |  FROM t),
      |bb AS (
      |  SELECT doc_id, list_transform(samples,
      |    v -> CASE WHEN v * 64 > ssum THEN 1 ELSE 0 END) AS bits
      |  FROM s),
      |banded AS (
      |  SELECT doc_id, bits, b,
      |    list_sum(list_transform(range(0, $bits),
      |      k -> bits[b * $bits + k + 1] << k)) AS bval
      |  FROM bb, range(0, $bands) t(b)),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CAST(list_sum(list_transform(range(1, 65),
      |      i -> abs(a.bits[i] - b.bits[i]))) AS BIGINT) AS hamming
      |  FROM banded a JOIN banded b
      |    ON a.b = b.b AND a.bval = b.bval AND a.doc_id < b.doc_id)
      |SELECT id_a, id_b, hamming FROM pairs
      |WHERE hamming <= $maxHamming ORDER BY id_a, id_b""".stripMargin
  }

  // --------------------------------------------------------------- #285
  /** Output of the real-codec resize. */
  final case class ImgResized(doc_id: Long, width: Long, height: Long,
      out_w: Long, out_h: Long, checksum: Long)

  /** Deterministic grayscale test image for `doc_id`: dimensions
    * 16·(1+(7·id+3) mod 8) × 16·(1+(5·id+1) mod 8) (16..128 px),
    * pixel (x,y) = (3x + 5y + id) mod 256 — RNG-free, so the oracle
    * recomputes every pixel from the id alone and the spec can pin
    * decoded pixels against the closed form.
    */
  private def plantedImage(docId: Long,
      noisy: Boolean = false): java.awt.image.BufferedImage = {
    val w = (16L * (1L + (docId * 7 + 3) % 8)).toInt
    val h = (16L * (1L + (docId * 5 + 1) % 8)).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    // write the raster's backing BGR byte array directly — per-pixel
    // setRGB pays a colorspace conversion per call and dominated the
    // measured encode cost at the 10× decade
    val buf = img.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferByte].getData
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val base = (3L * x + 5L * y + docId) % 256L
        val v = (if (noisy && (x + y + docId) % 97 == 0) (base + 1) % 256
                 else base).toByte
        val off = (y * w + x) * 3
        buf(off) = v
        buf(off + 1) = v
        buf(off + 2) = v
        x += 1
      }
      y += 1
    }
    img
  }

  /** Lossless 24-bit BMP bytes for [[plantedImage]] — a REAL on-disk
    * image format, byte-deterministic (BMP is uncompressed raster +
    * fixed header, unlike PNG whose deflate stream can vary by encoder).
    */
  def plantedBmp(docId: Long): Array[Byte] =
    encodeBmp(plantedImage(docId))

  /** [[plantedBmp]] with deterministic sparse pixel noise (+1 mod 256
    * where (x+y+id) ≡ 0 mod 97) — the re-encoded near-duplicate twin
    * the #290 real-pixel phash measures its robustness against.
    */
  def plantedBmpNoisy(docId: Long): Array[Byte] =
    encodeBmp(plantedImage(docId, noisy = true))

  /** Frames in the planted VIDEO for `docId`: 4..8. */
  def plantedFrameCount(docId: Long): Int = (4 + (3 * docId + 1) % 5).toInt

  /** Pixel-function shift of frame `f`: +1 per within-shot step, +128
    * at a planted cut (cut before frame f ⟺ (id + f) ≡ 0 mod 3) — a
    * +1 global shift barely moves the 8×8 block phash (bits compare
    * block sums to the global mean, and both shift together except at
    * mod-256 wrap pixels: measured hamming ≤ 3), while a +128 shift
    * wraps half the pixels and scrambles it (measured hamming ≥ 45),
    * so threshold 16 separates EXACTLY — planted cuts are ground
    * truth, detection is provable, not heuristic.
    */
  def plantedFrameShift(docId: Long, f: Int): Long = {
    var s = 0L
    var g = 1
    while (g <= f) { s += (if ((docId + g) % 3 == 0) 128L else 1L); g += 1 }
    s
  }

  /** Frame `f` of the planted video: a REAL 32×32 24-bit BMP with
    * pixel (x,y) = (3x + 5y + id + shift(f)) mod 256 — same honesty
    * contract as [[plantedBmp]] (real container, closed-form pixels).
    */
  def plantedFrameBmp(docId: Long, f: Int): Array[Byte] = {
    val s = plantedFrameShift(docId, f)
    val img = new java.awt.image.BufferedImage(
      32, 32, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val buf = img.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferByte].getData
    var y = 0
    while (y < 32) {
      var x = 0
      while (x < 32) {
        val v = ((3L * x + 5L * y + docId + s) % 256L).toByte
        val off = (y * 32 + x) * 3
        buf(off) = v
        buf(off + 1) = v
        buf(off + 2) = v
        x += 1
      }
      y += 1
    }
    encodeBmp(img)
  }

  /** #285 image resize over a REAL codec: the one multimodal leg where
    * the decode is NOT a stub. Each doc carries a planted deterministic
    * 24-bit BMP; the operator decodes it with JDK `ImageIO` (a real
    * format parser — header, stride, bottom-up raster ordering), then
    * 2×2 integer box-pools the true pixels (floor of the 4-sample mean,
    * exact integer arithmetic) and emits the pooled checksum. The
    * oracle recomputes the SAME values from the closed-form pixel
    * function — so a green hash proves the encode→ImageIO-decode→pool
    * path is pixels-true, not just plumbing-true (the upgrade the
    * declared stubs in #39/#50/#77 trade away; their shape notes still
    * apply here: payload bytes never leave the partition, only the
    * 6-column summary flows on).
    *
    * Scale: map-side narrow per partition; per-doc work is bounded by
    * the 128×128 dimension cap, so throughput scales with width like
    * every other codec pass.
    */
  def mmImageResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = graft.Tables.spread(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
    ids.mapPartitions(_.map { id =>
      val img = decodeBmp(plantedBmp(id))
      val w = img.getWidth
      val h = img.getHeight
      val ow = w / 2
      val oh = h / 2
      // bulk raster read (gray: every band carries v) — per-pixel
      // getRGB pays a colorspace conversion per call and measured ~10×
      // slower across the 10× decade
      val px = img.getRaster.getSamples(0, 0, w, h, 0, new Array[Int](w * h))
      var sum = 0L
      var y = 0
      while (y < oh) {
        var x = 0
        while (x < ow) {
          sum += (px(2 * y * w + 2 * x) + px(2 * y * w + 2 * x + 1) +
            px((2 * y + 1) * w + 2 * x) + px((2 * y + 1) * w + 2 * x + 1)) / 4
          x += 1
        }
        y += 1
      }
      ImgResized(id, w.toLong, h.toLong, ow.toLong, oh.toLong,
        sum % 65536L)
    }).toDF()
      .orderBy("doc_id")
  }

  /** The oracle never sees a BMP: it evaluates the closed-form pixel
    * function and the same integer pooling — equality proves the
    * operator's real decode returned the true pixels.
    */
  val mmImageResizeSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    16 * (1 + (doc_id * 7 + 3) % 8) AS w,
      |    16 * (1 + (doc_id * 5 + 1) % 8) AS h
      |  FROM documents)
      |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |  CAST(w // 2 AS BIGINT) AS out_w, CAST(h // 2 AS BIGINT) AS out_h,
      |  CAST(list_sum(list_transform(range(0, (w // 2) * (h // 2)), i ->
      |    ((3 * (2 * (i % (w // 2))) + 5 * (2 * (i // (w // 2)))
      |        + doc_id) % 256
      |     + (3 * (2 * (i % (w // 2)) + 1) + 5 * (2 * (i // (w // 2)))
      |        + doc_id) % 256
      |     + (3 * (2 * (i % (w // 2))) + 5 * (2 * (i // (w // 2)) + 1)
      |        + doc_id) % 256
      |     + (3 * (2 * (i % (w // 2)) + 1) + 5 * (2 * (i // (w // 2)) + 1)
      |        + doc_id) % 256) // 4
      |  )) % 65536 AS BIGINT) AS checksum
      |FROM d ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- #317
  /** Deterministic 8-bit unsigned PCM mono WAV for `doc_id`: n =
    * 512 + (13·id + 7) mod 512 samples at 8 kHz, sample(i) =
    * (5i + id) mod 256 — REAL RIFF/fmt/data container bytes written
    * by the JDK encoder, so the read side exercises a genuine format
    * parser (header fields, chunk walk, frame size), the audio
    * analogue of [[plantedBmp]].
    */
  def plantedWav(docId: Long): Array[Byte] = {
    val n = (512L + (docId * 13 + 7) % 512).toInt
    val data = new Array[Byte](n)
    var i = 0
    while (i < n) {
      data(i) = ((5L * i + docId) % 256L).toByte
      i += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 8, 1,
      /* signed = */ false, /* bigEndian = */ false)
    wavWriterTl.get().write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, n.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  // Per-thread WAVE codec providers (r13, the audio analogue of the
  // BMP reader/writer reuse above): AudioSystem.write /
  // getAudioInputStream route EVERY call through the JDK sound
  // services' synchronized provider lookup, which both costs a lookup
  // per call and serializes concurrent decode tasks on a class lock —
  // the two real-codec audio legs sat at ~3.3-3.5 s for 500 tiny
  // clips and scaled FLAT with cores (c8/c32 ≈ 1.0) while the stub
  // audio leg cost 0.67 s. One ServiceLoader scan per thread; decode
  // tries the cached readers in provider order exactly like
  // AudioSystem does (first one that accepts the stream wins), so the
  // selected codec, bytes and samples are identical — AudioCodecSpec
  // pins both directions against the AudioSystem path.
  private val wavWriterTl =
    ThreadLocal.withInitial[javax.sound.sampled.spi.AudioFileWriter] { () =>
      import scala.jdk.CollectionConverters._
      java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileWriter])
        .iterator().asScala
        .find(_.isFileTypeSupported(
          javax.sound.sampled.AudioFileFormat.Type.WAVE))
        .getOrElse(throw new IllegalStateException("no WAVE writer SPI"))
    }
  private val wavReadersTl =
    ThreadLocal.withInitial[Seq[javax.sound.sampled.spi.AudioFileReader]] {
      () =>
        import scala.jdk.CollectionConverters._
        java.util.ServiceLoader
          .load(classOf[javax.sound.sampled.spi.AudioFileReader])
          .iterator().asScala.toSeq
    }

  /** Decode an audio byte payload with this thread's cached reader
    * providers — drop-in for `AudioSystem.getAudioInputStream(new
    * ByteArrayInputStream(bytes))` (same first-accepting-provider
    * selection rule).
    */
  def decodeAudio(bytes: Array[Byte]): javax.sound.sampled.AudioInputStream = {
    val readers = wavReadersTl.get()
    var i = 0
    while (i < readers.length) {
      val in = new java.io.ByteArrayInputStream(bytes)
      try return readers(i).getAudioInputStream(in)
      catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => i += 1
      }
    }
    throw new javax.sound.sampled.UnsupportedAudioFileException(
      "Stream of unsupported format")
  }

  /** #317 samples-true PCM energy profile — the FIFTH real-codec leg
    * and the first AUDIO one (the #193/#272 features/VAD legs stay
    * declared stubs over synthesized payloads; this leg decodes a
    * REAL WAV container with `javax.sound.sampled`, the same honesty
    * upgrade #285 made for images). Per doc: decoded sample count,
    * 128-sample full frames, total and max frame energy
    * (Σ (s−128)² in exact integer space), the earliest argmax frame,
    * and zero crossings of the centered signal. The oracle recomputes
    * the closed-form sample function — a green hash proves the
    * RIFF-parse→decode path is samples-true.
    *
    * Scale: map-side narrow; per-doc work bounded by the ≤1023-sample
    * clip cap; only the 6-column summary leaves the partition.
    */
  def mmAudioPcmEnergy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = graft.Tables.spread(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
    ids.mapPartitions(_.map { id =>
      val ais = decodeAudio(plantedWav(id))
      val s = ais.readAllBytes()
      val n = s.length
      val frames = n / 128
      var totalE = 0L
      var maxE = -1L
      var peakFrame = -1L
      var f = 0
      while (f < frames) {
        var e = 0L
        var i = f * 128
        val end = i + 128
        while (i < end) {
          val c = (s(i) & 0xff) - 128
          e += c.toLong * c
          i += 1
        }
        totalE += e
        if (e > maxE) { maxE = e; peakFrame = f.toLong }
        f += 1
      }
      var zc = 0L
      var i = 1
      while (i < n) {
        if (((s(i - 1) & 0xff) < 128) != ((s(i) & 0xff) < 128)) zc += 1
        i += 1
      }
      (id, n.toLong, frames.toLong, totalE, maxE, peakFrame, zc)
    }).toDF("doc_id", "n_samples", "n_frames", "total_energy",
      "max_frame_energy", "peak_frame", "zero_crossings")
      .orderBy("doc_id")
  }

  /** Oracle evaluates the closed-form sample function s(i) =
    * (5i + id) mod 256 over n(id) = 512 + (13·id + 7) mod 512 — never
    * parses a byte (the #285/#290/#298/#306 proof shape).
    */
  val mmAudioPcmEnergySql: String =
    """WITH dims AS (
      |  SELECT doc_id, 512 + (13 * doc_id + 7) % 512 AS n
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, n, i, (5 * i + doc_id) % 256 - 128 AS c
      |  FROM (SELECT doc_id, n, unnest(range(0, n)) AS i FROM dims)),
      |fr AS (
      |  SELECT doc_id, i // 128 AS f,
      |    CAST(SUM(c * c) AS BIGINT) AS e
      |  FROM s WHERE i // 128 < n // 128
      |  GROUP BY 1, 2),
      |agg AS (
      |  SELECT doc_id, CAST(SUM(e) AS BIGINT) AS total_energy,
      |    CAST(MAX(e) AS BIGINT) AS max_frame_energy
      |  FROM fr GROUP BY 1),
      |peak AS (
      |  SELECT doc_id, CAST(f AS BIGINT) AS peak_frame FROM (
      |    SELECT doc_id, f,
      |      ROW_NUMBER() OVER (PARTITION BY doc_id
      |        ORDER BY e DESC, f) AS rn
      |    FROM fr) WHERE rn = 1),
      |zc AS (
      |  SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS zero_crossings
      |  FROM s a JOIN s b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      |  WHERE (a.c < 0) <> (b.c < 0)
      |  GROUP BY 1)
      |SELECT d.doc_id, CAST(d.n AS BIGINT) AS n_samples,
      |  CAST(d.n // 128 AS BIGINT) AS n_frames,
      |  agg.total_energy, agg.max_frame_energy, peak.peak_frame,
      |  COALESCE(zc.zero_crossings, 0) AS zero_crossings
      |FROM dims d
      |  JOIN agg ON d.doc_id = agg.doc_id
      |  JOIN peak ON d.doc_id = peak.doc_id
      |  LEFT JOIN zc ON d.doc_id = zc.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // --------------------------------------------------------------- #290
  /** #290 perceptual hash over REAL decoded pixels: the #285 codec
    * path extended to the #140 signature family. Each doc's planted
    * BMP decodes through JDK ImageIO; the 64-bit average-hash works on
    * TRUE pixels — 8×8 blocks (dimensions are multiples of 16, so
    * blocks are exact), bit = block-sum·64 > image-sum (equal-size
    * blocks clear the mean compare to integers). A second REAL encode/
    * decode of the same image with deterministic sparse pixel noise
    * (+1 where (x+y+id) ≡ 0 mod 97) yields the robustness read: the
    * hamming distance between the clean and noisy signatures. The
    * signature ships as two 32-bit halves (a full 2⁶³ bit would
    * overflow BIGINT on the oracle side).
    *
    * Scale: map-side narrow — two in-partition encode/decode passes
    * per doc, bounded by the 128×128 dimension cap; only (doc_id, two
    * int halves, hamming) ever leaves the scan.
    */
  def mmImagePhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = graft.Tables.spread(spark, dir, "documents")
      .select(col("doc_id")).as[Long]
    ids.mapPartitions(_.map { id =>
      def sigBits(img: java.awt.image.BufferedImage): Array[Int] = {
        val w = img.getWidth
        val h = img.getHeight
        val bw = w / 8
        val bh = h / 8
        // bulk raster read — the #285 measured getRGB fix
        val px = img.getRaster.getSamples(0, 0, w, h, 0,
          new Array[Int](w * h))
        val sums = new Array[Long](64)
        var total = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = px(y * w + x).toLong
            sums((y / bh) * 8 + x / bw) += v
            total += v
            x += 1
          }
          y += 1
        }
        Array.tabulate(64)(i => if (sums(i) * 64 > total) 1 else 0)
      }
      val clean = sigBits(decodeBmp(plantedBmp(id)))
      val noisy = sigBits(decodeBmp(plantedBmpNoisy(id)))
      var hi = 0L
      var lo = 0L
      var ham = 0L
      var i = 0
      while (i < 64) {
        if (clean(i) == 1) {
          if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
        }
        if (clean(i) != noisy(i)) ham += 1
        i += 1
      }
      (id, hi, lo, ham)
    }).toDF("doc_id", "sig_hi", "sig_lo", "hamming_noise")
      .orderBy("doc_id")
  }

  /** The oracle never decodes a BMP: it evaluates the closed-form
    * pixel functions and the same block/bit algebra — equality proves
    * both real decodes returned the true pixels.
    */
  val mmImagePhashSql: String = {
    // pixel streams as SQL generators: v = (3x+5y+id) % 256, noisy
    // adds 1 where (x+y+id) % 97 = 0 (wrapping mod 256)
    def sig(noisy: Boolean): String = {
      val v = if (noisy)
        "((3 * x + 5 * y + doc_id) % 256 + " +
          "CASE WHEN (x + y + doc_id) % 97 = 0 THEN 1 ELSE 0 END) % 256"
      else "(3 * x + 5 * y + doc_id) % 256"
      s"""SELECT doc_id, (y // bh) * 8 + (x // bw) AS blk, $v AS v
         |  FROM (
         |    SELECT doc_id, w, h, w // 8 AS bw, h // 8 AS bh,
         |      unnest(range(0, w * h)) AS i
         |    FROM dims) q0,
         |    LATERAL (SELECT i % w AS x, i // w AS y) q1""".stripMargin
    }
    def bits(src: String): String =
      s"""SELECT doc_id, blk,
         |  CASE WHEN bs * 64 > SUM(bs) OVER (PARTITION BY doc_id)
         |    THEN 1 ELSE 0 END AS bit
         |FROM (SELECT doc_id, blk, SUM(v) AS bs FROM ($src) GROUP BY 1, 2)"""
        .stripMargin
    s"""WITH dims AS (
       |  SELECT doc_id,
       |    16 * (1 + (doc_id * 7 + 3) % 8) AS w,
       |    16 * (1 + (doc_id * 5 + 1) % 8) AS h
       |  FROM documents),
       |cb AS (${bits(sig(noisy = false))}),
       |nb AS (${bits(sig(noisy = true))}),
       |sigs AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN blk >= 32 THEN bit * (1::BIGINT << (blk - 32))
       |      ELSE 0 END) AS BIGINT) AS sig_hi,
       |    CAST(SUM(CASE WHEN blk < 32 THEN bit * (1::BIGINT << blk)
       |      ELSE 0 END) AS BIGINT) AS sig_lo
       |  FROM cb GROUP BY doc_id),
       |ham AS (
       |  SELECT cb.doc_id,
       |    CAST(SUM(ABS(cb.bit - nb.bit)) AS BIGINT) AS hamming_noise
       |  FROM cb JOIN nb ON cb.doc_id = nb.doc_id AND cb.blk = nb.blk
       |  GROUP BY cb.doc_id)
       |SELECT s.doc_id, s.sig_hi, s.sig_lo, h.hamming_noise
       |FROM sigs s JOIN ham h ON s.doc_id = h.doc_id
       |ORDER BY s.doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_image_phash" -> (mmImagePhash _),
    "mm_audio_pcm_energy" -> (mmAudioPcmEnergy _),
    "mm_phash_dedup" ->
      ((s: SparkSession, d: String) => mmPhashDedup(s, d)),
    "mm_binary_meta" -> (mmBinaryMeta _),
    "mm_feature_extract" -> (mmFeatureExtract _),
    "mm_frame_sample" -> (mmFrameSample _),
    "mm_resize" -> (mmResize _),
    "mm_image_resize" -> (mmImageResize _))

  val oracles: Map[String, String] = Map(
    "mm_image_phash" -> mmImagePhashSql,
    "mm_audio_pcm_energy" -> mmAudioPcmEnergySql,
    "mm_phash_dedup" -> mmPhashDedupSql(),
    "mm_binary_meta" -> mmBinaryMetaSql,
    "mm_feature_extract" -> mmFeatureExtractSql,
    "mm_frame_sample" -> mmFrameSampleSql,
    "mm_resize" -> mmResizeSql,
    "mm_image_resize" -> mmImageResizeSql)
}
