package graft

import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import graft.operators.Signatures

/** Randomized properties of the [[Signatures]] helpers against plain
  * Scala references: n-token joins, consecutive pairs, chunk md5 hex
  * and band slices. Each evaluation runs its helper over one generated
  * batch of rows in a single Spark job. Token arrays hold 0 to 12
  * tokens, so arrays shorter than every window are covered. Then every
  * operator that cuts word windows runs over a corpus holding a
  * one-token and an empty document.
  */
class SignaturesSpec extends GraftSpec {

  private def check(name: String, prop: Prop): Unit = {
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(result.passed, s"$name: ${Pretty.pretty(result)}")
  }

  // a small vocabulary so windows repeat; "" is what split yields
  // around a doubled space
  private val token: Gen[String] = Gen.frequency(
    4 -> Gen.oneOf("a", "b", "the", "x1", ""),
    1 -> Gen.alphaNumStr.map(_.take(6)))
  private val tokens: Gen[Seq[String]] =
    Gen.choose(0, 12).flatMap(Gen.listOfN(_, token))
  private def batch[T](g: Gen[T]): Gen[Seq[T]] = Gen.listOfN(40, g)

  private def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** `f` over rows `(id, x)` of `xs`, collected in id order. */
  private def eval[T: scala.reflect.runtime.universe.TypeTag](xs: Seq[T])(
      f: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : Seq[Seq[Row]] = {
    val sp = spark
    import sp.implicits._
    xs.zipWithIndex.map { case (x, i) => (i, x) }.toDF("id", "x")
      .select(col("id"), f(col("x")).as("out")).orderBy("id")
      .collect().map(_.getSeq[Any](1).map {
        case r: Row => r
        case v => Row(v)
      }).toSeq
  }

  test("wordShingles: the n-token windows, space-joined") {
    check("wordShingles",
      Prop.forAllNoShrink(Gen.choose(1, 4), batch(tokens)) { (n, docs) =>
        eval(docs)(Signatures.wordShingles(_, n)) ==
          docs.map(_.sliding(n).filter(_.size == n)
            .map(w => Row(w.mkString(" "))).toSeq)
    })
  }

  test("wordPairs: consecutive pairs as (w1, w2)") {
    check("wordPairs", Prop.forAllNoShrink(batch(tokens)) { docs =>
      eval(docs)(Signatures.wordPairs) ==
        docs.map(t => t.zip(t.drop(1)).map { case (a, b) => Row(a, b) })
    })
  }

  test("passageHashes: md5 hex of each whole n-token chunk") {
    check("passageHashes",
      Prop.forAllNoShrink(Gen.choose(1, 8), batch(tokens)) { (n, docs) =>
        eval(docs)(Signatures.passageHashes(_, n)) ==
          docs.map(_.grouped(n).filter(_.size == n)
            .map(c => Row(md5Hex(c.mkString(" ")))).toSeq)
    })
  }

  test("md5Bands: md5 of each band's comma-joined slice, string and " +
      "long signatures") {
    val geometry = for (b <- Gen.choose(1, 8); r <- Gen.choose(1, 4))
      yield (b, r)
    def bands[T](sig: Seq[T], b: Int, r: Int): Seq[Row] =
      (0 until b).map(k =>
        Row(k, md5Hex(sig.slice(k * r, k * r + r).mkString(","))))
    def sigs[T](coord: Gen[T]) = geometry.flatMap { case (b, r) =>
      batch(Gen.listOfN(b * r, coord)).map((b, r, _))
    }
    check("md5Bands string",
      Prop.forAllNoShrink(sigs(Gen.alphaNumStr.map(_.take(8)))) {
        case (b, r, xs) =>
          eval(xs)(Signatures.md5Bands(_, b, r)) == xs.map(bands(_, b, r))
      })
    check("md5Bands long", Prop.forAllNoShrink(sigs(Gen.long)) {
      case (b, r, xs) =>
        eval(xs)(Signatures.md5Bands(_, b, r)) == xs.map(bands(_, b, r))
    })
  }

  test("bitBands: the bits-wide slice of each band") {
    val geometry = Gen.oneOf(
      Gen.choose(1, 16).flatMap(bits =>
        Gen.choose(1, 64 / bits).map((_, bits))),
      Gen.const((1, 64)))
    check("bitBands", Prop.forAllNoShrink(geometry, batch(Gen.long)) {
      case ((b, bits), sigs) =>
        val mask = if (bits == 64) -1L else (1L << bits) - 1
        eval(sigs)(Signatures.bitBands(_, b, bits)) ==
          sigs.map(s =>
            (0 until b).map(k => Row(k, (s >> (k * bits)) & mask)))
    })
  }

  test("bucketPairs: every id_a < id_b sharing a bucket, once, with " +
      "extra columns") {
    val row = for (id <- Gen.choose(0L, 30L); band <- Gen.choose(0, 2);
      key <- Gen.oneOf("k0", "k1", "k2")) yield (id, band, key)
    check("bucketPairs", Prop.forAllNoShrink(Gen.listOf(row)) { rows =>
      val sp = spark
      import sp.implicits._
      val got = Signatures.bucketPairs(rows.toDF("doc_id", "band", "key"),
          "doc_id", (col("a.doc_id") + col("b.doc_id")).as("s"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val want = for ((a, ba, ka) <- rows; (b, bb, kb) <- rows
        if ba == bb && ka == kb && a < b) yield (a, b, a + b)
      got.length == got.distinct.length && got.toSet == want.toSet
    })
  }

  // ------------------------------------------------ short documents

  /** The spec corpus plus a one-token document ("a", a token the corpus
    * already has) and an empty-text document.
    */
  private lazy val shortDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_short").toString
    val docs = Tables(spark, sf, "documents")
    val extra = docs.orderBy("doc_id").limit(2)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("text", when(col("doc_id") === 1000000L, lit("a"))
        .otherwise(lit("")))
      .withColumn("n_chars", length(col("text")).cast("long"))
    docs.unionByName(extra).write.parquet(s"$dir/documents.parquet")
    dir
  }

  /** Every query that cuts word shingles or word pairs, with the part
    * of its result the short documents must leave unchanged. The empty
    * document adds the token "" to the unigram vocabulary that smooths
    * the surprisal scores, so those two compare only their pair counts.
    */
  private val windowConsumers: Seq[(String, DataFrame => DataFrame)] = {
    val all = (df: DataFrame) => df
    Seq(
      "quality_ensemble" -> all,
      "text_ngrams" -> all,
      "dedup_minhash_est" -> all,
      "dedup_threshold_sweep" -> all,
      "dedup_banding_sweep" -> all,
      "agg_hll_distinct" -> all,
      "text_bpe_merges" -> all,
      "text_bigram_lm" -> all,
      "text_kneser_ney" -> all,
      "text_collocations" -> all,
      "corpus_dsir_weights" -> all,
      "text_perplexity" -> (_.select("doc_id", "n_bigrams")),
      "corpus_quality_buckets" ->
        (_.agg(sum("n_docs"), sum("sum_bigrams"))))
  }

  test("word-window consumers run over one-token and empty documents, " +
      "which add no window") {
    for ((name, part) <- windowConsumers) {
      val q = SparkEntry.queries(name)
      assert(part(q(spark, shortDir)).collect().toSeq ==
        part(q(spark, sf)).collect().toSeq, name)
    }
    // the merge table behind the BPE encoders
    assert(operators.Corpus.bpeLearnMerges(spark, shortDir, 8) ==
      operators.Corpus.bpeLearnMerges(spark, sf, 8))
  }
}
