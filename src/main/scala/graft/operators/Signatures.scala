package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The two steps the training-data operators share (SURVEY.md §2:
  * dedup, similarity, text analysis), each written once:
  *  - token windows: a document's token array cut into word shingles,
  *    word pairs or non-overlapping md5 passage chunks;
  *  - LSH banding: a signature cut into per-band bucket keys
  *    (`struct(band, key)`), then the band-bucket self-join that yields
  *    candidate pairs — the signature-then-candidates scheme of
  *    string-similarity joins.
  *
  * Each window helper returns an EMPTY array when `toks` is shorter
  * than its window. Spark's `sequence(1, 0)` counts down to `[1, 0]`
  * rather than coming out empty, and under ANSI mode `element_at` past
  * either end throws, so the guard belongs to the idiom. Callers keep
  * their own row filters and verify steps. Every helper is a plain Spark
  * expression computing what the DuckDB oracles compute.
  */
object Signatures {

  /** Consecutive `n`-token windows of `toks`, each joined by one space. */
  def wordShingles(toks: Column, n: Int): Column =
    guarded(toks, n, transform(sequence(lit(1), size(toks) - (n - 1)), i =>
      concat_ws(" ", (0 until n).map(j =>
        element_at(toks, if (j == 0) i else i + j)): _*)))

  /** Consecutive token pairs of `toks` as `struct(w1, w2)`. */
  def wordPairs(toks: Column): Column =
    guarded(toks, 2, transform(sequence(lit(1), size(toks) - 1), i =>
      struct(element_at(toks, i).as("w1"), element_at(toks, i + 1).as("w2"))))

  /** md5 hex of each non-overlapping `n`-token chunk of `toks`
    * (space-joined); a trailing partial chunk is dropped.
    */
  def passageHashes(toks: Column, n: Int): Column =
    guarded(toks, n, transform(
      sequence(lit(1), call_function("div", size(toks), lit(n))), i =>
        md5(concat_ws(" ", slice(toks, (i - 1) * n + 1, lit(n))))))

  private def guarded(toks: Column, n: Int, windows: Column): Column =
    when(size(toks) >= n, windows).otherwise(array())

  /** One bucket key per band of a `bands`×`rows` signature array: the
    * md5 of the band's `rows` coordinates joined by commas.
    */
  def md5Bands(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b => struct(b.as("band"),
      md5(concat_ws(",", slice(sig, b * rows + 1, lit(rows)))).as("key")))

  /** One bucket key per band of a 64-bit signature: band `b` is the
    * `bits`-wide slice starting at bit `b * bits`.
    */
  def bitBands(sig: Column, bands: Int, bits: Int): Column = {
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    transform(sequence(lit(0), lit(bands - 1)), b => struct(b.as("band"),
      call_function("shiftright", sig, b * bits).bitwiseAND(lit(mask))
        .as("key")))
  }

  /** The band-bucket self-join over a frame of `(idCol, band, key, …)`
    * rows: every two rows sharing a bucket give `(id_a, id_b)` with
    * `id_a < id_b`, plus the `extra` columns (which may read either side
    * as `a.` / `b.`), distinct.
    */
  def bucketPairs(banded: DataFrame, idCol: String,
      extra: Column*): DataFrame =
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(Seq(col(s"a.$idCol").as("id_a"),
        col(s"b.$idCol").as("id_b")) ++ extra: _*)
      .distinct()
}
