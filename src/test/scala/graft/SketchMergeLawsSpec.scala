package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{BloomAgg, CountMinAgg, HllSketch, KmvSketch}

/** Randomized laws of the mergeable sketch buffers. Partials may be
  * combined in any order and any tree shape, and they cross the
  * shuffle serialized, so for every sketch: `merge` is commutative and
  * associative, merging two partials equals building over the
  * concatenated input, and `deserialize(serialize(b)) == b`. The
  * buffers are driven directly (`update` on `InternalRow`s, `merge`,
  * `serialize`), with no Spark job.
  */
class SketchMergeLawsSpec extends AnyFunSuite {

  /** `merge` mutates its first argument, so each merge gets copies. */
  private def checkLaws[B, V](agg: TypedImperativeAggregate[B],
      value: Gen[V], row: V => InternalRow, copy: B => B,
      contents: B => Seq[Any]): Unit = {
    def build(xs: Seq[V]): B =
      xs.foldLeft(agg.createAggregationBuffer())((b, v) => agg.update(b, row(v)))
    def merge(a: B, b: B): B = agg.merge(copy(a), copy(b))
    def same(a: B, b: B): Boolean = contents(a) == contents(b)
    val input = Gen.listOf(value)
    val laws = Seq(
      "commutative" -> Prop.forAll(input, input) { (xs, ys) =>
        val (a, b) = (build(xs), build(ys))
        same(merge(a, b), merge(b, a))
      },
      "associative" -> Prop.forAll(input, input, input) { (xs, ys, zs) =>
        val (a, b, c) = (build(xs), build(ys), build(zs))
        same(merge(merge(a, b), c), merge(a, merge(b, c)))
      },
      "merge of builds == build of concat" -> Prop.forAll(input, input) {
        (xs, ys) => same(merge(build(xs), build(ys)), build(xs ++ ys))
      },
      "serialize round trip" -> Prop.forAll(input) { xs =>
        val b = build(xs)
        same(agg.deserialize(agg.serialize(copy(b))), b)
      })
    for ((law, prop) <- laws) {
      val result = Test.check(Test.Parameters.default, prop)
      assert(result.passed, s"$law: ${Pretty.pretty(result)}")
    }
  }

  // few distinct values, so inputs repeat hashes and keys across partials
  private val hash: Gen[Long] =
    Gen.frequency(3 -> Gen.choose(-40L, 40L), 1 -> Gen.long)
  private val hashArray: Gen[Option[Seq[Long]]] =
    Gen.option(Gen.listOf(hash))
  private val key: Gen[Option[String]] =
    Gen.option(Gen.oneOf(Gen.choose(0, 60).map(_.toString), Gen.alphaNumStr))

  private def arrayRow(v: Option[Seq[Long]]): InternalRow =
    InternalRow(v.map(xs => new GenericArrayData(xs.toArray)).orNull)
  private def stringRow(v: Option[String]): InternalRow =
    InternalRow(v.map(UTF8String.fromString).orNull)

  private val hashes = BoundReference(0, ArrayType(LongType), nullable = true)
  private val string = BoundReference(0, StringType, nullable = true)

  test("kmv: merge laws and serialize round trip, past the k cutoff") {
    checkLaws[java.util.TreeSet[Long], Option[Seq[Long]]](
      KmvSketch(hashes, k = 8), hashArray, arrayRow,
      new java.util.TreeSet[Long](_), _.asScala.toSeq)
  }

  test("hll: merge laws and serialize round trip") {
    checkLaws[Array[Byte], Option[String]](
      HllSketch(string), key, stringRow, _.clone(), _.toSeq)
  }

  test("bloom: merge laws and serialize round trip") {
    checkLaws[Array[Long], Option[Seq[Long]]](
      BloomAgg(hashes, mBits = 256, kProbes = 3), hashArray, arrayRow,
      _.clone(), _.toSeq)
  }

  test("count-min: merge laws and serialize round trip") {
    checkLaws[Array[Long], Option[String]](
      CountMinAgg(string, w = 16, d = 3), key, stringRow,
      _.clone(), _.toSeq)
  }
}
