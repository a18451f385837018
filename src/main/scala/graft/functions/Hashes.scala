package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expressions for the dedup hot path.
  *
  * The SQL-lambda formulations (`aggregate(sequence(0,63), ...)` etc.)
  * re-hash every gram string once per signature bit — 64× redundant
  * UTF-8 hashing through interpreted closures, which measured 284 s for
  * simhash at sf0.1. These expressions hash each gram exactly once in a
  * tight JVM loop (same xxhash64 the built-in uses), dropping the
  * signature cost to one pass per document.
  *
  * CodegenFallback is fine here: the expression is called once per row
  * and its interior is already a native loop — there is no per-element
  * codegen boundary to widen.
  */
object Hashes {

  private val seed = 42L

  /** 64-bit SimHash of an array<string>: per-gram xxhash64, bit-vote
    * counts, sign bits.
    */
  case class SimHash64(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override protected def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val counts = new Array[Int](64)
      var k = 0
      val n = arr.numElements()
      while (k < n) {
        val h = XxHash64Function.hash(arr.getUTF8String(k), StringType, seed)
        var i = 0
        while (i < 64) {
          if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
          i += 1
        }
        k += 1
      }
      var sig = 0L
      var i = 0
      while (i < 64) {
        if (counts(i) > 0) sig |= (1L << i)
        i += 1
      }
      sig
    }
    override protected def withNewChildInternal(c: Expression): SimHash64 =
      copy(child = c)
  }

  /** MinHash signature (array<long>, `num` entries) of an array<string>:
    * one xxhash64 per shingle, `num` universal-hash mixes
    * (h * odd_i + mix_i — 2-universal enough for LSH banding), min per
    * mix.
    */
  case class MinHashSig(child: Expression, num: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    private val golden = 0x9E3779B97F4A7C15L
    override protected def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val mins = Array.fill(num)(Long.MaxValue)
      var k = 0
      val n = arr.numElements()
      while (k < n) {
        val h = XxHash64Function.hash(arr.getUTF8String(k), StringType, seed)
        var i = 0
        while (i < num) {
          val hi = h * (2L * i + 1L) + golden * i
          if (hi < mins(i)) mins(i) = hi
          i += 1
        }
        k += 1
      }
      new GenericArrayData(mins)
    }
    override protected def withNewChildInternal(c: Expression): MinHashSig =
      copy(child = c)
  }

  /** MinHash signature from PRE-HASHED shingles (array<long>): shares
    * the one-hash-per-shingle pass with the verify step via hash_array.
    */
  case class MinHashFromHashes(child: Expression, num: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    private val golden = 0x9E3779B97F4A7C15L
    override protected def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val mins = Array.fill(num)(Long.MaxValue)
      var k = 0
      val n = arr.numElements()
      while (k < n) {
        val h = arr.getLong(k)
        var i = 0
        while (i < num) {
          val hi = h * (2L * i + 1L) + golden * i
          if (hi < mins(i)) mins(i) = hi
          i += 1
        }
        k += 1
      }
      new GenericArrayData(mins)
    }
    override protected def withNewChildInternal(c: Expression): MinHashFromHashes =
      copy(child = c)
  }

  /** Hash each string of an array<string> to a long (collision-safe
    * stand-in for the string set in intersect-heavy verify joins).
    */
  case class HashArray(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val out = new Array[Long](arr.numElements())
      var k = 0
      while (k < out.length) {
        out(k) = XxHash64Function.hash(arr.getUTF8String(k), StringType, seed)
        k += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): HashArray =
      copy(child = c)
  }

  /** Intersection size of two SORTED long arrays (ngram_hashes output)
    * by linear merge — the counting half of a Jaccard verify with zero
    * per-pair allocation. Callers must feed sorted inputs.
    */
  case class IntersectCount(left: Expression, right: Expression)
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(left, right)
    override def dataType: DataType = LongType
    override def nullable: Boolean = left.nullable || right.nullable
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val a = left.eval(input)
      val b = right.eval(input)
      if (a == null || b == null) return null
      val aa = a.asInstanceOf[ArrayData]
      val bb = b.asInstanceOf[ArrayData]
      val na = aa.numElements()
      val nb = bb.numElements()
      var i = 0; var j = 0; var c = 0L
      while (i < na && j < nb) {
        val x = aa.getLong(i)
        val y = bb.getLong(j)
        if (x == y) { c += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
      c
    }
    override protected def withNewChildrenInternal(
        cs: IndexedSeq[Expression]): IntersectCount =
      copy(left = cs(0), right = cs(1))
  }

  /** Cosine similarity of two float32 vectors, accumulated in double
    * with strictly sequential order — the SAME arithmetic as the
    * fold-based SQL formulation and the DuckDB oracle's
    * `list_sum(list_transform(...))`, so replacing the interpreted
    * lambdas with this native loop cannot move a single bit of the
    * result.
    */
  case class CosineF32(left: Expression, right: Expression)
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(left, right)
    override def dataType: DataType = org.apache.spark.sql.types.DoubleType
    override def nullable: Boolean = left.nullable || right.nullable
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val a = left.eval(input)
      val b = right.eval(input)
      if (a == null || b == null) return null
      val aa = a.asInstanceOf[ArrayData]
      val bb = b.asInstanceOf[ArrayData]
      val n = aa.numElements()
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = aa.getFloat(i).toDouble
        val y = bb.getFloat(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    override protected def withNewChildrenInternal(
        cs: IndexedSeq[Expression]): CosineF32 =
      copy(left = cs(0), right = cs(1))
  }

  /** 64-bit average-hash of a payload standing in as bytes (SURVEY §2
    * #140): 64 stride samples at byte positions ⌊i·n/64⌋, bit i set
    * iff sample·64 > Σsamples (the mean compare cleared to integers).
    * ONE O(n) pass over the raw bytes — the SQL-lambda form pays 64
    * interpreted `substring` calls per row, each itself an O(n) char
    * scan (measured 91 s at sf0.1 vs milliseconds here). Byte-indexed
    * like the DuckDB oracle's char-indexed mirror — identical on the
    * ASCII corpus (same caveat as mm_binary_meta).
    */
  case class Phash64(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override protected def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[
        org.apache.spark.unsafe.types.UTF8String].getBytes
      val n = bytes.length
      if (n == 0) return 0L
      val samples = new Array[Int](64)
      var sum = 0L
      var i = 0
      while (i < 64) {
        // ⌊i·n/64⌋ exact in Long arithmetic (the oracle's FLOOR of an
        // exact double division agrees: i·n < 2^53 always)
        val v = java.lang.Byte.toUnsignedInt(bytes((i.toLong * n / 64).toInt))
        samples(i) = v
        sum += v
        i += 1
      }
      var sig = 0L
      i = 0
      while (i < 64) {
        if (samples(i) * 64L > sum) sig |= (1L << i)
        i += 1
      }
      sig
    }
    override protected def withNewChildInternal(c: Expression): Phash64 =
      copy(child = c)
  }

  /** Distinct hashes of consecutive word n-grams, built without ever
    * materializing the gram strings: each token is xxhash64'd once, and
    * an n-gram's hash is the golden-ratio fold of its token hashes — a
    * collision-free (w.h.p.) injection of the gram set, so set sizes and
    * intersections equal the string-set ones the oracle computes.
    */
  case class NgramHashes(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    private val golden = 0x9E3779B97F4A7C15L
    override protected def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val nt = arr.numElements()
      if (nt < n) return new GenericArrayData(Array.emptyLongArray)
      val th = new Array[Long](nt)
      var k = 0
      while (k < nt) {
        th(k) = XxHash64Function.hash(arr.getUTF8String(k), StringType, seed)
        k += 1
      }
      val seen = new java.util.LinkedHashSet[Long]((nt - n + 1) * 2)
      var i = 0
      while (i <= nt - n) {
        var h = seed
        var j = 0
        while (j < n) { h = h * golden + th(i + j); j += 1 }
        seen.add(h)
        i += 1
      }
      val out = new Array[Long](seen.size)
      val it = seen.iterator()
      k = 0
      while (it.hasNext) { out(k) = it.next(); k += 1 }
      // sorted output => downstream intersections are allocation-free
      // linear merges instead of per-pair hash sets
      java.util.Arrays.sort(out)
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): NgramHashes =
      copy(child = c)
  }

  /** SimHash from pre-hashed grams (array<long>): bit-vote counts over
    * the hashes, sign bits out.
    */
  case class SimHashFromHashes(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override protected def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val counts = new Array[Int](64)
      var k = 0
      val n = arr.numElements()
      while (k < n) {
        val h = arr.getLong(k)
        var i = 0
        while (i < 64) {
          if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
          i += 1
        }
        k += 1
      }
      var sig = 0L
      var i = 0
      while (i < 64) {
        if (counts(i) > 0) sig |= (1L << i)
        i += 1
      }
      sig
    }
    override protected def withNewChildInternal(c: Expression): SimHashFromHashes =
      copy(child = c)
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** 64-bit SimHash over distinct word n-grams with md5-derived gram
    * hashes (cross-engine reproducible, unlike xxhash64): gram strings
    * are built once per doc, md5'd once, bit-voted into sign bits.
    */
  case class SimHashMd5(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override protected def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val nt = arr.numElements()
      val counts = new Array[Int](64)
      if (nt >= n) {
        val seen = new java.util.HashSet[String]((nt - n + 1) * 2)
        var i = 0
        while (i <= nt - n) {
          val sb = new java.lang.StringBuilder()
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(arr.getUTF8String(i + j).toString)
            j += 1
          }
          val gram = sb.toString
          if (seen.add(gram)) {
            val md = md5Local.get()
            md.reset()
            val h = java.nio.ByteBuffer
              .wrap(md.digest(gram.getBytes("UTF-8")), 0, 8).getLong
            var b = 0
            while (b < 64) {
              if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
              b += 1
            }
          }
          i += 1
        }
      }
      var sig = 0L
      var b = 0
      while (b < 64) {
        if (counts(b) > 0) sig |= (1L << b)
        b += 1
      }
      sig
    }
    override protected def withNewChildInternal(c: Expression): SimHashMd5 =
      copy(child = c)
  }

  /** Distinct md5-derived hashes of consecutive word n-grams
    * (array<long>): like [[NgramHashes]] but with the oracle-
    * reproducible md5 hash (first 8 digest bytes big-endian == DuckDB
    * `('0x'||substr(md5(g),1,16))::UBIGINT`).
    */
  case class NgramMd5Hashes(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val nt = arr.numElements()
      if (nt < n) return new GenericArrayData(Array.emptyLongArray)
      val md = md5Local.get()
      val seen = new java.util.LinkedHashSet[java.lang.Long]()
      var i = 0
      while (i <= nt - n) {
        val sb = new java.lang.StringBuilder()
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(arr.getUTF8String(i + j).toString)
          j += 1
        }
        md.reset()
        seen.add(java.nio.ByteBuffer
          .wrap(md.digest(sb.toString.getBytes("UTF-8")), 0, 8).getLong)
        i += 1
      }
      val out = new Array[Long](seen.size)
      val it = seen.iterator()
      var kk = 0
      while (it.hasNext) { out(kk) = it.next(); kk += 1 }
      // sorted like NgramHashes so intersect_count's sorted-merge
      // contract holds for either gram-hash family
      java.util.Arrays.sort(out)
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): NgramMd5Hashes =
      copy(child = c)
  }

  /** Random-hyperplane LSH bucket with md5-parity plane signs
    * (cross-engine reproducible): component d of plane j is +1 iff the
    * first md5 hex digit of "j:d" is odd. Plane signs are constants —
    * computed once per (bits, dim) and cached.
    */
  case class Md5RhpBucket(child: Expression, bits: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    @transient private lazy val signCache =
      new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()
    private def signs(dim: Int): Array[Double] =
      signCache.computeIfAbsent(dim, { d =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val out = new Array[Double](bits * d)
        var j = 0
        while (j < bits) {
          var k = 0
          while (k < d) {
            md.reset()
            val dig = md.digest(s"$j:$k".getBytes("UTF-8"))
            out(j * d + k) = if (((dig(0) >>> 4) & 1) == 1) 1.0 else -1.0
            k += 1
          }
          j += 1
        }
        out
      })
    override protected def nullSafeEval(input: Any): Any = {
      val v = input.asInstanceOf[ArrayData]
      val dim = v.numElements()
      val sg = signs(dim)
      var sig = 0L
      var j = 0
      while (j < bits) {
        var dot = 0.0
        var d = 0
        while (d < dim) {
          dot += sg(j * dim + d) * v.getFloat(d).toDouble
          d += 1
        }
        if (dot > 0) sig |= (1L << j)
        j += 1
      }
      sig
    }
    override protected def withNewChildInternal(c: Expression): Md5RhpBucket =
      copy(child = c)
  }

  /** Random-hyperplane LSH bucket of a float32 vector: bit j of the
    * result is the sign of the dot product with pseudo-plane j, whose
    * component d is ±1 by bit 0 of xxhash64(j * 65536 + d) — fully
    * deterministic, no driver-side plane state to broadcast.
    */
  case class RhpBucket(child: Expression, bits: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override protected def nullSafeEval(input: Any): Any = {
      val v = input.asInstanceOf[ArrayData]
      val n = v.numElements()
      var sig = 0L
      var j = 0
      while (j < bits) {
        var dot = 0.0
        var d = 0
        while (d < n) {
          val sign = XxHash64Function.hash(
            j.toLong * 65536L + d, org.apache.spark.sql.types.LongType,
            seed) & 1L
          val x = v.getFloat(d).toDouble
          dot += (if (sign == 1L) x else -x)
          d += 1
        }
        if (dot > 0) sig |= (1L << j)
        j += 1
      }
      sig
    }
    override protected def withNewChildInternal(c: Expression): RhpBucket =
      copy(child = c)
  }
}
