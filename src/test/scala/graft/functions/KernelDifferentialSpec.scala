package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Differential tests for the native hash kernels against independent
  * formulations on IDENTICAL inputs: the optimized one-pass kernels
  * (Kirsch-Mitzenmacher minhash derivation, fused band folding, vote
  * packing) vs naive obviously-correct loops / the interpreted HOF
  * pipeline. This is the hard correctness signal for the hash-seeded
  * operators (q23/q24/q27) that no external SQL oracle can reproduce.
  */
class KernelDifferentialSpec extends SparkSuite {

  private val rnd = new scala.util.Random(20260812)

  private def randTokens(n: Int): Array[String] =
    Array.fill(n)(rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString)

  private def toArrayData(tokens: Array[String]): GenericArrayData =
    new GenericArrayData(tokens.map(t =>
      UTF8String.fromString(t).asInstanceOf[Any]))

  /** Naive reference: rolling shingle hashes exactly as documented —
    * xxhash64 each token (seed 42), fold windows of n with the golden-ratio
    * polynomial; < n tokens → one shingle over what's present. */
  private def naiveShingleHashes(tokens: Array[String], n: Int): Array[Long] = {
    val prime = 0x9E3779B97F4A7C15L
    val tok = tokens.map(t => XXH64.hashUTF8String(UTF8String.fromString(t), 42L))
    val windows =
      if (tok.length < n) Seq(tok.toSeq)
      else tok.toSeq.sliding(n).toSeq
    windows.map(w => w.foldLeft(prime)((h, t) => h * prime + t)).toArray
  }

  test("pq encode-with-err / dot-lut / adc-dot kernels == naive " +
    "per-subspace loops on identical quantized inputs") {
    val rnd2 = new scala.util.Random(20260816)
    val inDims = 16; val nSub = 4; val subLen = inDims / nSub
    val nCodes = 7
    // quantized-integer-valued doubles, like the production inputs
    def qvec(): Array[Double] =
      Array.fill(inDims)((rnd2.nextInt(20001) - 10000).toDouble)
    val cb: Array[Array[Double]] = Array.fill(nCodes)(qvec())
    val cbBlock: Array[Array[Array[Double]]] = (0 until nSub).map { s =>
      cb.map(cv => cv.slice(s * subLen, (s + 1) * subLen))
    }.toArray
    val csq: Array[Array[Double]] =
      cbBlock.map(_.map(b => b.map(x => x * x).sum))
    def naiveD2(v: Array[Double], s: Int, ci: Int): Double =
      (0 until subLen).map { j =>
        val d = v(s * subLen + j) - cbBlock(s)(ci)(j); d * d
      }.sum
    for (_ <- 1 to 25) {
      val v = qvec()
      val arr = new GenericArrayData(v.map(_.asInstanceOf[Any]))
      // naive encode: per-subspace argmin d², ties to lowest ci; err2 =
      // Σ best d²
      val naiveCodes = (0 until nSub).map { s =>
        (0 until nCodes).minBy(ci => (naiveD2(v, s, ci), ci))
      }
      val naiveErr2 = (0 until nSub)
        .map(s => naiveD2(v, s, naiveCodes(s))).sum
      val enc = PqEncodeWithErr(org.apache.spark.sql.catalyst.expressions.Literal(1), cbBlock, csq)
        .encode(arr)
      val gotCodes = enc.getArray(0).toIntArray.toSeq
      assert(gotCodes === naiveCodes)
      assert(enc.getDouble(1) === naiveErr2) // exact integer doubles
      // flat dot-LUT: entry s·nCodes+ci == ⟨q_s, c_s[ci]⟩
      val q = qvec()
      val qArr = new GenericArrayData(q.map(_.asInstanceOf[Any]))
      val lut = PqQueryDotLut(org.apache.spark.sql.catalyst.expressions.Literal(1), cbBlock).lut(qArr)
      for (s <- 0 until nSub; ci <- 0 until nCodes) {
        val naiveDot = (0 until subLen)
          .map(j => q(s * subLen + j) * cbBlock(s)(ci)(j)).sum
        assert(lut.getDouble(s * nCodes + ci) === naiveDot,
          s"lut($s,$ci)")
      }
      // adc-dot over the flat LUT == ⟨q, x̂⟩ from the naive codes
      val adc = PqAdcDotFlat(org.apache.spark.sql.catalyst.expressions.Literal(1), org.apache.spark.sql.catalyst.expressions.Literal(1), nCodes)
        .adc(lut, new GenericArrayData(naiveCodes.toArray))
      val naiveAdc = (0 until nSub).map { s =>
        (0 until subLen)
          .map(j => q(s * subLen + j) * cbBlock(s)(naiveCodes(s))(j)).sum
      }.sum
      assert(adc === naiveAdc)
    }
  }

  test("shingle hashes: kernel == naive sliding-window fold") {
    for (len <- Seq(0, 1, 2, 3, 10, 50); n <- Seq(1, 2, 3)) {
      val tokens = randTokens(len)
      val got = GraftHashImpl.shingleHashArray(toArrayData(tokens), n)
      assert(got.toSeq === naiveShingleHashes(tokens, n).toSeq,
        s"len=$len n=$n")
    }
  }

  test("minhash signature: kernel == naive per-function minimum") {
    for (len <- Seq(1, 5, 40); n <- Seq(2, 3); k <- Seq(4, 16)) {
      val tokens = randTokens(len)
      val sh = naiveShingleHashes(tokens, n)
      // naive: h_i(s) = hashLong(s, 0) + i * (hashLong(s, 1) | 1)
      val expected = (0 until k).map { i =>
        sh.map(s => XXH64.hashLong(s, 0L) + i * (XXH64.hashLong(s, 1L) | 1L))
          .min
      }
      val got = GraftHashImpl.shingleMinHash(toArrayData(tokens), n, k)
        .asInstanceOf[GenericArrayData].toLongArray().toSeq
      assert(got === expected, s"len=$len n=$n k=$k")
    }
  }

  test("minhash bands: kernel == fold of the signature's band slices") {
    val tokens = randTokens(30)
    val n = 2; val k = 16; val bands = 8
    val sig = GraftHashImpl.shingleMinHash(toArrayData(tokens), n, k)
      .asInstanceOf[GenericArrayData].toLongArray()
    val prime = 0x9E3779B97F4A7C15L
    val expected = (0 until bands).map { b =>
      val slice = sig.slice(b * (k / bands), (b + 1) * (k / bands))
      XXH64.hashLong(slice.foldLeft(1125899906842597L)((h, v) => h * prime + v),
        b.toLong)
    }
    val got = GraftHashImpl.shingleMinHashBands(toArrayData(tokens), n, k,
      bands).asInstanceOf[GenericArrayData].toLongArray().toSeq
    assert(got === expected)
  }

  test("simhash vote stage: kernel == interpreted HOF oracle on same hashes") {
    import spark.implicits._
    val cases = Seq.fill(20)(Array.fill(1 + rnd.nextInt(30))(rnd.nextLong()))
    // HOF path: Dedup.simhashFromHashes over a bound array<long> column
    val viaHof = cases.zipWithIndex.map { case (hs, i) => (i, hs) }
      .toDF("i", "hashes")
      .select(col("i"), graft.ops.Dedup.simhashFromHashes(col("hashes"))
        .as("sig"))
      .as[(Int, Long)].collect().toMap
    cases.zipWithIndex.foreach { case (hs, i) =>
      assert(viaHof(i) === GraftHashImpl.simHashVotes(hs), s"case $i")
    }
  }

  test("simhash end-to-end: kernel == votes over hashed naive shingles") {
    for (len <- Seq(0, 1, 7, 25); n <- Seq(2, 3)) {
      val tokens = randTokens(len)
      val expected = GraftHashImpl.simHashVotes(
        naiveShingleHashes(tokens, n).map(XXH64.hashLong(_, 0L)))
      assert(GraftHashImpl.simHash64(toArrayData(tokens), n) === expected,
        s"len=$len n=$n")
    }
  }

  // ---- portable (md5-derived) mode ---------------------------------------
  // The portable kernels power the oracle-verified q23/q24/q27 paths; these
  // differentials pin them against (a) Spark's OWN md5/conv expressions —
  // a third engine-independent implementation of the same hash — and
  // (b) naive loops over the documented signature structure.

  /** Reference impl of the portable hash via Spark SQL's md5 + conv —
    * independent of GraftHashImpl's MessageDigest path. */
  private def sparkMd5_60(strings: Seq[String]): Seq[Long] = {
    import spark.implicits._
    strings.toDF("s")
      .select(conv(substring(md5(col("s")), 1, 15), 16, 10)
        .cast("long").as("h"))
      .as[Long].collect().toSeq
  }

  test("portable hash: kernel md5-60 == Spark's conv(substr(md5)) on UTF-8") {
    val cases = Seq("", "a", "hello world", "héllo wörld é世界",
      "x" * 300, "tab\tand\nnewline")
    val viaSpark = sparkMd5_60(cases)
    cases.zip(viaSpark).foreach { case (s, expected) =>
      assert(GraftHashImpl.portableHash60(s) === expected, s"input '$s'")
    }
    // non-negative by construction (60 bits)
    assert(cases.forall(s => GraftHashImpl.portableHash60(s) >= 0))
  }

  /** Naive portable shingle strings: token windows joined with spaces. */
  private def naivePortableShingles(tokens: Array[String], n: Int): Seq[String] =
    if (tokens.length < n) Seq(tokens.mkString(" "))
    else tokens.toSeq.sliding(n).map(_.mkString(" ")).toSeq

  test("portable minhash: kernel == naive Kirsch-Mitzenmacher over md5 halves") {
    // reference impl via Spark's own md5: h1/h2 are the digest's first two
    // 32-bit halves (hex substrings, as an external engine reads them),
    // h_i = (h1 + i*h2) mod 2^32 with h2 odd
    import spark.implicits._
    for (len <- Seq(0, 1, 5, 40); n <- Seq(2, 3); k <- Seq(4, 16)) {
      val tokens = randTokens(len)
      val sh = naivePortableShingles(tokens, n)
      val halves = sh.toDF("s").select(
        conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long"),
        conv(substring(md5(col("s")), 9, 8), 16, 10).cast("long"))
        .as[(Long, Long)].collect()
      val expected = (0 until k).map { i =>
        halves.map { case (h1, h2) =>
          (h1 + i * (h2 | 1L)) & 0xFFFFFFFFL
        }.min
      }
      val got = GraftHashImpl.portableShingleMinHash(toArrayData(tokens), n, k)
        .asInstanceOf[GenericArrayData].toLongArray().toSeq
      assert(got === expected, s"len=$len n=$n k=$k")
    }
  }

  test("portable simhash: kernel == votes over md5 shingle hashes") {
    for (len <- Seq(0, 1, 7, 25); n <- Seq(2, 3)) {
      val tokens = randTokens(len)
      val expected = GraftHashImpl.simHashVotes(
        naivePortableShingles(tokens, n)
          .map(GraftHashImpl.portableHash60).toArray)
      assert(GraftHashImpl.portableSimHash64(toArrayData(tokens), n) ===
        expected, s"len=$len n=$n")
      // 60-bit hashes never vote bits 60-63 up
      assert((GraftHashImpl.portableSimHash64(toArrayData(tokens), n) >>> 60)
        === 0L)
    }
  }

  test("portable hyperplane: kernel == naive quantized signed projection") {
    for (d <- Seq(1, 8, 64); planes <- Seq(4, 6)) {
      val vec = Array.fill(d)(rnd.nextFloat() * 2 - 1)
      val q = vec.map(x => java.math.BigDecimal.valueOf(x.toDouble * 10000.0)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue())
      var expected = 0L
      for (p <- 0 until planes) {
        val s = (0 until d).map { i =>
          val plus =
            (GraftHashImpl.portableHash60(p.toString + ":" + i) & 1L) == 1L
          if (plus) q(i) else -q(i)
        }.sum
        if (s > 0) expected |= (1L << p)
      }
      val got = GraftHashImpl.portableHyperplaneF(
        new GenericArrayData(vec.map(_.asInstanceOf[Any])), planes)
      assert(got === expected, s"d=$d planes=$planes")
    }
  }

  test("hyperplane bands: kernel == per-table fold of global-plane signs") {
    val d = 16; val bits = 4; val tables = 8
    val vec = Array.fill(d)(rnd.nextDouble() * 2 - 1)
    val expected = (0 until tables).map { t =>
      var sig = 0L
      for (b <- 0 until bits) {
        val p = t * bits + b
        val s = (0 until d).map { i =>
          val sign =
            if ((XXH64.hashLong(p.toLong * 1000003L + i, 7L) & 1L) == 1L) 1.0
            else -1.0
          vec(i) * sign
        }.sum
        if (s > 0) sig |= (1L << b)
      }
      XXH64.hashLong(sig, t.toLong)
    }
    val got = GraftHashImpl.hyperplaneBandsD(
      new GenericArrayData(vec.map(_.asInstanceOf[Any])), bits, tables)
      .asInstanceOf[GenericArrayData].toLongArray().toSeq
    assert(got === expected)
  }

  test("hyperplane lsh: kernel == naive signed projection") {
    val dims = Seq(1, 8, 64)
    for (d <- dims; planes <- Seq(4, 8)) {
      val vec = Array.fill(d)(rnd.nextFloat() * 2 - 1)
      var expected = 0L
      for (p <- 0 until planes) {
        val s = (0 until d).map { i =>
          val sign =
            if ((XXH64.hashLong(p.toLong * 1000003L + i, 7L) & 1L) == 1L) 1.0
            else -1.0
          vec(i).toDouble * sign
        }.sum
        if (s > 0) expected |= (1L << p)
      }
      val got = GraftHashImpl.hyperplaneF(
        new GenericArrayData(vec.map(_.asInstanceOf[Any])), planes)
      assert(got === expected, s"d=$d planes=$planes")
    }
  }
}
