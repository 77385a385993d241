package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.apache.spark.sql.functions._
import graft.functions.ArrayExprs

/** Property tests pinning ArrayExprs' documented contract: each native
  * expression is semantically identical to the declarative/scalar form
  * it replaced — checked on randomized inputs through an INDEPENDENT
  * computation path (HOF plan or string-based scalar), not the
  * expression's own byte-twiddling.
  */
class ArrayExprsPropSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def floats: Gen[List[Float]] =
    Gen.listOfN(16, Gen.chooseNum(-4.0f, 4.0f))

  test("FloatDot equals the aggregate/zip_with HOF plan on random vectors") {
    import spark.implicits._
    val pairs = Gen.listOfN(60, Gen.zip(floats, floats)).sample.get
    val df = pairs.toDF("a", "b").select(
      ArrayExprs.floatDot(col("a"), col("b")).as("native"),
      expr("""aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
              CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""").as("hof"))
    df.collect().foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("WordShingles equals the transform/array_distinct HOF plan") {
    import spark.implicits._
    val word = Gen.chooseNum(1, 5).flatMap(n => Gen.stringOfN(n, Gen.alphaLowerChar))
    val docs = Gen.listOfN(60, Gen.chooseNum(0, 12).flatMap(Gen.listOfN(_, word))).sample.get
    val df = docs.toDF("t").select(
      ArrayExprs.wordShingles(col("t"), 3).as("native"),
      expr("""CASE WHEN size(t) < 3 THEN array()
              ELSE array_distinct(transform(sequence(1, size(t) - 2),
                i -> concat_ws(' ', t[i-1], t[i], t[i+1]))) END""").as("hof"))
    df.collect().foreach(r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("SimHash60 equals a string-hex scalar recompute") {
    import spark.implicits._
    val word = Gen.chooseNum(1, 8).flatMap(n => Gen.stringOfN(n, Gen.alphaLowerChar))
    val docs = Gen.listOfN(60, Gen.chooseNum(1, 20).flatMap(Gen.listOfN(_, word))).sample.get
    def scalar(toks: Seq[String]): Long = {
      val sums = new Array[Long](60)
      toks.foreach { w =>
        val hex = java.security.MessageDigest.getInstance("MD5").digest(w.getBytes)
          .map("%02x".format(_)).mkString
        val h = java.lang.Long.parseLong(hex.substring(1, 16), 16) // hex chars 1..15
        (0 until 60).foreach(i => sums(i) += ((h >>> i) & 1L) * 2 - 1)
      }
      (0 until 60).foldLeft(0L)((acc, i) => if (sums(i) > 0) acc | (1L << i) else acc)
    }
    val got = docs.toDF("t")
      .select(ArrayExprs.simhash60(col("t")).as("h")).collect().map(_.getLong(0))
    got.zip(docs.map(scalar)).foreach { case (g, w) => assert(g == w) }
  }

  test("SignSketchMd5 equals a scalar recompute over the md5 plane family") {
    import spark.implicits._
    val vecs = Gen.listOfN(60, floats).sample.get
    def scalar(v: List[Float]): Seq[Int] =
      (0 until 16).map { j =>
        val acc = v.zipWithIndex.foldLeft(0.0) { case (a, (x, d)) =>
          val h = java.security.MessageDigest.getInstance("MD5").digest(s"$j:$d".getBytes)
          a + x.toDouble * (if ((h(0) & 1) == 1) 1.0 else -1.0)
        }
        // mirror the expression's 6 dp fp-portability rounding
        val r = java.math.BigDecimal.valueOf(acc)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        if (r > 0) 1 else 0
      }
    val got = vecs.toDF("v")
      .select(ArrayExprs.signSketchMd5(col("v"), 16).as("sk")).collect()
      .map(_.getSeq[Int](0))
    got.zip(vecs.map(scalar)).foreach { case (g, w) => assert(g == w.toSeq) }
  }

  test("MinHashSig equals a scalar xxhash64 recompute") {
    import spark.implicits._
    val word = Gen.chooseNum(1, 10).flatMap(n => Gen.stringOfN(n, Gen.alphaLowerChar))
    val docs = Gen.listOfN(40, Gen.chooseNum(1, 15).flatMap(Gen.listOfN(_, word))).sample.get
    def scalar(toks: Seq[String]): Seq[Long] =
      (0 until 8).map { i =>
        toks.map { s =>
          val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
          org.apache.spark.sql.catalyst.expressions.XXH64
            .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), i.toLong)
        }.min
      }
    val got = docs.toDF("t")
      .select(ArrayExprs.minhashSig(col("t"), 8).as("sig")).collect()
      .map(_.getSeq[Long](0))
    got.zip(docs.map(scalar)).foreach { case (g, w) => assert(g == w) }
  }

  test("Md5Long60Array equals the conv(md5) HOF plan, distinct preserved") {
    import spark.implicits._
    val word = Gen.chooseNum(1, 10).flatMap(n => Gen.stringOfN(n, Gen.alphaLowerChar))
    // duplicate-heavy inputs (small alphabet) so list_distinct semantics
    // are actually exercised, not vacuous
    val docs = Gen.listOfN(60, Gen.chooseNum(1, 20).flatMap(Gen.listOfN(_, word))).sample.get
    val df = docs.toDF("t").select(
      ArrayExprs.md5Long60Array(col("t")).as("native"),
      expr("""array_distinct(transform(t,
              s -> CAST(conv(substring(md5(s), 2, 15), 16, 10) AS BIGINT)))""").as("hof"))
    df.collect().foreach(r =>
      assert(r.getSeq[Long](0).sorted == r.getSeq[Long](1).sorted))
  }

  test("Md5BucketArray equals the conv(md5) SQL chain element by element") {
    import spark.implicits._
    val ascii = Gen.chooseNum(1, 10).flatMap(n => Gen.stringOfN(n, Gen.alphaLowerChar))
    val unicode = Gen.chooseNum(1, 6).flatMap(n => Gen.stringOfN(n, Gen.oneOf("äöüßéñçøåœ€日本語кириллица")))
    // a small vocabulary so repeated tokens (kept, not deduplicated) occur
    val word = Gen.frequency(3 -> Gen.oneOf("spark", "the", "a"), 4 -> ascii, 2 -> unicode)
    val docs = Gen.listOfN(60, Gen.chooseNum(0, 20).flatMap(Gen.listOfN(_, word))).sample.get
      .map(Option(_)) ++
      Seq(Some(Nil), Some(List("spark", "spark", "spark")), Some(List("a", null, "a")), None)
    Seq(1000, 7).foreach { n =>
      val df = docs.toDF("t").select(
        ArrayExprs.md5BucketArray(col("t"), n).as("native"),
        expr(s"transform(t, w -> CAST(conv(substring(md5(w), 1, 8), 16, 10) AS BIGINT) % $n)")
          .as("sql"))
      val rows = df.collect()
      assert(rows.length == docs.length)
      assert(rows.count(_.isNullAt(0)) == 1, "the null array must map to null")
      rows.foreach { r =>
        assert(r.isNullAt(0) == r.isNullAt(1))
        if (!r.isNullAt(0)) assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"n=$n")
      }
    }
  }

  test("MinHashPermSig equals a scalar mod-p permutation recompute") {
    import spark.implicits._
    val P = 2147483647L
    val hash = Gen.chooseNum(0L, (1L << 60) - 1)
    val docs = Gen.listOfN(60, Gen.chooseNum(1, 15).flatMap(Gen.listOfN(_, hash))).sample.get
    def scalar(hs: Seq[Long]): Seq[Long] =
      (0 until 8).map { i =>
        val a = ((i + 1) * 2654435761L) % P
        val b = ((i + 1) * 97531L) % P
        hs.map(h => (a * (h % P) + b) % P).min
      }
    val got = docs.toDF("h")
      .select(ArrayExprs.minhashPermSig(col("h"), 8).as("sig")).collect()
      .map(_.getSeq[Long](0))
    got.zip(docs.map(scalar)).foreach { case (g, w) => assert(g == w) }
  }
}
