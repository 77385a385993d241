package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions injector exposing the native expressions to
  * SQL — install with
  * `spark.sql.extensions=graft.functions.GraftExtensions` (or
  * [[GraftExtensions.register]] on a live session), then:
  *
  * {{{
  *   SELECT float_dot(a.embedding, b.embedding) ...
  *   SELECT minhash_sig(shingles, 64), simhash60(tokens), word_shingles(tokens, 3)
  * }}}
  *
  * This is the standard extension point ((c) in the build mandate's
  * preference order) — the same hook would carry custom optimizer Rules
  * or a SparkStrategy; none are needed for this surface (SURVEY §4).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._
  override def apply(ext: SparkSessionExtensions): Unit =
    entries.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {
  private def info(name: String, usage: String) =
    // the 11-arg constructor is the non-deprecated way to carry usage
    // text (the 5-arg form is deprecated since 3.0)
    new ExpressionInfo("graft.functions.ArrayExprs", null, name, usage,
      "", "", "", "", "", "", "built-in")

  private val entries: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("float_dot",
      info("float_dot", "float_dot(a, b) - dot product of two float arrays in double"),
      (args: Seq[Expression]) => ArrayExprs.FloatDot(args(0), args(1))),
    ("minhash_sig",
      info("minhash_sig", "minhash_sig(arr, k) - k-hash MinHash signature"),
      (args: Seq[Expression]) => ArrayExprs.MinHashSig(args(0),
        args(1).eval().asInstanceOf[Int])),
    ("simhash60",
      info("simhash60", "simhash60(tokens) - 60-bit md5-derived SimHash"),
      (args: Seq[Expression]) => ArrayExprs.SimHash60(args(0))),
    ("word_shingles",
      info("word_shingles", "word_shingles(tokens, n) - distinct word n-gram shingles"),
      (args: Seq[Expression]) => ArrayExprs.WordShingles(args(0),
        args(1).eval().asInstanceOf[Int])),
    ("sign_sketch_md5",
      info("sign_sketch_md5", "sign_sketch_md5(vec, bits) - md5-plane sign sketch (SQL-replayable)"),
      (args: Seq[Expression]) => ArrayExprs.SignSketchMd5(args(0),
        args(1).eval().asInstanceOf[Int])),
    ("bpe_encode",
      info("bpe_encode", "bpe_encode(tokens) - subword units under the shipped BPE merge table"),
      (args: Seq[Expression]) => graft.text.Bpe.BpeEncode(args(0), graft.text.Bpe.FrozenMerges)),
  )

  /** Register on an already-built session (test/driver convenience). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    entries.foreach { case (name, inf, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(FunctionIdentifier(name), inf, builder)
    }
}
