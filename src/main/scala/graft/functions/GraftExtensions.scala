package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import scala.reflect.{ClassTag, classTag}

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
  /** One SQL function: its name, usage text and builder; the
    * ExpressionInfo names the class of the expression it builds.
    */
  private def entry[E <: Expression : ClassTag](name: String, usage: String)
                                               (build: Seq[Expression] => E)
      : (String, ExpressionInfo, Seq[Expression] => Expression) =
    // the 11-arg constructor is the non-deprecated way to carry usage
    // text (the 5-arg form is deprecated since 3.0)
    (name, new ExpressionInfo(classTag[E].runtimeClass.getName, null, name, usage,
      "", "", "", "", "", "", "built-in"), build)

  private val entries: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    entry("float_dot", "float_dot(a, b) - dot product of two float arrays in double")(
      args => ArrayExprs.FloatDot(args(0), args(1))),
    entry("minhash_sig", "minhash_sig(arr, k) - k-hash MinHash signature")(
      args => ArrayExprs.MinHashSig(args(0), args(1).eval().asInstanceOf[Int])),
    entry("simhash60", "simhash60(tokens) - 60-bit md5-derived SimHash")(
      args => ArrayExprs.SimHash60(args(0))),
    entry("word_shingles", "word_shingles(tokens, n) - distinct word n-gram shingles")(
      args => ArrayExprs.WordShingles(args(0), args(1).eval().asInstanceOf[Int])),
    entry("sign_sketch_md5",
      "sign_sketch_md5(vec, bits) - md5-plane sign sketch (SQL-replayable)")(
      args => ArrayExprs.SignSketchMd5(args(0), args(1).eval().asInstanceOf[Int])),
    entry("bpe_encode",
      "bpe_encode(tokens) - subword units under the shipped BPE merge table")(
      args => graft.text.Bpe.BpeEncode(args(0), graft.text.Bpe.FrozenMerges)),
  )

  /** Register on an already-built session (test/driver convenience). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    entries.foreach { case (name, inf, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(FunctionIdentifier(name), inf, builder)
    }
}
