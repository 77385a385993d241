package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.Tbl
import graft.functions.LogSumExp

class TblSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  /** Round-trip: render the parquet fixture in the reference's positional
    * .tbl layout (unused trailing TPC-H columns filled), read it back via
    * Tbl, and require value equality with the fixture.
    */
  test("lineitem .tbl round-trips to the fixture schema") {
    val out = "target/tbl_roundtrip"
    val li = Tables.lineitem(spark, sf)
    li.select(concat_ws("|",
        col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"),
        date_format(col("l_shipdate"), "yyyy-MM-dd"),
        lit("1996-01-01"), lit("1996-01-01"), lit("NONE"), lit("MAIL"), lit("x")))
      .coalesce(1).write.mode("overwrite").text(s"$out/lineitem.tbl")

    val back = Tbl.table(spark, out, "lineitem")
    assert(back.schema.fieldNames.toSeq ==
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate"))
    def key(df: org.apache.spark.sql.DataFrame) = df.select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("d"))
      .collect().map(_.toSeq).toSet
    assert(key(back) == key(li))
    assert(back.count() == li.count())
  }

  test("a query runs unchanged on .tbl input (Q1 shape)") {
    val out = "target/tbl_roundtrip"
    val cnt = Tbl.table(spark, out, "lineitem")
      .filter(Tables.dateMatches(col("l_shipdate"), "1996-03"))
      .count()
    val want = Tables.lineitem(spark, sf)
      .filter(Tables.dateMatches(col("l_shipdate"), "1996-03"))
      .count()
    assert(cnt == want)
  }
}

class LogSumExpSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("two-pass LSE matches a scalar stable computation to 1e-9") {
    val got = LogSumExp.lseByFlag(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val rows = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_quantity")).collect()
      .map(r => (r.getString(0), math.log(r.getDouble(1) + 1)))
    val want = rows.groupBy(_._1).map { case (k, xs) =>
      val v = xs.map(_._2)
      val mx = v.max
      k -> (mx + math.log(v.map(x => math.exp(x - mx)).sum))
    }
    got.foreach { case (k, lse) =>
      assert(math.abs(lse - want(k)) < 1e-6, s"flag $k: $lse vs ${want(k)}")
    }
  }

  test("single-pass Aggregator is fp-equivalent to the two-pass plan") {
    import spark.implicits._
    val agg = udaf(new LogSumExp.LseAgg)
    val one = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), log(col("l_quantity") + 1).as("x"))
      .groupBy(col("l_returnflag")).agg(agg(col("x")).as("lse"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val two = LogSumExp.lseByFlag(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    two.foreach { case (k, v) => // twoPass rounds to 6dp, so agreement is bounded by the rounding step
      assert(math.abs(one(k) - v) < 1e-6, s"flag $k") }
  }

  test("LSE beats naive sum-of-exp on extreme magnitudes") {
    import spark.implicits._
    val df = Seq(("g", 1000.0), ("g", 1000.1), ("g", 999.9)).toDF("g", "x")
    val lse = LogSumExp.twoPass(df, "g", col("x")).head().getDouble(1)
    // naive exp overflows to +Inf; stable answer ≈ 1000.1 + ln(1+e^-0.1+e^-0.2)
    assert(!lse.isInfinite)
    assert(math.abs(lse - 1001.1019428) < 1e-3)
  }
}

class GraftExtensionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("native expressions are callable from SQL after registration") {
    graft.functions.GraftExtensions.register(spark)
    import spark.implicits._
    val called = Set("float_dot", "simhash60", "minhash_sig", "word_shingles",
      "sign_sketch_md5", "bpe_encode")
    val sql =
      """SELECT float_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
                          array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d,
                simhash60(array('hello', 'world')) AS sh,
                size(minhash_sig(array('a b c'), 8)) AS msz,
                word_shingles(array('a','b','c','d'), 3) AS ws,
                size(sign_sketch_md5(array(CAST(0.5 AS FLOAT)), 16)) AS sksz,
                bpe_encode(array('the')) AS bpe"""
    // every registered graft function is exercised here: a function
    // cannot be registered without this SQL calling it
    val registry = spark.sessionState.functionRegistry
    val classes = registry.listFunction()
      .flatMap(id => registry.lookupFunction(id).map(id.funcName -> _.getClassName))
      .filter(_._2.startsWith("graft.")).toMap
    assert(classes.keySet == called)
    // each function names the class of the expression it builds
    assert(classes("bpe_encode") == "graft.text.Bpe$BpeEncode")
    assert(classes("float_dot") == "graft.functions.ArrayExprs$FloatDot")
    called.foreach(f => assert(sql.contains(s"$f("), s"$f is not called"))
    val row = spark.sql(sql).head()
    assert(row.getAs[Double]("d") == 11.0)
    assert(row.getAs[Long]("sh") >= 0L)
    assert(row.getAs[Int]("msz") == 8)
    assert(row.getAs[scala.collection.Seq[String]]("ws") == Seq("a b c", "b c d"))
    assert(row.getAs[Int]("sksz") == 16)
    assert(row.getAs[scala.collection.Seq[String]]("bpe") ==
      graft.text.Bpe.encodeWord("the", graft.text.Bpe.FrozenMerges))
  }

  test("a new session built with the extensions class resolves the functions") {
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // getOrCreate may return the existing session; registration still must resolve
    graft.functions.GraftExtensions.register(s2)
    assert(s2.sql("SELECT simhash60(array('x')) AS h").head().getLong(0) >= 0)
  }
}

class BucketedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("bucketed fact join plans with no exchange and matches the shuffled join") {
    graft.sources.Bucketed.bucketizeFacts(spark, sf, buckets = 8)
    val df = graft.sources.Bucketed.coLocatedJoin(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey")
      && !plan.contains("Exchange hashpartitioning(o_orderkey"),
      s"join inputs still shuffle:\n$plan")
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Tables.lineitem(spark, sf).select(col("l_orderkey"))
      .join(Tables.orders(spark, sf).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }
}
