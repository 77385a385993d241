package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = Sessions.builder("4")
    .appName("graft-test")
    .config("spark.sql.warehouse.dir", "target/test-warehouse")
    .getOrCreate()
  val sf = "/root/testdata/sf0.001"
}

class RelationalSpec extends AnyFunSuite {
  import graft.relational.Relational
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("q1 counts only matching ship months") {
    val cnt = Relational.q1(spark, sf, "1996-03").head().getLong(0)
    assert(cnt > 0)
    val total = Tables.lineitem(spark, sf).count()
    assert(cnt < total)
  }

  test("q2 returns at most 20 ordered orderkeys with clerk column") {
    val rows = Relational.q2(spark, sf, "1996-03").collect()
    assert(rows.length <= 20 && rows.nonEmpty)
    val keys = rows.map(_.getAs[Long]("o_orderkey"))
    assert(keys.sameElements(keys.sorted))
  }

  test("q3 resolves part and supplier names deterministically") {
    val rows = Relational.q3(spark, sf, "1996-03-15").collect()
    assert(rows.forall(r => r.getAs[String]("p_name") != null && r.getAs[String]("s_name") != null))
  }

  test("q4 nation volumes sum to filtered lineitem count") {
    val rows = Relational.q4(spark, sf, "1996").collect()
    val total = rows.map(_.getAs[Long]("cnt")).sum
    val expect = Relational.q1(spark, sf, "1996").head().getLong(0)
    assert(total == expect) // every order has a customer with a valid nation
  }

  test("q6 averages equal sums over counts") {
    val rows = Relational.q6(spark, sf, "1996").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val avg = r.getAs[Double]("avg_qty")
      val derived = r.getAs[Double]("sum_qty") / r.getAs[Long]("count_order")
      assert(math.abs(avg - derived) < 1e-4)
    }
  }

  test("q7 is sorted by revenue descending") {
    val revs = Relational.q7(spark, sf, "1997-06-30").collect().map(_.getAs[Double]("revenue"))
    assert(revs.nonEmpty && revs.length <= 10)
    assert(revs.sameElements(revs.sortBy(-_)))
  }
}
