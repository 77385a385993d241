package graft

import org.apache.spark.SpecBus.jobsOf
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** The fixture loaders' per-session schema cache ([[Tables.table]]): a
  * repeated read starts no schema job, a new session infers afresh, and
  * every call still hands back a fresh frame with the same types.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("building q1_shipdate_count again starts no Spark job") {
    val build = SparkEntry.queries("q1_shipdate_count")
    build(spark, sf)
    val jobs = jobsOf(spark)(build(spark, sf))
    assert(jobs == 0, "the second build re-inferred a fixture schema")
  }

  test("a new session infers the schema again, then reuses it") {
    Tables.lineitem(spark, sf)
    val fresh = spark.newSession()
    val first = jobsOf(fresh)(Tables.lineitem(fresh, sf))
    val second = jobsOf(fresh)(Tables.lineitem(fresh, sf))
    assert(first >= 1, "a new session must not see another session's schemas")
    assert(second == 0)
  }

  test("events keeps its raw and normalized ts types on the first and second read") {
    val fresh = spark.newSession()
    Tables.requireNanosAsLong(fresh)
    val raw = Seq.fill(2)(Tables.table(fresh, sf, "events").schema("ts").dataType)
    val normalized = Seq.fill(2)(Tables.events(fresh, sf).schema("ts").dataType)
    assert(raw.distinct.size == 1 && normalized == Seq(TimestampType, TimestampType))
  }

  test("a NANOS ts surfaces as LongType under nanosAsLong on every read") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
    val dir = java.nio.file.Files.createTempDirectory("graft-nanos-")
    try {
      val schema = Types.buildMessage()
        .required(INT64).named("user_id")
        .required(INT64).as(LogicalTypeAnnotation.timestampType(false,
          LogicalTypeAnnotation.TimeUnit.NANOS)).named("ts")
        .named("events")
      val writer = ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(dir.resolve("events.parquet").toUri))
        .withType(schema).build()
      val nanos = 1700000000123456789L
      try writer.write(new SimpleGroupFactory(schema).newGroup()
        .append("user_id", 1L).append("ts", nanos))
      finally writer.close()
      val fresh = spark.newSession()
      Tables.requireNanosAsLong(fresh)
      for (_ <- 1 to 2) {
        assert(Tables.table(fresh, dir.toString, "events").schema("ts").dataType == LongType)
        val ev = Tables.events(fresh, dir.toString)
        assert(ev.schema("ts").dataType == TimestampType)
        assert(ev.select(unix_micros(col("ts"))).head().getLong(0) == nanos / 1000)
      }
    } finally Caches.deleteTree(dir)
  }

  test("a self-join of two lineitem reads still resolves") {
    val a = Tables.lineitem(spark, sf)
    val b = Tables.lineitem(spark, sf)
    val ids = (df: org.apache.spark.sql.DataFrame) => df.queryExecution.analyzed.output.map(_.exprId)
    assert(ids(a).intersect(ids(b)).isEmpty, "two reads must not share attribute ids")
    val pairs = a.join(b, a("l_orderkey") === b("l_orderkey") &&
      a("l_linenumber") =!= b("l_linenumber")).count()
    // the same count from the driver: pairs within an order minus those
    // sharing a line number
    val keys = a.select(col("l_orderkey"), col("l_linenumber")).collect()
      .map(r => (r.get(0), r.get(1))).toSeq
    def squares(ks: Seq[Any]): Long = ks.groupBy(identity).values.map(g => g.size.toLong * g.size).sum
    val want = squares(keys.map(_._1)) - squares(keys)
    assert(pairs == want)
  }
}
