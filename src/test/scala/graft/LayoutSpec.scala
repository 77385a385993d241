package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Layout

/** The Z-order claim, asserted on the measured fixture numbers: the
  * interleaved layout must sit at-or-below each single-axis layout's
  * bucket count on that layout's OFF axis (where min/max pruning
  * degrades to a near-full scan), and must never be the worst layout on
  * any query. Plus the interleave's bijectivity over the 10-bit domain —
  * the property that makes the bucket comparison fair (equal-width,
  * collision-free key spaces).
  */
class LayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def parquetFileCount(path: String): Int = {
    val kids = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
    kids.count(f => f.getName.endsWith(".parquet"))
  }

  test("morton interleave is a bijection on the 5+5-bit domain") {
    import spark.implicits._
    val n = spark.range(0, 1024).toDF("i")
      .select(Layout.zInterleave(
        org.apache.spark.sql.functions.col("i").cast("int").mod(32),
        (org.apache.spark.sql.functions.col("i") / 32).cast("int")).as("z"))
      .distinct().count()
    assert(n == 1024L)
  }

  test("z-order beats each major layout on its off-axis query") {
    val r = Layout.zorderPruning(spark, sf).collect().head
    val (aDay, aHour, aZ) = (r.getAs[Long]("a_day"), r.getAs[Long]("a_hour"), r.getAs[Long]("a_z"))
    val (bDay, bHour, bZ) = (r.getAs[Long]("b_day"), r.getAs[Long]("b_hour"), r.getAs[Long]("b_z"))
    // day-range query: hour-major is the off-axis (worst) layout
    assert(aZ < aHour, s"z ($aZ) must beat hour-major ($aHour) on the day query")
    // hour-band query: day-major is the off-axis layout
    assert(bZ < bDay, s"z ($bZ) must beat day-major ($bDay) on the hour query")
    // z is never the worst layout on either query
    assert(aZ <= math.max(aDay, aHour) && bZ <= math.max(bDay, bHour))
    info(s"day-query buckets: day=$aDay hour=$aHour z=$aZ; " +
      s"hour-query buckets: day=$bDay hour=$bHour z=$bZ")
  }

  test("persisted z-order: one file per bucket, footer stats ARE the envelope, pruning matches") {
    import scala.jdk.CollectionConverters._
    val r = Layout.zorderFilePruning(spark, sf).collect().head
    val root = new java.io.File(Layout.zorderFilesPath(sf))
    assert(root.exists, "zorder artifact not written")
    // exactly ONE data file per (layout, f) bucket directory — the
    // premise that makes per-file footer stats equal per-bucket envelopes
    val layoutDirs = root.listFiles().filter(_.isDirectory)
    assert(layoutDirs.map(_.getName).sorted.toSeq ==
      Seq("layout=day", "layout=hour", "layout=z"))
    val dataFiles = for {
      ld <- layoutDirs; fd <- ld.listFiles().filter(_.isDirectory)
    } yield {
      val pq = fd.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(pq.length == 1, s"${fd.getPath}: expected 1 data file, found ${pq.length}")
      (ld.getName, pq.head)
    }
    assert(dataFiles.nonEmpty)
    // REAL footer statistics of the z layout (ParquetFileReader, the
    // same min/max a pruning scan consults): recompute box-a's
    // files-touched from the footers alone — must equal the query's
    // read-back-row computation
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    var touchedA = 0L
    dataFiles.filter(_._1 == "layout=z").foreach { case (_, pf) =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(pf.getAbsolutePath), conf))
      try {
        var md = Int.MaxValue
        var xd = Int.MinValue
        reader.getFooter.getBlocks.asScala.foreach { b =>
          val st = b.getColumns.asScala
            .find(_.getPath.toDotString == "d").get.getStatistics
          assert(st != null && !st.isEmpty, s"${pf.getName}: no d stats in footer")
          md = math.min(md, st.genericGetMin.asInstanceOf[Number].intValue)
          xd = math.max(xd, st.genericGetMax.asInstanceOf[Number].intValue)
        }
        if (xd >= 10 && md <= 19) touchedA += 1
      } finally reader.close()
    }
    assert(touchedA == r.getAs[Long]("a_z_files"),
      s"footer-derived pruning ($touchedA) != query's (${r.getAs[Long]("a_z_files")})")
    // the z-order claim holds on REAL file envelopes too: z beats each
    // single-axis layout on that layout's off-axis box
    assert(r.getAs[Long]("a_z_files") < r.getAs[Long]("a_hour_files"),
      s"z ${r.getAs[Long]("a_z_files")} !< hour-major ${r.getAs[Long]("a_hour_files")} on day box")
    assert(r.getAs[Long]("b_z_files") < r.getAs[Long]("b_day_files"),
      s"z ${r.getAs[Long]("b_z_files")} !< day-major ${r.getAs[Long]("b_day_files")} on hour box")
    info(s"files touched — day box: day=${r.getAs[Long]("a_day_files")} " +
      s"hour=${r.getAs[Long]("a_hour_files")} z=${r.getAs[Long]("a_z_files")}; " +
      s"hour box: day=${r.getAs[Long]("b_day_files")} " +
      s"hour=${r.getAs[Long]("b_hour_files")} z=${r.getAs[Long]("b_z_files")}")
  }

  test("compaction: file count drops to ceil(bytes/target), rows preserved") {
    import graft.operators.Compact
    val compacted = Compact.compactedEvents(spark, sf)
    val before = parquetFileCount(Compact.smallPath(sf))
    val after = parquetFileCount(Compact.compactedPath(sf))
    assert(before == Compact.SmallFiles, s"staged layout has $before files")
    assert(after < before, s"compaction did not reduce files: $before -> $after")
    // the computed count: re-measure the staged directory the same way
    def dirBytes(f: java.io.File): Long = {
      val kids = Option(f.listFiles()).getOrElse(Array.empty)
      kids.map(k => if (k.isDirectory) dirBytes(k)
                    else if (k.getName.startsWith("_") || k.getName.startsWith(".")) 0L
                    else k.length()).sum
    }
    val want = math.max(1, math.ceil(
      dirBytes(new java.io.File(Compact.smallPath(sf))).toDouble /
        Compact.TargetFileBytes).toInt)
    assert(after == want, s"expected $want compacted files, found $after")
    assert(compacted.count() == graft.Tables.events(spark, sf).count())
    info(s"compacted $before files -> $after (target ${Compact.TargetFileBytes} B)")
  }
}
