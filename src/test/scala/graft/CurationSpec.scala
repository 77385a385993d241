package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.analysis.Curation

class CurationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("priority sample: matches brute-force top-k and the max(w, tau) estimator") {
    val k = 100
    // brute force on the driver from the same per-doc priorities the
    // operator computes (500 docs at the spec tier)
    val pri = Tables.documents(spark, sf).select(
      col("doc_id").cast("long"), col("n_chars").cast("long"),
      ((col("n_chars").cast("double") * lit(4294967296.0)) /
        (expr("conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)")
          .cast("long") + lit(1)).cast("double")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val ordered = pri.sortBy { case (id, _, q) => (-q, id) }
    val tau = ordered(k)._3
    val expect = ordered.take(k)
      .map { case (id, w, q) => (id, w, math.max(w.toDouble, tau)) }.toSet

    val got = Curation.prioritySample(spark, sf, k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(got.size == k)
    assert(got.map(t => (t._1, t._2)) === expect.map(t => (t._1, t._2)),
      "selected set must equal the brute-force top-k by priority")
    // w_hat agrees with max(w, tau) on the 6-dp grid
    val tau6 = BigDecimal(tau).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    got.foreach { case (id, w, wHat) =>
      val e = math.max(w.toDouble, tau6)
      assert(math.abs(wHat - e) < 1e-6, s"doc $id: w_hat $wHat vs expected $e")
    }
    // the priority-sampling estimate of total corpus weight is within a
    // loose factor of truth (statistical sanity, not a tolerance gate)
    val est = got.toSeq.map(_._3).sum
    val truth = pri.map(_._2.toDouble).sum
    assert(est > truth / 3 && est < truth * 3,
      s"subset-sum estimate $est implausible vs true $truth")
  }

  test("source report: partitions the corpus, rates bounded, dup math checks out") {
    val rows = Curation.sourceReport(spark, sf).collect()
    assert(rows.nonEmpty)
    val corpus = Tables.documents(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == corpus,
      "per-source doc counts must partition the corpus")
    rows.foreach { r =>
      Seq("pass_rate", "dup_rate", "pii_rate").foreach { c =>
        val v = r.getAs[Double](c)
        assert(v >= 0.0 && v <= 1.0, s"$c out of range: $v")
      }
      assert(r.getAs[Long]("n_train") <= r.getAs[Long]("n_docs"))
      Option(r.getAs[java.lang.Double]("mean_boiler_frac")).foreach(v =>
        assert(v >= 0.0 && v <= 1.0, s"mean_boiler_frac out of range: $v"))
    }
    // total dup count re-derived from the report equals the corpus-level
    // non-canonical count of the (already-verified) exact-dedup window
    val dupTotal = rows.map(r =>
      math.round(r.getAs[Double]("dup_rate") * r.getAs[Long]("n_docs"))).sum
    val expect = graft.dedup.Dedup.exact(spark, sf)
      .where(col("doc_id") =!= col("canonical_id")).count()
    assert(math.abs(dupTotal - expect) <= rows.length,
      s"dup accounting drifted: $dupTotal vs $expect (rounding tolerance ${rows.length})")
  }

  test("stratified sample: at most k per language, ranks contiguous from 1") {
    val rows = Curation.stratifiedSample(spark, sf, perStratum = 50).collect()
    val byLang = rows.groupBy(_.getAs[String]("lang"))
    byLang.foreach { case (lang, rs) =>
      assert(rs.length <= 50, s"$lang oversampled")
      val rks = rs.map(_.getAs[Long]("rk")).sorted
      assert(rks.sameElements(1L to rks.length), s"$lang ranks not contiguous")
    }
  }

  test("importance sampling selects toward the target (en) distribution") {
    val sel = Curation.importanceSample(spark, sf, topK = 100).collect()
    assert(sel.length == 100)
    val ranks = sel.map(_.getAs[Int]("rank")).sorted
    assert(ranks.sameElements(1 to 100), "ranks not contiguous from 1")
    // scores must be non-increasing along the rank order
    val ordered = sel.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("mean_logratio"))
    assert(ordered.zip(ordered.tail).forall { case (a, b) => a >= b })
    // selection quality: the en share among selected docs must beat the
    // corpus base rate (the entire point of importance weighting)
    val langOf = graft.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val selEn = sel.count(r => langOf(r.getAs[Long]("doc_id")) == "en").toDouble / sel.length
    val baseEn = langOf.values.count(_ == "en").toDouble / langOf.size
    assert(selEn > baseEn,
      f"selected en-share $selEn%.2f should exceed base rate $baseEn%.2f")
  }

  test("mixture sample keeps higher-rate sources more often") {
    val kept = Curation.mixtureSample(spark, sf)
      .groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // src0 keeps 100% — every doc of src0 must survive
    val src0Total = Tables.documents(spark, sf)
      .filter(col("source") === "src0").count()
    assert(kept.getOrElse("src0", 0L) == src0Total)
    // monotone-ish: the top-rate half must keep at least as many in total
    // as the bottom-rate half (exact counts are md5-deterministic)
    val hi = (0 to 9).map(i => kept.getOrElse(s"src$i", 0L)).sum
    val lo = (10 to 19).map(i => kept.getOrElse(s"src$i", 0L)).sum
    assert(hi >= lo)
  }

  test("temperature sample: quotas flatten the source distribution, ranks valid") {
    import org.apache.spark.sql.functions._
    val rows = graft.analysis.Curation.temperatureSample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    // per source: ranks contiguous 1..k_s, k_s consistent
    rows.groupBy(_._2).foreach { case (s, rs) =>
      val ks = rs.head._5
      assert(rs.map(_._3).sorted.sameElements(1L to ks), s"$s ranks")
      assert(rs.forall(_._5 == ks))
    }
    // T = 1/2 flattens: every source's SAMPLE share is closer to uniform
    // than its corpus share — small sources gain, large sources shed
    val nBySrc = rows.groupBy(_._2).map { case (s, rs) => s -> rs.head._4 }
    val kBySrc = rows.groupBy(_._2).map { case (s, rs) => s -> rs.head._5 }
    val nTot = nBySrc.values.sum.toDouble
    val kTot = kBySrc.values.sum.toDouble
    val uni = 1.0 / nBySrc.size
    nBySrc.keys.foreach { s =>
      val corpusShare = nBySrc(s) / nTot
      val sampleShare = kBySrc(s) / kTot
      assert(math.abs(sampleShare - uni) <= math.abs(corpusShare - uni) + 1e-9,
        s"$s: sample share $sampleShare not flatter than corpus $corpusShare")
    }
  }

  test("chunks cover every token and respect the stride geometry") {
    val docToks = Tables.documents(spark, sf)
      .select(col("doc_id"), graft.text.Text.tokenize(col("text")).as("toks"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[String](1)).toMap
    val chunks = Curation.chunk(spark, sf).collect()
    val byDoc = chunks.groupBy(_.getAs[Long]("doc_id"))
    byDoc.foreach { case (id, cs) =>
      val toks = docToks(id)
      val sorted = cs.sortBy(_.getAs[Long]("chunk_idx"))
      // chunk i starts at i*stride and is the slice the source holds
      sorted.foreach { c =>
        val i = c.getAs[Long]("chunk_idx").toInt
        val expect = toks.slice(i * 6, i * 6 + 8).mkString(" ")
        assert(c.getAs[String]("chunk_text") == expect)
      }
      // the last chunk reaches the end of the document
      val last = sorted.last
      assert(last.getAs[Long]("chunk_idx").toInt * 6 + last.getAs[Long]("n_chunk_toks") >= toks.length)
    }
    assert(byDoc.keySet == docToks.filter(_._2.nonEmpty).keySet)
  }

  test("packing: bins stay within capacity except single oversized docs") {
    val rows = Curation.pack(spark, sf).collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("bin_id"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("doc_id")))
    val byBin = rows.groupBy(t => (t._1, t._2))
    byBin.foreach { case (bin, docs) =>
      val total = docs.map(_._3).sum
      assert(total <= 48 || docs.length == 1,
        s"bin $bin overfilled with ${docs.length} docs / $total tokens")
    }
    // next-fit leaves no two consecutive bins that could have merged:
    // the doc that OPENED bin k+1 (its lowest doc_id) must not have fit
    // into bin k
    rows.groupBy(_._1).foreach { case (_, shard) =>
      val bins = shard.groupBy(_._2).toSeq.sortBy(_._1)
      bins.sliding(2).foreach {
        case Seq((_, a), (_, b)) =>
          val opener = b.minBy(_._4)._3
          assert(a.map(_._3).sum + opener > 48,
            "next-fit would have continued the previous bin")
        case _ =>
      }
    }
    assert(rows.length == Tables.documents(spark, sf).count())
  }

  test("pack manifest reconciles with the packing it summarizes") {
    val packed = Curation.pack(spark, sf).collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("bin_id"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("doc_id")))
    val man = Curation.packManifest(spark, sf).collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("bin_id")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_tokens"),
          r.getAs[Long]("first_doc"), r.getAs[Long]("last_doc"))).toMap
    val want = packed.groupBy(t => (t._1, t._2)).view.mapValues { docs =>
      (docs.length.toLong, docs.map(_._3).sum, docs.map(_._4).min, docs.map(_._4).max)
    }.toMap
    assert(man == want)
    assert(man.values.map(_._1).sum == packed.length)
  }

  test("leak-free split: no near-dup component straddles splits; guard is live") {
    import org.apache.spark.sql.functions._
    val lf = Curation.leakFreeSplit(spark, sf)
    // leakage-freedom by construction, asserted anyway: one split per component
    val mixed = lf.groupBy(col("canonical_id"))
      .agg(countDistinct(col("split")).as("n")).where(col("n") > 1).count()
    assert(mixed == 0L, s"$mixed components straddle splits")
    assert(lf.count() == Tables.documents(spark, sf).count())
    // the guard must be OBSERVABLE on this fixture: some non-canonical
    // member's naive per-doc bucket must disagree with its inherited
    // split (else the test corpus couldn't catch a regression to naive)
    val naive = graft.operators.Skew.hashSplit(spark, sf)
      .withColumnRenamed("split", "naive_split")
    val moved = lf.join(naive, "doc_id")
      .where(col("split") =!= col("naive_split")).count()
    assert(moved > 0, "no doc moved splits — planted dups not exercising the guard")
  }

  test("winnowing guarantees: window coverage and shared-substring detection") {
    import spark.implicits._
    import graft.analysis.TextAnalysis
    // two docs sharing an EMBEDDED 8-token run (≥ k+w−1 = 6) inside
    // otherwise-disjoint text, plus an unrelated doc
    val shared = "the quick brown fox jumps over lazy dogs"
    val docs = Seq(
      (1L, s"alpha beta gamma $shared delta epsilon zeta"),
      (2L, s"one two three four five $shared six seven"),
      (3L, "completely different words that never overlap with anything here ok"))
      .toDF("doc_id", "text")
      .withColumn("toks", graft.text.Text.tokenize(col("text")))
    val fps = TextAnalysis.winnowOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // 1) shared ≥ k+w−1 run ⇒ at least one shared fingerprint VALUE
    val f1 = fps.filter(_._1 == 1L).map(_._3).toSet
    val f2 = fps.filter(_._1 == 2L).map(_._3).toSet
    assert((f1 intersect f2).nonEmpty, "shared 8-token run produced no shared fingerprint")
    // 2) density/coverage: within each doc, consecutive selected
    //    positions are ≤ w apart (every window contributes a pick)
    fps.groupBy(_._1).foreach { case (id, rows) =>
      val pos = rows.map(_._2).sorted
      val gaps = pos.zip(pos.tail).map { case (a, b) => b - a }
      assert(gaps.forall(_ <= TextAnalysis.WinnowW),
        s"doc $id fingerprint gap exceeds w: ${gaps.max}")
    }
    // 3) the unrelated doc shares nothing with doc 1
    val f3 = fps.filter(_._1 == 3L).map(_._3).toSet
    assert((f1 intersect f3).isEmpty, "disjoint docs share a fingerprint")
  }

  test("native winnow equals the declarative relational form, BOTH hash families") {
    import org.apache.spark.sql.functions.col
    import graft.analysis.TextAnalysis
    // the whole fixture corpus, not a toy: every doc length/duplicate
    // shape the generator plants goes through both implementations
    val docs = graft.text.Text.tokensBase(spark, sf).withColumnRenamed("tokens", "toks")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val native = rows(TextAnalysis.winnowOn(docs))
    val decl = rows(TextAnalysis.winnowDeclarative(docs))
    assert(native.nonEmpty, "winnow produced no fingerprints")
    assert(native == decl, "native picks diverge from the declarative window form")
  }

  test("winnowPairs covers every true near-dup pair") {
    // Winnowing's guarantee — any shared run ≥ k+w−1 tokens yields ≥1
    // shared fingerprint — bounds presence per shared run, not pick
    // counts, so every true near-dup pair (exact n-gram Jaccard ≥ 0.5 —
    // long shared runs) must share at least one fingerprint; a short
    // true dup can still sit below the registered n_shared cut.
    Caches.releaseAll()
    try {
      import graft.dedup.Dedup
      // minShared = 1 exposes every pair sharing a fingerprint
      val nShared = Dedup.winnowPairs(spark, sf, minShared = 1).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val all = nShared.keySet
      assert(nShared.values.exists(_ >= 3),
        "fixture must contain winnow-detectable near-dups")
      val truth = Dedup.ngramJaccardPairs(spark, sf, minJaccard = 0.5).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(truth.nonEmpty, "fixture must plant exact near-dups")
      assert(truth.subsetOf(all), s"winnow missed true pairs: ${truth -- all}")
    } finally Caches.releaseAll()
  }
}
