package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.Dedup
import graft.sim.Similarity
import graft.analysis.TextAnalysis
import graft.events.Events

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("exact dedup: canonical is min of group and groups partition the corpus") {
    val rows = Dedup.exact(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    rows.foreach(r => assert(r.getAs[Long]("canonical_id") <= r.getAs[Long]("doc_id")))
  }

  test("normalized exact dedup REFINES raw dedup: every raw group maps into one norm group") {
    val rows = Dedup.exactNormalized(spark, sf).collect()
      .map(r => (r.getString(1), r.getString(2), r.getAs[Long]("group_size")))
    // normalization is a function of the raw text: equal raw fp ⇒ equal
    // normalized fp, so norm groups are unions of raw groups (checked on
    // the PURE production form — no fixture injection)
    rows.groupBy(_._1).foreach { case (fp, g) =>
      assert(g.map(_._2).distinct.length == 1, s"raw group $fp split across norm groups")
    }
    // and norm groups can only be at least as large as their raw groups
    val rawSize = rows.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    rows.foreach { case (fp, _, nSize) => assert(nSize >= rawSize(fp)) }
  }

  test("exactNormalized production API is PURE: fingerprints match the raw corpus, no fixture") {
    import org.apache.spark.sql.functions.{col, md5}
    // r12 ADVICE: the production entry point must fingerprint the REAL
    // documents — the planted boilerplate belongs only to the registry
    // binding (exactNormalizedGate). Raw fp of every doc must equal
    // md5(text) of the untouched corpus row.
    val rawFp = Tables.documents(spark, sf)
      .select(col("doc_id"), md5(col("text")).as("fp")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaApi = Dedup.exactNormalized(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(viaApi.nonEmpty)
    viaApi.foreach { case (id, fp) =>
      assert(fp == rawFp(id), s"doc $id fingerprinted fixture text, not corpus text")
    }
  }

  test("exact-norm gate fixture: planted vertical-tab docs collapse under the pinned class") {
    import org.apache.spark.sql.functions.col
    val fix = Dedup.normFixture(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val planted = fix.filter(_._1 % 17 == 0)
    assert(planted.nonEmpty, "fixture must plant whitespace-mangled docs")
    // the planted spans carry the characters Java's \s and RE2's \s
    // disagree on — vertical tab in EVERY planted doc
    planted.values.foreach { t =>
      assert(t.contains('\u000B'), s"planted doc lost its vertical tab: ${t.take(40)}")
    }
    assert(planted.values.exists(_.contains('\f')), "no form feed planted")
    assert(planted.values.exists(_.contains('\t')), "no tab planted")
    // the docs differ raw (case/trailing whitespace) but normalize into
    // exactly the 3 residue templates — norm-dedup WIDENS groups here
    val norm = Dedup.exactNormalizedGate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getAs[Long]("group_size")))
      .filter(_._1 % 17 == 0)
    assert(norm.map(_._3).distinct.length == 3,
      "planted docs must land in exactly 3 norm groups (doc_id % 3)")
    assert(norm.map(_._2).distinct.length > 3,
      "planted raw fingerprints must differ (case/whitespace variants)")
    norm.foreach { case (id, _, _, gs) =>
      assert(gs > 1, s"planted doc $id must sit in a widened norm group")
    }
  }

  test("minhash+LSH finds exactly the exact-jaccard pairs at 0.5") {
    val lsh = pairs(Dedup.minhashPairs(spark, sf))
    val exact = pairs(Dedup.ngramJaccardPairs(spark, sf, minJaccard = 0.5))
    assert(lsh == exact)
    assert(exact.nonEmpty) // the generator plants near-dups at every sf
  }

  test("fixture guard: the exact-jaccard oracle stays safe for 16x4 LSH") {
    // The dedup_minhash/dedup_groups oracles enumerate ALL exact-jaccard
    // >= 0.5 pairs, while 16x4 banding's recall is only near-certain for
    // j >~ 0.8 (miss prob (1-j^4)^16: 2e-4 at j=0.8, 0.35 at j=0.5).
    // Oracle equality therefore RELIES on the corpus: (a) NO pair may sit
    // in [0.5, 0.8), and (b) any pair in [0.8, 0.9) must actually be
    // caught by this (deterministic) hash family — asserted here so a new
    // fixture fails loudly instead of as a silent driver hash mismatch.
    val exact = Dedup.ngramJaccardPairs(spark, sf, minJaccard = 0.5)
      .select("d1", "d2", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val weak = exact.filter(_._2 < 0.8)
    assert(weak.isEmpty, s"pairs in LSH's low-recall band [0.5, 0.8): $weak")
    val marginal = exact.filter { case (_, j) => j >= 0.8 && j < 0.9 }.keySet
    val lsh = pairs(Dedup.minhashPairs(spark, sf))
    assert(marginal.subsetOf(lsh),
      s"marginal-band pairs missed by LSH: ${marginal -- lsh}")
  }

  test("ngram jaccard at 0.2 equals 0.5 set on this corpus (clean gap)") {
    assert(pairs(Dedup.ngramJaccardPairs(spark, sf)) ==
      pairs(Dedup.ngramJaccardPairs(spark, sf, minJaccard = 0.5)))
  }

  test("stop-shingle cap: planted dups still surface with the cap on") {
    val base = pairs(Dedup.ngramJaccardPairs(spark, sf, minJaccard = 0.5))
    // A generous cap (no fixture shingle is boilerplate-hot) must change
    // nothing; jaccard values must match pair-for-pair, not just the set.
    val capped = Dedup.ngramJaccardPairs(spark, sf, minJaccard = 0.5,
      maxShingleDf = Some(1000L))
    assert(pairs(capped) == base)
    // An aggressive cap may only shrink jaccard (conservative under-count):
    // every surviving pair must also be a base pair, and the planted
    // near-dups (which share many LOW-df shingles) must still surface.
    val tight = Dedup.ngramJaccardPairs(spark, sf, minJaccard = 0.5,
      maxShingleDf = Some(5L))
    val tightPairs = pairs(tight)
    assert(tightPairs.subsetOf(base))
    assert(tightPairs.nonEmpty, "aggressive cap killed all planted dups")
    // value-level undercount: with the threshold lifted, every pair's
    // capped jaccard is <= its uncapped jaccard, never above
    def jmap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    val baseJ = jmap(Dedup.ngramJaccardPairs(spark, sf, minJaccard = 0.01))
    val cappedJ = jmap(Dedup.ngramJaccardPairs(spark, sf, minJaccard = 0.01,
      maxShingleDf = Some(2L)))
    assert(cappedJ.keySet.subsetOf(baseJ.keySet))
    cappedJ.foreach { case (k, j) =>
      assert(j <= baseJ(k) + 1e-9, s"cap INCREASED jaccard for $k: $j > ${baseJ(k)}")
    }
    // cap=2 must genuinely drop shingles at this tier (df>2 exists)
    val changed = cappedJ.size < baseJ.size ||
      cappedJ.exists { case (k, j) => j < baseJ(k) - 1e-12 }
    assert(changed, "cap=2 was a no-op; pick a smaller cap")
  }

  test("skew tier: cap removes boilerplate candidate mass, dup families survive") {
    val r = Dedup.ngramSkew(spark, sf).head()
    val nDocs = r.getAs[Long]("n_docs")
    val hot = r.getAs[Long]("n_hot_keys")
    val uncapped = r.getAs[Long]("cand_uncapped")
    val capped = r.getAs[Long]("cand_capped")
    val nPairs = r.getAs[Long]("n_pairs")
    // the synthetic templates must actually create hot keys at this tier
    assert(hot > 0, "no shingle exceeded the cap — boilerplate not hot enough")
    assert(nDocs > 0)
    // the headline claim: the cap removes at least 90% of the candidate
    // mass the uncapped self-join would have generated (measured 23x at
    // this tier, ~150x at sf0.1)
    assert(capped * 10 <= uncapped,
      s"cap reduction under 10x: capped=$capped uncapped=$uncapped")
    // signal survives the cap: every source doc's replica family shares
    // nearly all content shingles (df = replicas <= cap), so at least
    // the C(3,2) within-family pairs must clear 0.2 jaccard
    assert(nPairs >= nDocs, s"pairs $nPairs < replica-family floor $nDocs")
  }

  test("minhash measurement tier: replica clusters surface, counts coherent") {
    // the registered dedup_minhash_big (portable md5 mod-p family)
    val row = Dedup.minhashBigPortable(spark, sf).head()
    val (nDocs, nCand, nPairs) =
      (row.getAs[Long]("n_docs"), row.getAs[Long]("n_candidates"), row.getAs[Long]("n_pairs"))
    import org.apache.spark.sql.functions._
    // exact survivor count: replica 0 shingles iff >= 3 tokens, replicas
    // 1..9 append one token so they shingle iff >= 2 tokens originally
    val tokCounts = Tables.documents(spark, sf)
      .select(size(graft.text.Text.tokenize(col("text"))).as("t"))
      .collect().map(_.getInt(0))
    val expected = tokCounts.map(t => (if (t >= 3) 1 else 0) + (if (t >= 2) 9 else 0)).sum
    assert(nDocs == expected, s"expected $expected inflated docs, got $nDocs")
    val base = tokCounts.count(_ >= 3)
    assert(nPairs <= nCand, "verified pairs exceed candidates")
    // each original doc's 10-replica cluster should verify as near-dups
    // almost completely (45 pairs per cluster at J~0.9+); demand at least
    // half to keep the bound robust to short docs
    assert(nPairs >= base * 45 / 2, s"replica clusters under-recovered: $nPairs")
  }

  test("capped index tiers agree: the x1 big tier equals the fixture capped pairs") {
    // replica 0 of the inflated corpus IS the base corpus (same doc ids,
    // same shingles), so at replicas = 1 and the fixture cap the x10
    // tier's summary must count exactly the fixture tier's pairs: every
    // pair sharing a kept shingle (n_candidates, i.e. minJaccard 0) and
    // the verified pairs at the default 0.2 threshold (n_pairs)
    val cap = Dedup.StopShingleDf
    val row = Dedup.ngramCappedBig(spark, sf, replicas = 1, cap = cap).head()
    assert(row.getAs[Long]("n_pairs") ==
      Dedup.ngramJaccardPairs(spark, sf, maxShingleDf = Some(cap)).count())
    assert(row.getAs[Long]("n_candidates") ==
      Dedup.ngramJaccardPairs(spark, sf, minJaccard = 0.0, maxShingleDf = Some(cap)).count())
    assert(row.getAs[Long]("n_pairs") > 0)
  }

  test("capped shingle index equals a df-filtered full index; pairs match a brute force") {
    import org.apache.spark.sql.functions._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // small random corpora over a 12-shingle vocabulary, so the df
    // spectrum spans 1 .. #docs and every cap cuts something different
    val vocab = (0 until 12).map(i => s"w$i x$i y$i")
    val corpus = Gen.choose(2, 9).flatMap(nd => Gen.listOfN(nd,
      Gen.choose(1, 6).flatMap(k => Gen.pick(k, vocab)).map(_.toSeq.distinct)))
    for (seed <- 1L to 4L) {
      val docs = corpus.pureApply(Gen.Parameters.default, Seed(seed))
        .zipWithIndex.map { case (sh, i) => (i.toLong, sh) }
      val sh = docs.toDF("doc_id", "sh")
      val df = docs.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
      val full = Dedup.indexOn(sh, None, 3)
      for (cap <- Seq(1L, (df.values.max / 2).max(1).toLong, df.values.max.toLong)) {
        val capped = Dedup.indexOn(sh, Some(cap), 3)
        val hot = full.groupBy(col("s"), col("sl")).agg(count(lit(1)).as("df"))
          .where(col("df") > cap)
        val want = full.join(hot, Seq("s", "sl"), "left_anti")
          .select(col("doc_id"), col("s"), col("sl"), col("n"))
        assert(capped.exceptAll(want).isEmpty && want.exceptAll(capped).isEmpty,
          s"seed $seed cap $cap: capped memo rows != filtered full index")
        val sizes = docs.toMap.view.mapValues(_.size).toMap
        capped.select(col("doc_id"), col("n")).collect().foreach { r =>
          assert(r.getInt(1) == sizes(r.getLong(0)), s"seed $seed cap $cap: n != size(sh)")
        }
        // driver-side brute force over the kept shingles; n stays the
        // FULL shingle count (the conservative under-count)
        val kept = docs.map { case (d, s) => d -> s.filter(df(_) <= cap).toSet }
        val brute = (for {
          (d1, k1) <- kept; (d2, k2) <- kept if d1 < d2
          inter = (k1 & k2).size if inter > 0
          (n1, n2) = (sizes(d1), sizes(d2))
        } yield (d1, d2, inter.toLong, n1, n2, BigDecimal(inter.toDouble / (n1 + n2 - inter))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
        val got = Dedup.jaccardFromIndex(capped)
          .select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2"), Dedup.pairJaccard)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
            r.getInt(4), r.getDouble(5))).toSet
        assert(got == brute, s"seed $seed cap $cap: pairs differ from the brute force")
      }
    }
  }

  test("duplicated passages match a brute-force sliding-window replay") {
    import org.apache.spark.sql.functions._
    val docToks = Tables.documents(spark, sf)
      .select(col("doc_id"), graft.text.Text.tokenize(col("text")).as("toks"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[String](1)).toMap
    val want = docToks.toSeq
      .flatMap { case (id, toks) =>
        toks.sliding(8).filter(_.length == 8).map(_.mkString(" ")).toSeq.distinct
          .map(p => p -> id)
      }
      .groupBy(_._1).view.mapValues(ds => (ds.length.toLong, ds.map(_._2).min))
      .filter(_._2._1 >= 2).toMap
    val got = Dedup.dupPassages(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_docs"), r.getAs[Long]("first_doc"))).toMap
    assert(got == want)
    assert(got.nonEmpty, "fixture should contain duplicated passages (planted dups)")
  }

  test("boilerplate fraction accounting ties out against dupPassages") {
    import org.apache.spark.sql.functions._
    val rows = Dedup.boilerplate(spark, sf).collect()
    rows.foreach { r =>
      val (np, nb, bf) = (r.getAs[Long]("n_passages"), r.getAs[Long]("n_boiler"),
        r.getAs[Double]("boiler_frac"))
      assert(nb <= np && bf >= 0.0 && bf <= 1.0, s"doc ${r.getLong(0)}: $nb/$np frac $bf")
      assert(math.abs(bf - math.rint(nb.toDouble / np * 1e6) / 1e6) < 1e-9)
    }
    // Σ n_boiler over docs = Σ n_docs over hot passages (each hot passage
    // is counted once by each of its documents)
    val sumBoiler = rows.map(_.getAs[Long]("n_boiler")).sum
    val sumHot = Dedup.dupPassages(spark, sf).agg(sum(col("n_docs")))
      .head.getLong(0)
    assert(sumBoiler == sumHot, s"boiler accounting: $sumBoiler vs $sumHot")
    assert(rows.exists(_.getAs[Long]("n_boiler") > 0), "planted dups must score > 0")
    assert(rows.exists(r => r.getAs[Long]("n_boiler") < r.getAs[Long]("n_passages")),
      "some original prose must stay below 1.0")
  }

  test("incremental dedup equals a replay from the verified fp/pair sets") {
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % 100
    }
    val ids = Tables.documents(spark, sf).select("doc_id").collect().map(_.getLong(0))
    val batch = ids.filter(bucket(_) >= 90).toSet
    val corpus = ids.filter(bucket(_) < 90).toSet
    // expected flags derived from the ALREADY-verified ops: exact() fp
    // groups and the exact-Jaccard pair set (LSH recall is covered by the
    // fixture-guard test above)
    val fpGroups = Dedup.exact(spark, sf).collect()
      .map(r => r.getAs[String]("fp") -> r.getAs[Long]("doc_id"))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exactDup = batch.filter(d =>
      fpGroups.exists { case (_, g) => g(d) && (g intersect corpus).nonEmpty })
    val np = Dedup.ngramJaccardPairs(spark, sf, minJaccard = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nearDup = batch.filter(d => np.exists { case (a, b) =>
      (a == d && corpus(b)) || (b == d && corpus(a)) })
    val got = Dedup.incremental(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toMap
    assert(got.keySet == batch)
    got.foreach { case (d, (ex, nr, keep)) =>
      assert(ex == exactDup(d), s"doc $d exact_dup")
      assert(nr == nearDup(d), s"doc $d near_dup")
      assert(keep == (!ex && !nr), s"doc $d keep")
    }
  }

  test("simhash pairs catch most planted near-dups") {
    // simhash is a lossy sketch — assert coverage, not exact equality
    val planted = pairs(Dedup.ngramJaccardPairs(spark, sf, minJaccard = 0.5))
    val sim = pairs(Dedup.simhashPairs(spark, sf))
    val coverage = (planted intersect sim).size.toDouble / planted.size
    assert(coverage >= 0.6, s"simhash coverage of planted dups: $coverage")
  }

  test("registered simhash cap has real headroom at the GATE tier (exactness is measured)") {
    import org.apache.spark.sql.functions.col
    // the dedup_simhash_pairs exactness claim rests on the registered
    // cap sitting ABOVE every fixture bucket; measure it at the sf0.01
    // gate tier instead of trusting the scaladoc's recorded numbers —
    // a fixture regeneration that deepened buckets past the cap would
    // silently drop pairs and fail the oracle with no hint why
    val maxBucket = Dedup.keptBlocks(
      Dedup.simhash(spark, "/root/testdata/sf0.01"),
      maxHamming = 9, bucketCap = Long.MaxValue)
      .groupBy(col("blk"), col("bval")).count()
      .agg(org.apache.spark.sql.functions.max(col("count"))).head().getLong(0)
    assert(maxBucket * 4 <= Dedup.SimhashBucketCap,
      s"gate-tier max bucket $maxBucket leaves <4x headroom under cap ${Dedup.SimhashBucketCap}")
    Caches.releaseAll() // drop the sf0.01 simhash memo built for this probe
  }

  test("simhash hot-bucket guard: planted boilerplate bucket is dropped, aggregate row bounded") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // PLANTED hot bucket (r12 verdict task 2): 200 docs with the SAME
    // simhash — every band bucket they form runs 200 deep, the exact
    // boilerplate shape that would land in ONE collect_list row — plus
    // one true near-dup pair (hamming 1) and one far doc
    val hot = (1L to 200L).map(d => (d, 0x0F0F0F0F0F0F0F0L))
    val nearA = (1001L, 0x123456789ABCDEFL)
    val nearB = (1002L, 0x123456789ABCDFFL) // flips one bit of block 1
    val far = (2001L, 0x7FFABCD12345678L)
    val sim = (hot :+ nearA :+ nearB :+ far).toDF("doc_id", "simhash")
    val cap = 50L
    // 1) the guard bounds every surviving bucket at the cap — the
    //    collect_list aggregate row can never exceed it
    val keptSizes = Dedup.keptBlocks(sim, maxHamming = 9, bucketCap = cap)
      .groupBy(col("blk"), col("bval")).count().collect().map(_.getLong(2))
    assert(keptSizes.nonEmpty && keptSizes.max <= cap,
      s"kept bucket exceeded the cap: ${keptSizes.max}")
    // 2) hot-bucket pairs are gone (the 200-doc cluster contributed
    //    19900 pairs uncapped), the true near-dup pair survives via its
    //    9 agreeing under-cap buckets
    val got = Dedup.simhashPairsOn(sim, maxHamming = 9, bucketCap = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1001L, 1002L)),
      s"capped pairs should be exactly the planted near-dup: $got")
    // 3) uncapped (cap above the hot bucket) the machinery is exact:
    //    all C(200,2) hot pairs + the near-dup pair
    val uncapped = Dedup.simhashPairsOn(sim, maxHamming = 9, bucketCap = 4000L).count()
    assert(uncapped == 200L * 199 / 2 + 1, s"uncapped pair count: $uncapped")
  }

  test("dup groups equal scalar union-find over the pair graph") {
    val pairList = pairs(Dedup.minhashPairs(spark, sf))
    val got = Dedup.dupGroups(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // scalar union-find
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairList.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = got.keys.map(d => d -> find(d)).toMap
    assert(got == want)
    // canonical is the min of each component and a fixpoint
    got.foreach { case (_, c) => assert(got(c) == c) }
  }

  test("overlap pairs: brute-force replay; catches subset pairs jaccard misses") {
    import graft.dedup.Dedup
    // scalar shingle sets per doc (3-gram, the docShingles geometry),
    // tokens collected through the shared tokenizer expression
    import org.apache.spark.sql.functions._
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"), graft.text.Text.tokenize(col("text")).as("t"))
      .collect().map { r =>
        val t = r.getSeq[String](1)
        r.getLong(0) -> t.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
      }.filter(_._2.nonEmpty).toMap
    val got = Dedup.overlapPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getDouble(3))).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = (for {
      (d1, s1) <- toks.toSeq; (d2, s2) <- toks.toSeq if d1 < d2
      inter = (s1 & s2).size if inter > 0
      ov = r6(inter.toDouble / math.min(s1.size, s2.size)) if ov >= 0.9
    } yield (d1, d2) -> (ov, r6(inter.toDouble / (s1 ++ s2).size))).toMap
    assert(got == want, s"${got.size} vs ${want.size} overlap pairs")
    assert(got.nonEmpty)
  }

  test("CDC chunks: scalar replay exact; shift re-aligns where tiled blocks share zero") {
    import org.apache.spark.sql.functions._
    def scalarCdc(toks: Seq[String]): Seq[String] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val out = scala.collection.mutable.LinkedHashSet.empty[String]
      val cur = scala.collection.mutable.ArrayBuffer.empty[String]
      for (i <- toks.indices) {
        cur += toks(i)
        if (i > 0) {
          val d = md.digest((toks(i - 1) + " " + toks(i)).getBytes("UTF-8"))
          val gear = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
            ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
          if (gear % 8 == 0) { out += cur.mkString(" "); cur.clear() }
        }
      }
      if (cur.nonEmpty) out += cur.mkString(" ")
      out.toSeq
    }
    // the native expression equals the scalar fold on real fixture docs
    val rows = Tables.documents(spark, sf).limit(50)
      .select(col("doc_id"), graft.text.Text.tokenize(col("text")).as("toks"),
        graft.functions.ArrayExprs.cdcChunks(
          graft.text.Text.tokenize(col("text")), 8).as("chunks"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val toks = r.getAs[scala.collection.Seq[String]]("toks").toSeq
      assert(r.getAs[scala.collection.Seq[String]]("chunks").toSeq == scalarCdc(toks),
        s"doc ${r.getLong(0)}")
    }
    // shift robustness (the reason CDC exists): the same 300-token body
    // behind a 5-token prefix. Content-defined boundaries re-align right
    // after the body's first internal cut...
    val body = (0 until 300).map(i => s"w${i % 90}")
    val shifted = Seq("aa", "bb", "cc", "dd", "ee") ++ body
    val a = scalarCdc(body).toSet
    val b = scalarCdc(shifted).toSet
    assert((a & b).size * 2 >= a.size,
      s"CDC failed to re-align after shift: ${(a & b).size}/${a.size} shared")
    // ...while the equal-index-cost baseline (position-TILED 8-blocks)
    // shares ZERO chunks across the 5-offset (provably: 8x ≡ 5 mod 90
    // has no solution, so no tile boundary ever re-aligns on this body)
    def tiled(t: Seq[String]) = t.grouped(8).map(_.mkString(" ")).toSet
    assert((tiled(body) & tiled(shifted)).isEmpty)
  }

  test("simhash is a 60-bit value") {
    Dedup.simhash(spark, sf).collect().foreach { r =>
      val h = r.getAs[Long]("simhash")
      assert(h >= 0 && h < (1L << 60))
    }
  }
}

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("cosine values are in [-1, 1] and topk is 3 per query") {
    val rows = Similarity.topK(spark, sf).collect()
    assert(rows.length == 30)
    rows.foreach(r => assert(math.abs(r.getAs[Double]("cos")) <= 1.0))
    val perQuery = rows.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(perQuery.values.forall(_ == 3))
  }

  test("MMR: greedy matches a scalar replay and diversifies vs plain top-k") {
    import org.apache.spark.sql.functions._
    val got = Similarity.mmr(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.length == Similarity.MmrK && got.map(_._2).distinct.length == got.length)
    // scalar replay of the greedy recurrence over the same candidate pool
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val e = graft.Tables.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]) = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.indices.map(i => x(i).toDouble * y(i).toDouble).sum
      r6(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
    }
    val q = e(3L)
    val cand = e.toSeq.filter(_._1 != 3L)
      .map { case (id, v) => (id, cos(q, v)) }
      .sortBy { case (id, rel) => (-rel, id) }.take(Similarity.MmrCandidates)
    var sel = Vector.empty[(Long, Double, Double)]
    for (_ <- 1 to Similarity.MmrK) {
      val pick = cand.filterNot(c => sel.exists(_._1 == c._1)).map { case (id, rel) =>
        val ms = if (sel.isEmpty) 0.0
                 else sel.map(s => cos(e(id), e(s._1))).max
        (id, rel, r6(Similarity.MmrLambda * rel - (1 - Similarity.MmrLambda) * ms))
      }.minBy { case (id, _, m) => (-m, id) }
      sel :+= pick
    }
    assert(got.map(g => (g._2, g._3, g._4)).toSeq == sel,
      s"greedy drifted: ${got.toSeq} vs $sel")
    // diversification: the MMR set's mean pairwise similarity does not
    // exceed the plain top-k head of the same pool
    def meanPair(ids: Seq[Long]) = {
      val ps = for (a <- ids; b <- ids if a < b) yield cos(e(a), e(b))
      ps.sum / ps.size
    }
    val plain = cand.take(Similarity.MmrK).map(_._1)
    assert(meanPair(got.map(_._2).toSeq) <= meanPair(plain) + 1e-9,
      "MMR set is less diverse than plain top-k")
  }

  test("LSH topk candidates score identically to exact where they overlap") {
    val exact = Similarity.topK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("cos")).toMap
    val lsh = Similarity.topKLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("cos")).toMap
    val overlap = lsh.keySet intersect exact.keySet
    overlap.foreach(k => assert(lsh(k) == exact(k)))
    // recall is data-dependent; assert the buckets aren't degenerate
    val recall = overlap.size.toDouble / exact.size
    assert(recall > 0.2, s"LSH recall collapsed: $recall")
  }

  test("multi-probe LSH: recall vs exact never below single-probe, scores exact") {
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("cos")).toMap
    val exact = m(Similarity.topK(spark, sf))
    val single = m(Similarity.topKLsh(spark, sf))
    val multi = m(Similarity.topKLshMultiprobe(spark, sf))
    // scores of overlapping pairs equal exact cosine (probing changes
    // CANDIDATES, never the re-rank arithmetic)
    multi.foreach { case (kpair, c) =>
      exact.get(kpair).foreach(e => assert(c == e, s"$kpair rescored")) }
    // Hamming-1 probes expand the candidate set, so per-query recall vs
    // the exact top-k can only rise
    def recall(g: Map[(Long, Long), Double]) =
      exact.keySet.count(g.contains).toDouble / exact.size
    assert(recall(multi) >= recall(single),
      s"multi-probe recall ${recall(multi)} below single-probe ${recall(single)}")
    assert(multi.nonEmpty)
  }

  test("IVF topk candidates score identically to exact where they overlap") {
    val exact = Similarity.topK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("cos")).toMap
    val ivf = Similarity.topKIvf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("cos")).toMap
    val overlap = ivf.keySet intersect exact.keySet
    overlap.foreach(k => assert(ivf(k) == exact(k)))
    val recall = overlap.size.toDouble / exact.size
    assert(recall > 0.2, s"IVF recall collapsed: $recall")
    // every query answered with k rows
    assert(ivf.keys.map(_._1).toSeq.distinct.length == 10)
  }

  test("SQ8 topk: quantized scores track exact cosine, recall non-degenerate") {
    val exact = Similarity.topK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("cos")).toMap
    val sq = Similarity.topKSq(spark, sf).collect()
    // qcos is the integer score rescaled onto the cosine axis; against
    // the exact cosine of the SAME pair the int8 quantization error is
    // bounded (unit vectors, 1/254-grid per component — well inside
    // 0.05 at 64 dims)
    sq.foreach { r =>
      val qcos = r.getAs[Double]("qcos")
      assert(math.abs(qcos) <= 1.0 + 1e-9, s"qcos out of range: $qcos")
    }
    val exactAll = Similarity.cosinePairs(spark, sf, minCos = -2.0).collect()
      .flatMap { r =>
        val (a, b, c) = (r.getLong(0), r.getLong(1), r.getAs[Double]("cos"))
        Seq((a, b) -> c, (b, a) -> c)
      }.toMap
    sq.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      exactAll.get(key).foreach { c =>
        assert(math.abs(r.getAs[Double]("qcos") - c) < 0.05,
          s"quantization error blew past bound at $key: qcos=${r.getAs[Double]("qcos")} cos=$c")
      }
    }
    // recall vs the exact top-k — same candidates as LSH, so the same
    // non-degeneracy floor applies
    val sqKeys = sq.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (sqKeys intersect exact.keySet).size.toDouble / exact.size
    assert(recall > 0.2, s"SQ8 recall collapsed: $recall")
  }

  test("PQ topk: reconstruction cosine tracks exact, full k per query") {
    val pq = Similarity.topKPq(spark, sf).collect()
    // the code table covers every corpus vector, so PQ scores ALL
    // candidates — every query must return exactly k rows
    pq.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.length == 3, s"query $q returned ${rs.length} rows")
      assert(rs.map(_.getAs[Int]("rank")).sorted.sameElements(1 to 3))
    }
    // pqcos = cos(q, reconstructed v) — a true cosine, bounded
    pq.foreach(r => assert(math.abs(r.getAs[Double]("pqcos")) <= 1.0 + 1e-9))
    // reconstruction error: against the exact cosine of the same pair,
    // a 16-cell/16-dim sub-quantizer is coarse but must stay in the
    // same region (loose bound — the gate checks exactness of the
    // PROTOCOL, this checks the approximation is meaningful)
    val exactAll = Similarity.cosinePairs(spark, sf, minCos = -2.0).collect()
      .flatMap { r =>
        val (a, b, c) = (r.getLong(0), r.getLong(1), r.getAs[Double]("cos"))
        Seq((a, b) -> c, (b, a) -> c)
      }.toMap
    val errs = pq.flatMap { r =>
      exactAll.get((r.getLong(0), r.getLong(1)))
        .map(c => math.abs(r.getAs[Double]("pqcos") - c))
    }
    assert(errs.nonEmpty && errs.sum / errs.length < 0.35,
      s"PQ reconstruction error off the rails: mean=${errs.sum / errs.length}")
    // recall vs exact top-k non-degenerate
    val exact = Similarity.topK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (pq.map(r => (r.getLong(0), r.getLong(1))).toSet intersect exact).size
      .toDouble / exact.size
    assert(recall > 0.1, s"PQ recall collapsed: $recall")
  }

  test("IVF-PQ: scores agree with full PQ on surviving pairs, pruning consistent") {
    val full = Similarity.topKPq(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("pqcos")).toMap
    val ivfpq = Similarity.topKIvfPq(spark, sf).collect()
    assert(ivfpq.nonEmpty)
    // the ADC score of a (query, candidate) pair is the same whether the
    // candidate came through IVF pruning or the exhaustive code scan —
    // IVF only prunes, it never rescores
    ivfpq.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      full.get(key).foreach { s =>
        assert(r.getAs[Double]("pqcos") == s, s"IVF-PQ rescored $key: ${r.getAs[Double]("pqcos")} vs $s")
      }
    }
    // ranks contiguous per query
    ivfpq.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.sameElements(1 to rs.length),
        s"query $q ranks not contiguous")
    }
  }

  test("persisted index: reloaded-from-Parquet IVF-PQ equals the in-session index") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("pqcos"),
        r.getAs[Int]("rank"))).toSet
    val want = rows(Similarity.topKIvfPq(spark, sf))
    val got = rows(Similarity.topKIvfPqPersisted(spark, sf))
    assert(got == want, "persisted-index ranking drifted from the in-session index")
    assert(got.nonEmpty)
    // the artifacts genuinely landed on disk: all four index relations
    // exist as parquet directories under the deterministic tmp location
    val base = Caches.artifactBase(sf).resolve("ann")
    Seq("ivf_centroids", "pq_codebooks", "pq_codes", "ivf_cells").foreach { a =>
      assert(java.nio.file.Files.isDirectory(base.resolve(a)), s"missing artifact $a")
    }
    // and the artifacts are self-contained: a from-scratch scan of the
    // written files (no session memo, no build lineage) carries the
    // exact code table the in-session encoder produced
    val fresh = spark.read.parquet(base.resolve("pq_codes").toString)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val built = Similarity.persistedIvfPqIndex(spark, sf)._3
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(fresh == built && fresh.nonEmpty)
    // second index family: the LSH band table round-trips the same way
    def lsh(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("cos"),
        r.getAs[Int]("rank"))).toSet
    assert(lsh(Similarity.topKLshPersisted(spark, sf)) ==
      lsh(Similarity.topKLsh(spark, sf)))
    assert(java.nio.file.Files.isDirectory(base.resolve("lsh_bands")))
  }

  test("LSH big tier: shifted replicas decorrelate buckets, ranks contiguous") {
    val rows = Similarity.topKLshBig(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(math.abs(r.getAs[Double]("cos")) <= 1.0))
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.sameElements(1 to rs.length),
        s"query $q ranks not contiguous")
    }
    // the inflation must actually spread replicas: if every replica of a
    // vector landed in its source's bucket, each query's candidates
    // would be dominated by its own replicas — require at least one
    // NON-replica neighbor in some top list (shift decorrelation)
    assert(rows.exists(r => r.getLong(1) % 1000000L != r.getLong(0)),
      "all neighbors are the query's own replicas — shift failed to decorrelate")
  }

  test("semantic dedup groups: components valid, recall vs exact pairs") {
    val got = Similarity.semanticDedupGroups(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == Tables.embeddings(spark, sf).count())
    // canonical is a fixpoint and the min of its component
    got.foreach { case (v, c) => assert(got(c) == c && c <= v) }
    // every exact cosine>=0.45 pair whose two sides land in the same
    // trained cell must group together; recall vs the full exact pair
    // set must be non-degenerate (cluster-bucketing recall, the
    // SemDeDup trade)
    val exactPairs = Similarity.cosinePairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val grouped = got.groupBy(_._2).values.map(_.keys.toSet).filter(_.size > 1)
    val groupedPairs = grouped.flatMap(g =>
      g.toSeq.sorted.combinations(2).map(p => (p(0), p(1)))).toSet
    val recall = (groupedPairs intersect exactPairs).size.toDouble /
      math.max(1, exactPairs.size)
    assert(recall > 0.2, s"semantic-dedup cluster recall collapsed: $recall")
  }

  test("filtered topk: every neighbor shares the query's label, full k per query") {
    val labels = Tables.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    val rows = Similarity.topKFiltered(spark, sf).collect()
    // label homogeneity — the filter's whole contract
    rows.foreach { r =>
      val (q, v) = (r.getLong(0), r.getLong(1))
      assert(labels(q) == labels(v), s"query $q (label ${labels(q)}) got $v (label ${labels(v)})")
    }
    // pre-filtering (not post-filtering the unfiltered top-k) keeps k
    // rows per query with contiguous ranks
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.sameElements(1 to rs.length), s"query $q ranks")
      assert(rs.length == 3, s"query $q returned ${rs.length} rows")
    }
    // the filtered best can never beat the unfiltered best
    val best = Similarity.topKIvf(spark, sf).collect()
      .filter(_.getAs[Int]("rank") == 1)
      .map(r => r.getLong(0) -> r.getAs[Double]("cos")).toMap
    rows.filter(_.getAs[Int]("rank") == 1).foreach { r =>
      assert(r.getAs[Double]("cos") <= best(r.getLong(0)) + 1e-12,
        s"query ${r.getLong(0)}: filtered best beats unfiltered best")
    }
  }

  test("embedding dedup groups: components valid, recall vs exact pairs") {
    val got = Similarity.embeddingDedupGroups(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == Tables.embeddings(spark, sf).count())
    // canonical is a fixpoint and the min of its component
    got.foreach { case (v, c) => assert(got(c) == c && c <= v) }
    // grouped pairs must actually be near-dups per the EXACT baseline:
    // every exact cosine>=0.45 pair that shares an LSH band must land in
    // the same component (the oracle checks exact equality; this spec
    // checks the semantic claim against the independent n^2 baseline)
    val exactPairs = Similarity.cosinePairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val grouped = got.groupBy(_._2).values.map(_.keys.toSet).filter(_.size > 1)
    val groupedPairs = grouped.flatMap(g =>
      g.toSeq.sorted.combinations(2).map(p => (p(0), p(1)))).toSet
    // transitivity can group pairs below threshold, but some exact pairs
    // must be recovered (LSH recall non-degenerate)
    val recall = (groupedPairs intersect exactPairs).size.toDouble /
      math.max(1, exactPairs.size)
    assert(recall > 0.2, s"embedding-dedup LSH recall collapsed: $recall")
  }

  test("centroid cosine matches a plain-double driver replay within 1e-6") {
    val vecs = Tables.embeddings(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(2),
        r.getSeq[Float](1).map(f => math.rint(f.toDouble * 1e6) / 1e6).toArray))
    val byLabel = vecs.groupBy(_._2)
    val cents = byLabel.view.mapValues { vs =>
      val dim = vs.head._3.length
      Array.tabulate(dim)(i => vs.map(_._3(i)).sum / vs.length)
    }.toMap
    val got = Similarity.centroidCos(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getAs[Double]("cos_centroid"))).toMap
    assert(got.size == vecs.length) // one score per vector
    vecs.foreach { case (id, label, v) =>
      val c = cents(label)
      val dot = v.zip(c).map { case (a, b) => a * b }.sum
      val want = dot / math.sqrt(v.map(x => x * x).sum * c.map(x => x * x).sum)
      val (gl, gc) = got(id)
      assert(gl == label)
      // the registered query runs the exact-decimal protocol; the plain
      // double replay agrees to well under the 6-dp output grid
      assert(math.abs(gc - want) < 1e-6, s"vec $id: $gc vs $want")
      assert(math.abs(gc) <= 1.0)
    }
    // the score separates in-cluster vectors from a shuffled-label replay:
    // own-label mean cosine must beat the global mean-of-all-centroids fit
    val own = got.values.map(_._2).sum / got.size
    assert(own > 0.0, s"mean centroid cosine $own not positive")
  }

  test("kNN classify matches a brute-force neighbor-vote replay") {
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vecs = Tables.embeddings(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getSeq[Float](1).toArray))
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val norms = vecs.map { case (id, _, v) => id -> math.sqrt(dot(v, v)) }.toMap
    val byId = vecs.map(t => t._1 -> t).toMap
    val want = vecs.filter(_._1 < 50).map { case (qid, tl, qv) =>
      val top = vecs.filter(_._1 != qid)
        .map { case (id, l, v) => (id, l, r6(dot(qv, v) / (norms(qid) * norms(id)))) }
        .sortBy { case (id, _, c) => (-c, id) }.take(5)
      val votes = top.groupBy(_._2).view.mapValues(_.length.toLong).toMap
      val (pl, pv) = votes.toSeq.sortBy { case (l, n) => (-n, l) }.head
      qid -> (tl, pl, pv)
    }.toMap
    val got = Similarity.knnClassify(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getLong(3))).toMap
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("prefix search returns exactly the matching index terms") {
    import org.apache.spark.sql.functions._
    val got = graft.ir.InvertedIndex.prefixSearch(spark, sf, "me").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    got.keys.foreach(t => assert(t.startsWith("me")))
    val want = graft.ir.InvertedIndex.termDocTf(spark, sf)
      .where(col("term").startsWith("me")).collect()
      .map(r => (r.getString(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(ts => (ts.length.toLong, ts.map(_._2).sum)).toMap
    assert(got == want)
    assert(got.contains("merge"))
  }

  test("salted count equals direct groupBy count for every key") {
    import org.apache.spark.sql.functions._
    val direct = graft.text.Text.wordCount(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = graft.operators.Skew.saltedWordCount(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == direct)
  }
}

class AnalysisSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("KN backoff scoring matches a scalar replay and exercises unseen bigrams") {
    import org.apache.spark.sql.functions.col
    // scalar twin: tokenize via the library expression (the tokenizer is
    // spec'd elsewhere), then replay the train/held-out split, the KN
    // tables, and the three-branch backoff in plain Scala doubles —
    // identical op order to the Catalyst expression
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"), graft.text.Text.tokenize(col("text")).as("t")).collect()
      .map { r =>
        val id = r.getLong(0)
        // replay the held-out injection (` kn qz<id>qz kn` = 3 tokens)
        val base = r.getSeq[String](1)
        id -> (if (id % 5 == 0) base ++ Seq("kn", s"qz${id}qz", "kn") else base)
      }.toMap
    def bigrams(ws: Seq[String]) = ws.sliding(2).filter(_.size == 2)
      .map(p => (p(0), p(1))).toSeq
    val train = toks.filter(_._1 % 5 != 0).values.flatMap(bigrams).toSeq
    val cnt = train.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cw1 = cnt.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val nf = cnt.groupBy(_._1._1).view.mapValues(_.size.toLong).toMap
    val np = cnt.groupBy(_._1._2).view.mapValues(_.size.toLong).toMap
    val nb = cnt.size.toLong
    val vc = np.size.toLong
    def round6(x: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)
    val want = toks.filter(_._1 % 5 == 0).collect {
      case (id, ws) if bigrams(ws).nonEmpty =>
        val bgs = bigrams(ws)
        val nllU = bgs.map { case (w1, w2) =>
          val pc = (np.getOrElse(w2, 0L) + 1).toDouble / (nb + vc + 1).toDouble
          val p =
            if (cnt.contains((w1, w2)))
              (cnt((w1, w2)) - 0.75) / cw1(w1).toDouble +
                (0.75 * nf(w1).toDouble / cw1(w1).toDouble) * pc
            else if (cw1.contains(w1))
              (0.75 * nf(w1).toDouble / cw1(w1).toDouble) * pc
            else pc
          round6(-math.log(p)).movePointRight(6).longValueExact()
        }.sum
        val n = bgs.size.toLong
        val unseen = bgs.count(b => !cnt.contains(b)).toLong
        id -> (n, unseen, (nllU * 2 + n) / (n * 2) / 1e6)
    }
    val got = TextAnalysis.knBackoffScore(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got == want, "backoff scores diverged from the scalar replay")
    // the planted spans must light up ALL THREE branches at every tier:
    // unseen bigrams at all, an unseen pair whose PREFIX is in-vocab
    // (the D-discounted backoff branch), an out-of-vocab prefix (the
    // continuation-only branch), and plain seen bigrams
    assert(got.values.map(_._2).sum > 0, "no unseen bigram exercised")
    assert(got.values.exists(v => v._2 < v._1), "no seen bigram in the held-out split")
    val heldBgs = toks.filter(_._1 % 5 == 0).values.flatMap(bigrams)
    assert(heldBgs.exists(b => !cnt.contains(b) && cw1.contains(b._1)),
      "no unseen-pair-with-seen-prefix bigram (backoff branch dead)")
    assert(heldBgs.exists(b => !cw1.contains(b._1)),
      "no out-of-vocab-prefix bigram (continuation branch dead)")
  }

  test("repetition ratio matches a scalar trigram replay") {
    val toks = Tables.documents(spark, sf).collect().map { r =>
      r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").toLowerCase.split("\\s+").toSeq
          .map(_.replaceAll("(^[^a-z]+|[^a-z]+$)", "")).filter(_.nonEmpty)
    }.toMap
    val got = TextAnalysis.repetition(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getDouble(3))).toMap
    assert(got.keySet == toks.keySet)
    got.foreach { case (id, (n, nd, ratio)) =>
      val tris = toks(id).sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSeq
      assert(n == tris.length, s"doc $id trigram count")
      assert(nd == tris.distinct.length, s"doc $id distinct count")
      val want = if (tris.isEmpty) 0.0
        else BigDecimal(1.0 - tris.distinct.length.toDouble / tris.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(ratio == want, s"doc $id ratio")
    }
    // fixture actually exercises the signal
    assert(got.values.exists(_._3 > 0))
  }

  test("vocab HLL tracks the exact corpus vocabulary (the 100 TB drop-in)") {
    import org.apache.spark.sql.functions._
    // the documented swap for corpusStats' count_distinct: same exploded
    // token stream, bounded sketch instead of the exact distinct
    val exact = TextAnalysis.corpusStats(spark, sf)
      .head().getAs[Long]("vocab_size")
    val approx = Tables.documents(spark, sf)
      .select(explode(graft.text.Text.tokenize(col("text"))).as("w"))
      .agg(approx_count_distinct(col("w"), 0.02).as("v"))
      .head().getAs[Long]("v")
    assert(exact > 0)
    assert(math.abs(approx - exact) <= math.max(5.0, exact * 0.05),
      s"vocab HLL drifted: exact=$exact approx=$approx")
  }

  test("token stats are internally consistent") {
    TextAnalysis.tokenStats(spark, sf).collect().foreach { r =>
      assert(r.getAs[Int]("n_types") <= r.getAs[Int]("n_tokens"))
      val ttr = r.getAs[Double]("ttr")
      assert(ttr > 0 && ttr <= 1)
    }
  }

  test("langid predicts en for this English-vocabulary corpus when stopwords present") {
    val rows = TextAnalysis.langId(spark, sf).collect()
    rows.filter(_.getAs[Double]("score_en") > 0)
      .foreach { r =>
        if (r.getAs[Double]("score_en") >= r.getAs[Double]("score_es"))
          assert(r.getAs[String]("predicted") == "en")
      }
  }

  test("rolling hash is order-sensitive, md5 is content-exact") {
    val fps = TextAnalysis.fingerprint(spark, sf).collect()
    assert(fps.map(_.getAs[String]("fp_md5")).distinct.length == fps.length)
    fps.foreach(r => assert(r.getAs[Long]("roll_hash") >= 0))
  }

  test("token entropy matches a scalar fold and its analytic bounds") {
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val toks = Tables.documents(spark, sf).collect().map { r =>
      r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").toLowerCase.split("\\s+").toSeq
          .map(_.replaceAll("(^[^a-z]+|[^a-z]+$)", "")).filter(_.nonEmpty)
    }
    val want = toks.collect { case (id, ts) if ts.nonEmpty =>
      val n = ts.length.toDouble
      val h = -ts.groupBy(identity).values
        .map(g => r6(g.length / n * (math.log(g.length / n) / math.log(2.0))))
        .sum
      id -> (ts.length.toLong, h.toDouble)
    }.toMap
    val got = TextAnalysis.entropy(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getInt(1).toLong, r.getDouble(2))).toMap
    assert(got == want)
    // analytic bounds: 0 ≤ H ≤ log2(n_tokens) + the 6dp per-term rounding
    // budget (each of ≤ n terms can round up by 5e-7 — a uniform doc
    // overshoots log2(n) by ~2e-6, measured)
    got.values.foreach { case (n, h) =>
      assert(h >= 0.0 &&
        h <= math.log(n.toDouble) / math.log(2.0) + n * 5e-7)
    }
  }
}

class EventsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("hourly rollup counts cover all events") {
    val total = Events.hourlyRollup(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
    assert(total == Tables.events(spark, sf).count())
  }

  test("sessions partition each user's events") {
    val sessions = Events.sessionize(spark, sf).collect()
    val totalEvents = sessions.map(_.getAs[Long]("n_events")).sum
    assert(totalEvents == Tables.events(spark, sf).count())
    sessions.foreach(r =>
      assert(r.getAs[String]("session_start") <= r.getAs[String]("session_end")))
  }

  test("json extraction yields sane k stats") {
    Events.jsonStats(spark, sf).collect().foreach { r =>
      assert(r.getAs[Long]("min_k") >= 0 && r.getAs[Long]("max_k") <= 1000)
      assert(r.getAs[Long]("n") > 0)
    }
  }
}
