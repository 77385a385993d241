package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.relational.Relational

/** Physical-plan audit: the 100 TB-scale properties SURVEY.md §4 claims
  * are asserted, not assumed — date predicates reach the Parquet scan as
  * PushedFilters (row-group pruning), dimension joins broadcast, top-k
  * plans as TakeOrderedAndProject (never a global sort).
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Memoized frames truncate their lineage to a LogicalRDD leaf
    * (Caches.truncateLineage — the CacheManager-canonicalization fix),
    * which would blind a plan audit to whatever shape the BUILD planned:
    * a cartesian inside a memoized build becomes an opaque
    * InMemoryTableScan leaf at every consumer. Audits of memo-backed
    * queries run under this bracket: truncation off, cold memo map, so
    * the first consumer plans the transparent build.
    */
  private def withTransparentMemos[A](body: => A): A =
    // exclusive against every concurrent memoized() build — the flag is
    // process-global and the memo map is cleared on both edges; see
    // Caches.underAuditExclusive
    Caches.underAuditExclusive {
      Caches.releaseAll()
      Caches.truncateLineage = false
      try body finally {
        Caches.truncateLineage = true
        Caches.releaseAll()
      }
    }

  test("q1: the date-prefix predicate is pushed to the parquet scan as a range") {
    val p = plan(Relational.q1(spark, sf, "1996-03"))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"missing pushed range filter:\n$p")
    assert(p.contains("LessThan(l_shipdate"), p)
  }

  test("q7: both date range predicates are pushed down") {
    val p = plan(Relational.q7(spark, sf, "1997-06-30"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(p.contains("LessThan(o_orderdate"), p)
  }

  test("q3/q4/q5: dimension joins are broadcast, fact join shuffles") {
    Seq(
      Relational.q3(spark, sf, "1996-03-15"),
      Relational.q4(spark, sf, "1996"),
      Relational.q5(spark, sf)
    ).foreach { df =>
      val p = plan(df)
      assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
      assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    }
  }

  test("q3/q7 top-k plans as TakeOrderedAndProject, not a global sort") {
    Seq(Relational.q3(spark, sf, "1996-03-15"), Relational.q7(spark, sf, "1997-06-30"))
      .foreach { df =>
        val p = plan(df)
        assert(p.contains("TakeOrderedAndProject"), s"no TakeOrdered:\n$p")
      }
  }

  test("op_bucketed_join: neither join input shuffles (bucket spec survives the registry path)") {
    val p = plan(graft.sources.Bucketed.bucketedJoin(spark, sf))
    assert(!p.contains("Exchange hashpartitioning(l_orderkey")
      && !p.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed join inputs still shuffle:\n$p")
    // both sides must scan through the bucket spec (the property that
    // makes the join exchange-free at ANY scale; at the lint fixture the
    // tiny orders side legitimately broadcasts instead of sort-merging)
    assert("Bucketed: true".r.findAllIn(p).size == 2,
      s"expected two bucket-aware scans:\n$p")
  }

  test("op_partition_prune: the day predicate prunes at listing time, not post-scan") {
    val p = plan(graft.sources.Partitioned.prunedDayRollup(spark, sf))
    assert(p.contains("PartitionFilters: [isnotnull(day")
      && """\(day#\d+ = 2024-01-15\)""".r.findFirstIn(p).isDefined,
      s"day predicate did not land in PartitionFilters:\n$p")
  }

  test("near-dup and ANN candidate generation is join-shaped, not a cross product") {
    withTransparentMemos {
    // brute-force baselines (cosinePairs, topK) are *documented* nested
    // loops; the scale-path variants must never plan one
    Seq(
      graft.dedup.Dedup.minhashPairs(spark, sf),
      graft.dedup.Dedup.simhashPairs(spark, sf),
      graft.sim.Similarity.topKIvf(spark, sf)
    ).foreach { df =>
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin") || df.columns.contains("rank"),
        s"nested loop in candidate generation:\n$p")
    }
    // IVF's centroid probe IS a broadcast nested loop over K=16 rows —
    // bounded by the centroid count, which is the design
    }
  }

  test("round-2 operators keep their scale shapes") {
    withTransparentMemos {
    // BPE encode is a narrow per-row map: scan → project, zero exchanges
    val bpe = plan(graft.text.Bpe.encode(spark, sf))
    assert(!bpe.contains("Exchange"), s"BPE encode should be shuffle-free:\n$bpe")
    // batch streaming-dedup is DISTINCT: partial+final aggregate around
    // exactly one hash exchange
    val sd = plan(graft.streaming.Streaming.streamingDedup(Tables.events(spark, sf)))
    assert("Exchange hashpartitioning".r.findAllMatchIn(sd).size == 1,
      s"stream dedup should shuffle once:\n$sd")
    assert(!sd.contains("CartesianProduct"), sd)
    // mm_features' codec stage stays mapPartitions-shaped (no exchange
    // before the serialize boundary)
    val mf = plan(graft.multimodal.Multimodal.extractFeatures(spark, sf).toDF())
    assert(!mf.contains("Exchange"), s"feature extraction should be narrow:\n$mf")
    }
  }

  test("round-3 operators keep their scale shapes") {
    withTransparentMemos {
    // video decode is narrow: metadata repartition, then generation and
    // demux+decode stay in one mapPartitions pipeline — no payload shuffle
    val vd = plan(graft.multimodal.Multimodal.videoDecode(spark, sf))
    assert(!vd.contains("CartesianProduct"), vd)
    // bm25 joins are keyed (term / doc_id) with the global stats broadcast;
    // never a cartesian product
    val bm = plan(graft.ir.InvertedIndex.bm25(spark, sf))
    assert(!bm.contains("CartesianProduct"), s"bm25 plans a cartesian:\n$bm")
    assert(bm.contains("BroadcastHashJoin") || bm.contains("BroadcastExchange"),
      s"bm25 stats/df should broadcast:\n$bm")
    // embedding near-dup candidates come from the band equi-join
    val ed = plan({
      Caches.releaseAll() // plan the first round, not the memoized cache
      graft.sim.Similarity.embeddingDedupGroups(spark, sf)
    })
    assert(!ed.contains("CartesianProduct"), s"embedding dedup cartesian:\n$ed")
    // contamination: the eval shingle set broadcasts (corpus side never
    // shuffles for the membership probe) and nothing goes cartesian
    val ct = plan(graft.dedup.Dedup.contamination(spark, sf))
    assert(!ct.contains("CartesianProduct"), s"contamination cartesian:\n$ct")
    assert(ct.contains("BroadcastHashJoin"),
      s"eval shingle set should broadcast:\n$ct")
    // z-score / perplexity / funnel: per-type stats and vocab broadcast,
    // all joins keyed — never a cartesian over the fact stream. (The
    // perplexity total is a 1-row global broadcast, which Spark plans as
    // a nested loop BOUNDED BY THAT ONE ROW — the bm25 stats shape.)
    Seq(
      graft.events.Temporal.zscores(spark, sf),
      graft.analysis.TextAnalysis.perplexity(spark, sf),
      graft.events.Temporal.funnel(spark, sf)
    ).foreach { df =>
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    }
    Seq(graft.events.Temporal.zscores(spark, sf),
      graft.events.Temporal.funnel(spark, sf)).foreach { df =>
      val p = plan(df)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$p")
    }
    }
  }

  test("round-4 operators keep their scale shapes") {
    withTransparentMemos {
    // incremental dedup: every join keyed (fp / band bucket / doc id) —
    // never a cartesian or an unbounded nested loop
    val inc = plan(graft.dedup.Dedup.incremental(spark, sf))
    assert(!inc.contains("CartesianProduct"), s"incremental dedup cartesian:\n$inc")
    assert(!inc.contains("BroadcastNestedLoopJoin"), s"incremental dedup BNLJ:\n$inc")
    // rolling actives: the observed-day set broadcasts; the fan-out is a
    // generator, not a join
    val au = plan(graft.events.Temporal.activeUsers(spark, sf))
    assert(!au.contains("CartesianProduct"), s"active users cartesian:\n$au")
    assert(au.contains("BroadcastHashJoin"), s"day set should broadcast:\n$au")
    // proximity: two keyed lookups joined on doc_id; pair work is a
    // per-row lambda
    val px = plan(graft.ir.InvertedIndex.proximityQuery(spark, sf, "spark", "merge", 5))
    assert(!px.contains("CartesianProduct"), s"proximity cartesian:\n$px")
    assert(!px.contains("BroadcastNestedLoopJoin"), s"proximity BNLJ:\n$px")
    // centroid scoring: K×dim centroid and per-label norms broadcast back
    val cc = plan(graft.sim.Similarity.centroidCos(spark, sf))
    assert(!cc.contains("CartesianProduct"), s"centroid cos cartesian:\n$cc")
    assert(cc.contains("BroadcastHashJoin"), s"centroid table should broadcast:\n$cc")
    }
  }

  test("round-5 operators keep their scale shapes") {
    withTransparentMemos {
    // the minhash measurement tier: band equi-join candidates, exact
    // verify keyed on doc ids; the only nested loop is the final
    // 1-row × 1-row summary crossJoin (bounded by construction)
    val mb = plan(graft.dedup.Dedup.minhashBigPortable(spark, sf))
    assert(!mb.contains("CartesianProduct"), s"minhash_big cartesian:\n$mb")
    // capped jaccard: the df cap is an anti-join inside the capped index
    // memo's build (transparent here) — keyed end to end
    val cp = plan(graft.dedup.Dedup.ngramJaccardPairs(spark, sf,
      maxShingleDf = Some(3L)))
    assert(!cp.contains("CartesianProduct"), s"capped jaccard cartesian:\n$cp")
    assert(!cp.contains("BroadcastNestedLoopJoin"), s"capped jaccard BNLJ:\n$cp")
    // degree-ordered triangles: degree attach + both adjacency joins are
    // all equi-joins on node ids
    val tr = plan(graft.graph.PageRank.triangles(spark, sf))
    assert(!tr.contains("CartesianProduct"), s"triangles cartesian:\n$tr")
    assert(!tr.contains("BroadcastNestedLoopJoin"), s"triangles BNLJ:\n$tr")
    // IVF assignment joins the BROADCAST trained centroid table (K rows,
    // by-design bounded nested loop); the member re-rank join is keyed
    val ivf = plan({
      Caches.releaseAll()
      graft.sim.Similarity.topKIvf(spark, sf)
    })
    assert(!ivf.contains("CartesianProduct"), s"ivf cartesian:\n$ivf")
    assert(ivf.contains("BroadcastExchange"), s"centroids should broadcast:\n$ivf")
    // one large-star/small-star round: equi-joins + aggregates only
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val e0 = Seq((2L, 1L), (3L, 1L), (4L, 2L)).toDF("src", "dst")
    val rp = plan(graft.graph.Components.auditRound(e0))
    assert(!rp.contains("CartesianProduct") && !rp.contains("BroadcastNestedLoopJoin"),
      s"components round not join-shaped:\n$rp")
    // PII scan/redact are narrow per-row regex maps: scan → project,
    // zero exchanges (the embarrassingly-parallel contract the scaladoc
    // claims)
    Seq(graft.analysis.Pii.scan(spark, sf), graft.analysis.Pii.redact(spark, sf))
      .foreach { df =>
        val p = plan(df)
        assert(!p.contains("Exchange"), s"PII op should be shuffle-free:\n$p")
      }
    // boilerplate fraction: the hot set broadcasts to the membership
    // probe (contamination shape — the corpus side never shuffles for
    // it); everything stays keyed
    val bf = plan(graft.dedup.Dedup.boilerplate(spark, sf))
    assert(!bf.contains("CartesianProduct") && !bf.contains("BroadcastNestedLoopJoin"),
      s"boilerplate not join-shaped:\n$bf")
    assert(bf.contains("BroadcastHashJoin"), s"hot set should broadcast:\n$bf")
    }
  }

  test("round-6 operators keep their scale shapes") {
    withTransparentMemos {
    // skew tier: inverted index, df stats, capped index build, verify
    // joins — all keyed; the only nested loops are the 1-row summary crossJoins
    // (bounded by construction, the minhashBigPortable shape)
    val sk = plan({
      Caches.releaseAll()
      graft.dedup.Dedup.ngramSkew(spark, sf)
    })
    assert(!sk.contains("CartesianProduct"), s"skew tier cartesian:\n$sk")
    // triangle scale tier: identical join shapes at mod=10000 — the
    // degree-order hub bound is what keeps per-edge intersection work
    // O(√E); BOTH dispatch shapes stay join-shaped
    Seq[Option[graft.graph.PageRank.TriShape]](None,
      Some(graft.graph.PageRank.TriShape.ShuffleAdjacency)).foreach { sh =>
      val t10 = plan(graft.graph.PageRank.triangles(spark, sf, mod = 10000, shape = sh))
      assert(!t10.contains("CartesianProduct"), s"triangles_10k ($sh) cartesian:\n$t10")
      assert(!t10.contains("BroadcastNestedLoopJoin"), s"triangles_10k ($sh) BNLJ:\n$t10")
    }
    // approx-bounds: two independent hash-family aggregates joined on the
    // 5-row key — the percentile family must NOT share an aggregate with
    // the distincts (the fused form plans the distinct-Expand over the
    // percentile sort buffers: measured 7.1 s vs 0.75 s at sf0.1)
    val ab = plan(graft.events.Temporal.approxBounds(spark, sf))
    assert(!ab.contains("CartesianProduct"), s"approx bounds cartesian:\n$ab")
    val expands = "Expand".r.findAllMatchIn(ab).size
    assert(expands == 0, s"approx bounds plans an Expand (fused agg?):\n$ab")
    }
  }

  test("round-7 operators keep their scale shapes") {
    withTransparentMemos {
    // bloom runtime filter: the sketch enters as a SCALAR SUBQUERY (no
    // join node for the pruning stage), the residual exact join stays a
    // keyed equi-join — never a nested loop over probe rows
    val bj = plan(graft.operators.RuntimeFilter.bloomJoinRevenue(spark, sf))
    assert(bj.contains("Subquery"), s"bloom sketch should be a scalar subquery:\n$bj")
    assert(!bj.contains("CartesianProduct"), s"bloom join cartesian:\n$bj")
    assert(!bj.contains("BroadcastNestedLoopJoin"), s"bloom join BNLJ:\n$bj")
    // heavy hitters: the candidate recount is a BROADCAST semi-join (≤ C
    // candidate keys), never a shuffle of the key space
    val hh = plan(graft.functions.MisraGries.heavyHitters(spark, sf))
    assert(hh.contains("LeftSemi"), s"candidate recount should semi-join:\n$hh")
    assert(!hh.contains("CartesianProduct"), s"heavy hitters cartesian:\n$hh")
    // k-core: edge-vs-survivor pruning is two semi-joins on endpoint ids
    val kc = plan({
      Caches.releaseAll()
      graft.graph.KCore.kcore(spark, sf)
    })
    assert(!kc.contains("CartesianProduct"), s"k-core cartesian:\n$kc")
    assert(!kc.contains("BroadcastNestedLoopJoin"), s"k-core BNLJ:\n$kc")
    }
  }

  test("full-registry plan lint: no cartesian product anywhere, every nested loop bounded") {
    withTransparentMemos {
    // Every registered query's physical plan — new queries are linted by
    // construction, not by habit (the audits above cover hand-picked
    // shapes). CartesianProduct is banned outright. BroadcastNestedLoopJoin
    // is allowed ONLY with a named bound: Spark plans a BNLJ exactly when
    // a join has no equi-condition and one side broadcasts, which is fine
    // iff that side is bounded by construction — each allowlist entry
    // states its bound. Caveat: memoized subtrees appear as
    // InMemoryTableScan in later consumers; the FIRST consumer in sorted
    // order plans the build, so the build shape is linted once per run
    // (releaseAll below guarantees a cold start).
    val bnljAllowed: Map[String, String] = Map(
      "dedup_minhash_big" -> "1-row x 1-row summary crossJoin (n_docs x counts)",
      "dedup_simhash_capped" -> "1-row bucket-df stats x 1-row pair count crossJoin",
      "pipeline_curate_big" -> "seven 1-row stage-survivor aggregates crossJoined into the summary row",
      "dedup_ngram_capped_big" -> "1-row x 1-row summary crossJoin (n_docs x counts)",
      "dedup_ngram_skew" -> "1-row x 1-row summary crossJoins (docs x stats x pairs)",
      "ev_hll_merged" -> "1-row exact-distinct x 1-row merged-sketch estimate crossJoin",
      "ir_bm25" -> "1-row global corpus stats (N, avgdl) broadcast to every doc",
      "ir_ql_dirichlet" -> "1-row corpus token total (|C|) broadcast (bm25 stats shape)",
      "ir_bm25_persisted" -> "same bm25 plan served from the reloaded Parquet postings",
      "ir_bm25_big" -> "same bm25 plan over the x10 postings (1-row stats broadcast)",
      "ir_hybrid_rrf" -> "1-row query embedding + bm25 stats broadcasts, both bounded",
      "pr_toprank" -> "1-row dangling-mass scalar broadcast per iteration",
      "pr_toprank_10k" -> "1-row dangling-mass scalar broadcast per iteration",
      "sim_cosine_pairs" -> "documented brute-force baseline on the bounded eval slice",
      "sim_knn_classify" -> "bounded probe set (k rows) x corpus, the kNN contract",
      "sim_topk" -> "documented brute-force ANN baseline, bounded query set",
      "sim_topk_filtered" -> "brute-force over the filtered slice, bounded query set",
      "sim_topk_ivf" -> "K=16 trained-centroid probe, bounded by centroid count",
      "sim_topk_pq" -> "MxK=64-row trained codebook broadcast (encode + ADC table build)",
      "sim_topk_ivfpq" -> "K=16 centroid probe + MxK=64-row codebook broadcast, both bounded",
      "sim_topk_ivfpq_big" -> "same bounded probe/codebook broadcasts over the x10 corpus",
      "sim_index_persist" -> "same IVF-PQ plan served from the reloaded Parquet index",
      "ta_corpus_stats" -> "1-row corpus rollup joined back for ratios",
      "ta_priority_sample" -> "1-row boundary (tau) aggregate broadcast over k+1 rows",
      "ta_temperature_sample" -> "1-row quota normalizer (sum sqrt(n_s)) broadcast",
      "ta_importance_sample" -> "1-row LM totals (T, R, V) broadcast (bm25 stats shape)",
      "ta_kneser_ney" -> "1-row bigram-type-count (|B|) broadcast (bm25 stats shape)",
      "ta_kn_score" -> "inherits ta_kneser_ney's 1-row |B| broadcast through the LM join",
      "ta_kn_backoff" -> "1-row (|B|, V2) train-constant broadcast (bm25 stats shape)",
      "ev_decay_score" -> "1-row corpus horizon (max day) broadcast",
      "ta_perplexity" -> "1-row global token total broadcast (bm25 stats shape)",
      "ta_ppl_buckets" -> "1-row histogram total + 1-row tertile cutoffs broadcast",
      "text_pmi_pairs" -> "1-row global line count broadcast (A5: sentinel replaced)",
      "text_llr_pairs" -> "1-row global doc count broadcast (same A5 shape as PMI)",
      "text_pmi_stripes" -> "same pmiPairs plan under the map re-shape (A5 broadcast)",
      "ta_keywords" -> "1-row doc-count (N) broadcast for the idf term",
      "ta_source_kl" -> "1-row corpus token total broadcast (bm25 stats shape)",
      "q11_top_nations" -> "1-row global balance total broadcast (the scalar subquery)",
      "ml_nb_train" -> "V x C model-grid crossJoin (vocabulary x class count, the NB model size) + 1-row vocab/doc-count broadcasts",
      "ml_nb_apply" -> "inherits the bounded V x C grid + 1-row broadcasts through the model join",
      "ta_langid_nb" -> "the ml_nb_train shape over char trigrams: V x C model-grid crossJoin (trigram vocabulary x language count — vocabulary-bounded, broadcast weight at any corpus size) + 1-row vocab/doc-count broadcasts",
      "pr_hits" -> "single 1-row end-of-loop max-normalizer broadcast over the top-k survivors",
      "ir_mlt" -> "1-row corpus stats (N, avgdl) broadcast per query doc (the bm25 shape)",
      "op_join_estimate" -> "1-row sketch-estimate x 1-row exact-F2 crossJoin",
      "ir_rank_eval" -> "1-row metric aggregates (P@k, MRR, DCG, IDCG) crossJoined",
      "ir_rank_eval_zerorel" -> "same rankEval plan over the out-of-vocabulary term list",
      "ev_hll_intersection" -> "1-row sketch estimates x 1-row exact counts crossJoin",
      "sim_recall_at_k" -> "joins the two allowlisted bounded rankings (sim_topk x sim_topk_lsh)",
      "sim_recall_table" -> "joins five allowlisted bounded rankings against the exact top-k",
      "ml_nb_cv" -> "one fold-keyed V x C model grid (r12: the five per-fold subplans fused; entry kept in case the mfold equi-join ever degrades to BNLJ at the 5-row key)",
    )
    Caches.releaseAll()
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val p = try plan(fn(spark, sf)) catch {
        case e: Throwable => s"PLANFAIL: ${e.getMessage}"
      }
      Seq(
        Option.when(p.startsWith("PLANFAIL"))(s"$name: $p"),
        Option.when(p.contains("CartesianProduct"))(s"$name: CartesianProduct"),
        Option.when(p.contains("BroadcastNestedLoopJoin") && !bnljAllowed.contains(name))(
          s"$name: unallowlisted BroadcastNestedLoopJoin")
      ).flatten
    }
    Caches.releaseAll()
    assert(failures.isEmpty, s"plan lint failures:\n${failures.mkString("\n")}")
    // sensitivity control: the probe DOES catch a planted cartesian (two
    // large no-equi-key sides — too big to broadcast, so Spark must plan
    // CartesianProduct)
    val planted = plan(spark.range(10000000L).toDF("a")
      .join(spark.range(10000000L).toDF("b")))
    assert(planted.contains("CartesianProduct"),
      s"lint probe lost sensitivity:\n$planted")
    }
  }

  test("full-registry gate lint: every registered output column is atomic") {
    // The driver's correctness gate canonical-sorts rows in pandas before
    // hashing; a top-level MAP/ARRAY/STRUCT cell is unhashable there and
    // the row errs instead of comparing (r9: text_bigram_stripes /
    // text_pmi_stripes). Nested types are fine INSIDE a plan — they must
    // be serialized to an atomic column (to_json, concat_ws over sorted
    // entries) before registration. This lint makes that class of gate
    // failure impossible to reintroduce.
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    def nested(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: MapType | _: ArrayType | _: StructType => true
      case _ => false
    }
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val bad = try {
        fn(spark, sf).schema.fields.collect {
          case f if nested(f.dataType) => s"${f.name}: ${f.dataType.simpleString}"
        }.toSeq
      } catch { case e: Throwable => Seq(s"SCHEMAFAIL: ${e.getMessage}") }
      Option.when(bad.nonEmpty)(s"$name: ${bad.mkString(", ")}")
    }
    assert(failures.isEmpty, s"non-atomic registered outputs:\n${failures.mkString("\n")}")
    // sensitivity control: a planted map-valued output IS caught
    import org.apache.spark.sql.functions.{lit, map}
    val planted = spark.range(1).select(map(lit("k"), lit(1)).as("m"))
    assert(planted.schema.fields.exists(f => nested(f.dataType)),
      "gate lint probe lost sensitivity")
  }

  test("full-registry window lint: every partition-less window is limit-bounded") {
    // r8 verdict's only two `weak` rows were partition-less
    // `row_number().over(Window.orderBy(...))` windows (ir_bm25 dense/
    // fused ranking): EVERY row flows through ONE task's sort — a
    // corpus-scale single-task window at 100×. The fixed shape is
    // `orderBy.limit(topN)` (TakeOrderedAndProject) with rank numbered on
    // the ≤topN survivors, so a partition-less WindowExec is legal ONLY
    // with a limit operator strictly below it in the physical plan.
    // ml_roc_auc is the one allowlisted unbounded case: its window input
    // is the per-distinct-score aggregate, documented bounded by the
    // holdout size (ml/Spam.scala rocAuc).
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    def flattenPlan(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: kids.flatMap(flattenPlan)
    }
    def bounded(p: SparkPlan): Boolean = flattenPlan(p).exists {
      case _: TakeOrderedAndProjectExec | _: GlobalLimitExec |
           _: CollectLimitExec | _: LocalLimitExec => true
      case _: WindowGroupLimitExec => true
      case _ => false
    }
    // ta_ppl_buckets' cumulative window runs over the DISTINCT 6-dp
    // avg_nll histogram — value-grid-bounded input, same contract
    val allow = Set("ml_roc_auc", "ta_ppl_buckets")
    withTransparentMemos {
      Caches.releaseAll()
      val failures = SparkEntry.queries.toSeq.sortBy(_._1)
        .filterNot(q => allow(q._1)).flatMap { case (name, fn) =>
          val unbounded = flattenPlan(fn(spark, sf).queryExecution.executedPlan)
            .collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
            .filterNot(w => bounded(w.child))
          Option.when(unbounded.nonEmpty)(
            s"$name: ${unbounded.size} partition-less WindowExec without a limit below")
        }
      Caches.releaseAll()
      assert(failures.isEmpty, s"window lint failures:\n${failures.mkString("\n")}")
      // sensitivity control: the probe DOES catch an unbounded global window
      import org.apache.spark.sql.functions.{col, row_number}
      val planted = spark.range(100).toDF("v").withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window.orderBy(col("v"))))
      val hits = flattenPlan(planted.queryExecution.executedPlan)
        .collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
        .filterNot(w => bounded(w.child))
      assert(hits.nonEmpty, "window lint probe lost sensitivity")
    }
  }

  test("bm25 doc-length join is candidate-pruned, ranking is TakeOrdered") {
    // the r8 `weak` fix's second half: the per-doc length aggregation
    // must be semi-join-pruned to candidate docs (never a corpus-wide
    // doc-length shuffle per query), and the top-k must plan as
    // TakeOrderedAndProject
    withTransparentMemos {
      val p = plan(graft.ir.InvertedIndex.bm25(spark, sf))
      assert(p.contains("LeftSemi"), s"bm25 dl join not candidate-pruned:\n$p")
      assert(p.contains("TakeOrderedAndProject"), s"bm25 top-k not TakeOrdered:\n$p")
      val h = plan(graft.ir.Hybrid.rrf(spark, sf))
      assert(h.contains("TakeOrderedAndProject"), s"rrf top-k not TakeOrdered:\n$h")
    }
  }

  test("column pruning reaches the scan: q6 reads only what it aggregates") {
    // an 11-column fact table, a 7-column aggregate: the parquet
    // ReadSchema must exclude the untouched columns (at 100 TB the
    // difference IS the scan cost)
    // formatted mode: the plain toString truncates the FileScan line
    // before ReadSchema on wide scans
    val p = Relational.q6(spark, sf, "1996").queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val read = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(read.nonEmpty, s"no ReadSchema in plan:\n$p")
    Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber").foreach { c =>
      assert(!read.contains(c), s"unpruned column $c in scan: $read")
    }
    Seq("l_quantity", "l_extendedprice", "l_returnflag").foreach { c =>
      assert(read.contains(c), s"needed column $c missing from scan: $read")
    }
  }

  test("day-partitioned layout prunes partitions at the scan (100 TB layout)") {
    import org.apache.spark.sql.functions._
    val path = "target/events_by_day"
    Tables.events(spark, sf)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .write.mode("overwrite").partitionBy("day").parquet(path)
    val q = spark.read.parquet(path).filter(col("day") === "2024-01-02")
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("isnotnull(day"),
      s"no partition filter at the scan:\n$p")
    // the pruned scan reads only the one day's rows
    val expect = Tables.events(spark, sf)
      .filter(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-02").count()
    assert(q.count() == expect && expect > 0)
  }

  test("triangles 10k tier: both adjacency joins broadcast in PRODUCTION memo mode") {
    // production mode deliberately (no transparent bracket): this is the
    // r11 flap class — the query-side join strategy must hold against
    // the TRUNCATED memo leaves consumers actually plan with
    Caches.releaseAll()
    val p = plan(graft.graph.PageRank.triangles(spark, sf, mod = 10000))
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bhj >= 2, s"expected both adjacency joins broadcast, found $bhj:\n$p")
    Caches.releaseAll()
  }

  test("shingle-index consumers plan no exchange on the pre-placed (s, sl) key") {
    // production memo mode deliberately (no transparent bracket): the
    // shingle index memos are repartitioned on (s, sl) with an explicit
    // count, and the truncated leaf advertises that placement — so every
    // tier's self-join sides (the right side renamed to s2, sl2) and the
    // skew tier's df stats aggregate must plan ZERO per-rep exchanges
    // keyed on the index's key. A lost placement re-exchanges the
    // corpus-sized index every rep (the r15 AQE-coalescing bug).
    val indexKeyed = "Exchange hashpartitioning\\(s2?#\\d+L?, sl2?#\\d+".r
    // the stop-shingle cap runs once, inside the capped memo's build: no
    // capped query's per-rep plan anti-joins or aggregates df over the
    // index, except the skew tier's stats row over its FULL index
    val indexAgg = "HashAggregate\\(keys=\\[s#\\d+L, sl#\\d+\\]".r
    Caches.releaseAll()
    try {
      Seq("dedup_ngram_jaccard", "dedup_ngram_capped", "dedup_overlap_pairs",
        "dedup_ngram_skew", "dedup_ngram_capped_big").foreach { name =>
        val p = plan(SparkEntry.queries(name)(spark, sf))
        assert(indexKeyed.findFirstIn(p).isEmpty, s"$name re-exchanges the index:\n$p")
        assert(!p.contains("LeftAnti"), s"$name anti-joins per rep:\n$p")
        val statsAggs = if (name != "dedup_ngram_skew") 0 else
          indexAgg.findAllIn(plan(graft.dedup.Dedup.skewIndex(spark, sf)
            .groupBy("s", "sl").count())).size
        assert(indexAgg.findAllIn(p).size == statsAggs,
          s"$name aggregates df over the index per rep:\n$p")
      }
    } finally Caches.releaseAll()
  }

  test("spam_ensemble_seq scores its three models in one aggregate with no sort-merge join") {
    // one row per feature in each shard model makes the broadcast join
    // chain exact. Size-based broadcasts are off here: at fixture scale
    // the planner would broadcast re-joined per-model aggregates anyway
    // and hide them, where at sf0.1 they plan as sort-merge joins.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val df = graft.ml.Spam.ensembleSeq(spark, sf)
      df.collect()
      val p = plan(df)
      assert(p.contains("isFinalPlan=true"), p)
      assert(!p.contains("SortMergeJoin"), s"sort-merge join in spam_ensemble_seq:\n$p")
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("memo-fed queries plan identically on consecutive invocations (stats discipline)") {
    // the pr_hits r9 / pr_triangles r11 bug class: a LAZY memo hands its
    // first consumer estimate stats and every later consumer measured
    // stats, so the same query planned two different joins depending on
    // consumption order. Caches.memoized now materializes at build; the
    // plan chosen BEFORE any query executes must equal the plan chosen
    // after (canonicalized: exprIds normalized).
    Caches.releaseAll()
    def canonical(name: String): String = {
      val df = SparkEntry.queries(name)(spark, sf)
      df.queryExecution.executedPlan.canonicalized.toString
    }
    try {
      Seq("pr_triangles_10k", "pr_hits", "dedup_groups").foreach { name =>
        val cold = canonical(name) // memos build (and materialize) here
        SparkEntry.queries(name)(spark, sf)
          .write.format("noop").mode("overwrite").save()
        val warm = canonical(name)
        assert(cold == warm,
          s"$name planned differently cold vs warm:\nCOLD:\n$cold\nWARM:\n$warm")
      }
    } finally Caches.releaseAll()
  }

  test("range rewrite of the reference's string-prefix date semantics is exact") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sf)
    for (dt <- Seq("1996", "1996-03", "1996-03-15")) {
      val range = li.filter(Tables.dateMatches(col("l_shipdate"), dt)).count()
      val prefix = li.filter(
        date_format(col("l_shipdate"), "yyyy-MM-dd").startsWith(dt)).count()
      assert(range == prefix, s"dt=$dt range=$range prefix=$prefix")
    }
    // lexicographic </> rewrites (Q7 semantics)
    val gt = li.filter(Tables.dayAfter(col("l_shipdate"), "1997-06-30")).count()
    val gtRef = li.filter(date_format(col("l_shipdate"), "yyyy-MM-dd") > "1997-06-30").count()
    assert(gt == gtRef)
    val o = Tables.orders(spark, sf)
    val ltc = o.filter(Tables.dayBefore(col("o_orderdate"), "1997-06-30")).count()
    val ltRef = o.filter(date_format(col("o_orderdate"), "yyyy-MM-dd") < "1997-06-30").count()
    assert(ltc == ltRef)
  }
}
