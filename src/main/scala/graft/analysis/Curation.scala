package graft.analysis

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.text.Text

/** Training-data curation operators (driver-extension mandate): the
  * selection/shaping steps between "cleaned corpus" and "training
  * examples" — stratified sampling, source mixture weighting, fixed-stride
  * chunking, and sequence packing.
  *
  * Everything is content-deterministic (md5-derived buckets/ranks, never
  * rand()), so results survive reruns, repartitioning, and backfills, and
  * every operator is replayable by the DuckDB oracle.
  *
  * Scale posture: sampling and mixture are per-row filters plus one
  * bounded-key window; chunking is a pure per-row explode; packing folds
  * within md5-bucket shards whose size is corpus/buckets — the bucket
  * count is the CALLER'S scale knob (see [[Curation.pack]]): size it so
  * one shard's (doc_id, n) pairs fit an executor (the same bounded-group
  * contract as the stateful sessionizer, documented at the fold).
  */
// top-level: Spark codegen instantiates the deserializer from generated code
final case class PackDoc(bucket: Int, doc_id: Long, n: Long)

object Curation {

  private def withToks(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", Text.tokenize(col("text")))

  /** Stratified sample: up to `perStratum` docs per language, ranked by
    * md5(text) (content-stable pseudo-randomness — the rank is uniform
    * but reproducible). One shuffle on the stratum key; the window is
    * rank-only so the per-group state is a counter, never a buffer.
    */
  def stratifiedSample(spark: SparkSession, dir: String, perStratum: Int = 50): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(md5(col("text")), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        row_number().over(w).cast("long").as("rk"))
      .where(col("rk") <= perStratum)
  }

  /** Source mixture weighting: per-source keep-rates (here a declared
    * ramp over the source index — src0 keeps 100%, each next source 4
    * points fewer), applied as a deterministic md5-bucket threshold on
    * (doc_id, source). This is the "data mixing" step that rebalances
    * web/books/code proportions before training; shuffle-free.
    */
  def mixtureSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        expr("CAST(substring(source, 4) AS INT)").as("src_idx"),
        expr("""pmod(conv(substring(md5(concat(CAST(doc_id AS STRING), source)), 1, 8),
                16, 10), 100)""").cast("long").as("bucket"))
      .withColumn("rate_pct", (lit(100) - col("src_idx") * 4).cast("long"))
      .where(col("bucket") < col("rate_pct"))
      .select(col("doc_id"), col("source"), col("bucket"), col("rate_pct"))

  /** Temperature-flattened source mixture (the multilingual-training
    * rebalancing of Arivazhagan et al. 2019: sample sources ∝ n_s^T,
    * T < 1 boosting small sources): target share q_s = √n_s / Σ√n_t at
    * T = 1/2 — chosen because IEEE sqrt is CORRECTLY ROUNDED, so the
    * per-source weight is bit-identical in every engine (an arbitrary
    * pow(x, T) is not), making the whole quota computation
    * oracle-replayable: √n_s rounds onto the 6-dp decimal grid, the
    * normalizer is an exact DECIMAL sum (order-free), and
    * k_s = floor(budget · q_s) divides identical doubles. Selection
    * WITHIN a source is the content-stable md5 rank (the
    * stratifiedSample convention — survives reruns and repartitioning),
    * doc_id tiebreak. One aggregate + one broadcast of the ≤ #sources
    * quota table + one per-source window; at 100 TB the window sorts
    * only within sources and only to depth k_s (TakeOrdered per group
    * via the ev_topk_per_user Aggregator is the drop-in if source
    * cardinality explodes).
    */
  def temperatureSample(spark: SparkSession, dir: String, budget: Int = 200): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      .withColumn("s6", round(sqrt(col("n_s").cast("double")), 6).cast("decimal(18,6)"))
    val tot = counts.agg(sum(col("s6")).as("tot"))
    val quota = counts.crossJoin(broadcast(tot))
      .select(col("source"), col("n_s"),
        floor(lit(budget) * (col("s6").cast("double") / col("tot").cast("double")))
          .cast("long").as("k_s"))
    val ranked = docs.withColumn("rk", row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
        .orderBy(md5(col("text")), col("doc_id"))))
    ranked.join(broadcast(quota), Seq("source"))
      .where(col("rk") <= col("k_s"))
      .select(col("doc_id"), col("source"),
        col("rk").cast("long").as("rank_in_source"), col("n_s"), col("k_s"))
  }

  private val PriorityK = 100

  /** Weighted sampling WITHOUT replacement + unbiased subset-sum
    * estimation in one pass: priority sampling (Duffield, Lund, Thorup,
    * JACM 2007). Each doc gets priority q = w / u with weight
    * w = n_chars and u ~ U(0,1]; the sample is the top-k by q and the
    * estimator ŵ = max(w, τ) (τ = the (k+1)-th priority) makes
    * Σ_sample ŵ an unbiased estimate of Σ_corpus w — the sketch that
    * lets a 100 TB pipeline answer "how many bytes does this slice
    * hold" from a k-row sample.
    *
    * Every arithmetic step is cross-engine bit-exact, which is what
    * makes the SAMPLE ITSELF oracle-gateable (not just a rounded
    * statistic): u is an md5-derived integer in [1, 2^32] (exactly
    * representable), w·2^32 is an integer times a power of two (exact
    * double), and one IEEE division of two exact integers is correctly
    * rounded — identical bits in Spark and DuckDB, so both engines
    * select the same k rows with no tolerance anywhere. τ is the min
    * priority of the top-(k+1) frame (numerically the (k+1)-th order
    * statistic), carried as a one-row broadcast.
    *
    * Plan shape: narrow projection → TakeOrderedAndProject(k+1) → one
    * broadcast nested-loop of a 1-row aggregate. No full shuffle, no
    * window; the top-k reduction is the only cross-partition traffic,
    * O(k) per partition — the same shape at 100 TB.
    */
  def prioritySample(spark: SparkSession, dir: String, k: Int = PriorityK): DataFrame = {
    val pri = Tables.documents(spark, dir).select(
      col("doc_id"), col("n_chars").cast("long").as("w"),
      ((col("n_chars").cast("double") * lit(4294967296.0)) /
        (expr("conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)")
          .cast("long") + lit(1)).cast("double")).as("q"))
    val topK1 = pri.orderBy(col("q").desc, col("doc_id")).limit(k + 1)
    // boundary row = sort-last under (q desc, doc_id asc): smallest q,
    // then largest doc_id — min of (q, -doc_id) fieldwise
    val bnd = topK1.agg(min(struct(col("q"), (-col("doc_id")).as("nd"))).as("b"))
      .select(col("b.q").as("tau"), (-col("b.nd")).cast("long").as("tau_doc"))
    topK1.crossJoin(broadcast(bnd))
      .where(!(col("q") === col("tau") && col("doc_id") === col("tau_doc")))
      .select(col("doc_id"), col("w"), round(col("q"), 6).as("q6"),
        round(greatest(col("w").cast("double"), col("tau")), 6).as("w_hat"))
  }

  private val ChunkLen = 8
  private val ChunkStride = 6

  /** Fixed-stride token chunking: overlapping windows of `ChunkLen`
    * tokens every `ChunkStride` — how long documents become training
    * examples. Pure per-row transform+explode (narrow, shuffle-free);
    * trailing short chunks are kept, like a real packing pipeline's
    * remainder handling.
    */
  def chunk(spark: SparkSession, dir: String): DataFrame =
    withToks(spark, dir)
      .where(size(col("toks")) > 0)
      // Generate explodes ONLY the chunk-index sequence; the slice runs in
      // the codegen'd projection after it. (Building array-of-slices
      // inside the generator with a transform lambda kept the whole hot
      // path interpreted and allocated a nested array per row — measured
      // 4.5× slower cold at sf0.1.)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0),
          expr(s"CAST((size(toks) - 1) DIV $ChunkStride AS INT)"))).as("i"))
      // Bind the slice ONCE and derive both outputs from it. The two
      // projections survive optimization as-is: CollapseProject refuses to
      // inline a non-cheap alias referenced more than once, so the array
      // copy runs once per chunk instead of twice (it was the bench's most
      // expensive narrow query at 3.1 s).
      .select(col("doc_id"), col("i").cast("long").as("chunk_idx"),
        expr(s"slice(toks, i * $ChunkStride + 1, $ChunkLen)").as("c"))
      .select(col("doc_id"), col("chunk_idx"),
        array_join(col("c"), " ").as("chunk_text"),
        size(col("c")).cast("long").as("n_chunk_toks"))

  private val PackCapacity = 48L
  private val PackBuckets = 16


  /** Sequence packing: greedy next-fit of documents into
    * `PackCapacity`-token bins, folded in doc_id order WITHIN md5-bucket
    * shards. Packing is inherently order-dependent, so the distributed
    * form shards first (content-stable md5 bucket), then folds each shard
    * sequentially — the executor materializes ONE shard's (doc_id, n)
    * pairs (16 bytes/doc; shard size = corpus/buckets). `buckets` is the
    * CALLER'S scale knob: nothing auto-scales it, so a 100 TB run must
    * pass buckets ≈ corpus_docs × 16 B / target-shard-memory (e.g. ~10⁶
    * docs/shard) — the registered query pins the default 16 because the
    * oracle's recursive CTE replays that exact sharding. A doc longer
    * than the capacity gets its own bin.
    */
  def pack(spark: SparkSession, dir: String, buckets: Int = PackBuckets): DataFrame = {
    import spark.implicits._
    packShards(
      withToks(spark, dir)
        .select(
          expr(s"""CAST(pmod(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10),
                   $buckets) AS INT)""").as("bucket"),
          col("doc_id"), size(col("toks")).cast("long").as("n"))
        .as[PackDoc],
      PackCapacity)
  }

  /** The distributed shard fold behind [[pack]], exposed for independent
    * property testing against a local sequential replay.
    */
  def packShards(docs: org.apache.spark.sql.Dataset[PackDoc],
                 capacity: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .groupByKey(_.bucket)
      .flatMapGroups { (bucket, it) =>
        val sorted = it.toArray.sortBy(_.doc_id)
        var bin = 0L
        var fill = 0L
        sorted.iterator.map { d =>
          if (fill > 0 && fill + d.n > capacity) { bin += 1; fill = d.n }
          else fill += d.n
          (d.doc_id, bucket.toLong, bin, d.n)
        }
      }
      .toDF("doc_id", "bucket", "bin_id", "n_tokens")
  }

  /** Shard/bin manifest over [[pack]]'s output — the export accounting a
    * training dataloader consumes (how many docs and tokens each packed
    * bin holds, and its doc-id range). One aggregate keyed on the
    * already-computed (bucket, bin) — the natural last step of the
    * packing pipeline.
    */
  def packManifest(spark: SparkSession, dir: String): DataFrame =
    pack(spark, dir)
      .groupBy(col("bucket"), col("bin_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))

  /** End-to-end corpus curation — the composed training-data pipeline:
    * keep a document iff it
    *  1. passes the heuristic quality gate (ta_quality `pass`),
    *  2. is its exact-dedup group's canonical (min doc_id per md5),
    *  3. is its NEAR-dup component's canonical (MinHash pair graph →
    *     connected components, dedup_groups),
    *  4. sits in the train split with eval-overlap dirty_frac < 0.5
    *     (dedup_contamination — eval-split docs are held out entirely).
    * Every stage is the already-oracle-checked operator; this registers
    * their COMPOSITION under one hash gate, which is what an actual
    * pipeline runs. All joins key on doc_id; the per-stage scale
    * arguments (broadcast eval set, banded LSH, bounded label
    * propagation) carry over unchanged.
    *
    * `lineDedup = true` appends the optional C4-style line-dedup stage
    * (r13 verdict task 4): per-doc removed-line stats from
    * [[graft.dedup.Dedup.dedupLinesOn]] over the planted multi-line
    * fixture view of the same corpus, gating out docs that are mostly
    * cross-document boilerplate lines (removed fraction ≥ 0.5). The
    * stage joins on doc_id like every other gate; at 100 TB it runs on
    * the real multi-line text, no fixture.
    */
  def curate(spark: SparkSession, dir: String,
             lineDedup: Boolean = false): DataFrame = {
    // quality over the memoized base tokenize (corpus:tokens_base — the
    // build key the bench scaling table already charges to this
    // pipeline): identical token arrays by construction, so identical
    // scores; the per-rep work left is the quality arithmetic + the
    // stage joins, not a redundant corpus re-tokenize (every OTHER
    // stage of the composition already reads its memo)
    val q = TextAnalysis.qualityScoreOn(
      graft.text.Text.tokensBase(spark, dir).withColumnRenamed("tokens", "toks"))
      .where(col("pass")).select(col("doc_id"), col("score"))
    val exactCanon = graft.dedup.Dedup.exact(spark, dir)
      .where(col("doc_id") === col("canonical_id")).select(col("doc_id"))
    val nearCanon = graft.dedup.Dedup.dupGroups(spark, dir)
      .where(col("doc_id") === col("canonical_id")).select(col("doc_id"))
    val clean = graft.dedup.Dedup.contamination(spark, dir)
      .where(col("dirty_frac") < 0.5).select(col("doc_id"), col("dirty_frac"))
    // de-boilerplate: survivors must be mostly original prose (quality's
    // n_tokens >= 10 gate guarantees every survivor has passages, so the
    // inner join drops nobody for being short)
    val lowBp = graft.dedup.Dedup.boilerplate(spark, dir)
      .where(col("boiler_frac") < 0.5).select(col("doc_id"), col("boiler_frac"))
    // PII gate over the RAW corpus (no injection — that's the hash-gated
    // demonstration tier): the fixture is PII-free so the stage passes
    // everything here, but the stage is the real pipeline step and the
    // oracle replays the scan, keeping the no-PII claim checked
    val piiFree = Pii.scanRaw(spark, dir)
      .where(!col("has_pii")).select(col("doc_id"))
    val base = q.join(exactCanon, "doc_id").join(nearCanon, "doc_id")
      .join(clean, "doc_id").join(lowBp, "doc_id").join(piiFree, "doc_id")
    if (!lineDedup) base
    else base
      .join(graft.dedup.Dedup.dedupLines(spark, dir)
        .select(col("doc_id"), col("n_lines"), col("n_removed")), "doc_id")
      .where(col("n_removed").cast("double") / col("n_lines").cast("double")
        < 0.5)
  }

  /** ×`replicas` MEASURED tier of the end-to-end curation composition
    * (r12 verdict task 6 — pipeline_curate was the only flagship
    * composition without a scale tier): the full
    * quality → exact-dedup → NEAR-dedup (portable LSH pair graph →
    * connected components) → decontaminate → PII chain over the shared
    * inflated corpus ([[graft.Tables.documentsInflated]], the
    * dedup_minhash_big replica protocol), folded to a hash-gated
    * one-row summary — per-stage survivor counts plus the final
    * intersection. The near-dup stage consumes the PORTABLE md5 mod-p
    * band pairs ([[graft.dedup.Dedup.bigPortablePairs]]) so DuckDB
    * replays the whole chain — inflation, LSH, verify, recursive
    * reachability, stage gates — end to end. Boilerplate stays
    * fixture-tier only (its planted templates are a gate fixture, not
    * corpus behavior; the inflated corpus carries none).
    *
    * Scale posture: identical to the fixture composition — every stage
    * is the frame-parameterized production operator (broadcast eval
    * keys, banded LSH candidates, O(log n) components), every join keys
    * on doc_id; 10× the docs costs ~10× per stage, measured in the
    * bench scaling table.
    */
  def curateBig(spark: SparkSession, dir: String, replicas: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documentsInflated(spark, dir, replicas)
    val toks = graft.text.Text.tokensInflated(spark, dir, replicas)
      .withColumnRenamed("tokens", "toks")
    val q = TextAnalysis.qualityScoreOn(toks)
      .where(col("pass")).select(col("doc_id"))
    val exactCanon = docs
      .select(col("doc_id"),
        min(col("doc_id")).over(Window.partitionBy(md5(col("text")))).as("canon"))
      .where(col("doc_id") === col("canon")).select(col("doc_id"))
    // label propagation is an ITERATIVE build (actions per round) — memo
    // it like dupGroups' "groups_0.5", or every bench rep re-runs the
    // whole convergence loop (measured 6 s/rep at the 50k-doc tier)
    val nearCanon = graft.Caches.memoized(spark, dir, s"curate:big_groups_$replicas") {
      graft.graph.Components.labels(
        docs.select(col("doc_id")),
        graft.dedup.Dedup.bigPortablePairs(spark, dir, replicas),
        partitions = Some(8))
    }.where(col("doc_id") === col("label")).select(col("doc_id"))
    val clean = graft.Caches.memoized(spark, dir, s"curate:big_contamination_$replicas") {
      graft.dedup.Dedup.contaminationOn(
        graft.dedup.Dedup.bigShingles(spark, dir, replicas))
    }.where(col("dirty_frac") < 0.5).select(col("doc_id"))
    val piiFree = Pii.scanOn(docs)
      .where(!col("has_pii")).select(col("doc_id"))
    // ONE flags frame, ONE aggregate: each stage subplan feeds exactly
    // one left join, so the per-stage counts AND the survivor count
    // come out of a single pass — the first draft crossJoined per-stage
    // aggregates with a separate survivors join, evaluating the
    // unmemoized stage scans (quality tokenize, md5 window, PII
    // regexes) twice per bench rep
    def flag(df: DataFrame, name: String): DataFrame =
      df.withColumn(name, lit(1))
    val flags = docs.select(col("doc_id"))
      .join(flag(q, "f_q"), Seq("doc_id"), "left")
      .join(flag(exactCanon, "f_exact"), Seq("doc_id"), "left")
      .join(flag(nearCanon, "f_near"), Seq("doc_id"), "left")
      .join(flag(clean, "f_clean"), Seq("doc_id"), "left")
      .join(flag(piiFree, "f_pii"), Seq("doc_id"), "left")
    flags.agg(
      count(lit(1)).as("n_docs"),
      count(col("f_q")).as("n_q_pass"),
      count(col("f_exact")).as("n_exact_canon"),
      count(col("f_near")).as("n_near_canon"),
      count(col("f_clean")).as("n_clean"),
      count(col("f_pii")).as("n_pii_free"),
      count(when(col("f_q").isNotNull && col("f_exact").isNotNull &&
        col("f_near").isNotNull && col("f_clean").isNotNull &&
        col("f_pii").isNotNull, 1)).as("n_survivors"))
  }

  /** Leakage-free train/val/test split: every document inherits the
    * split of its NEAR-DUP COMPONENT's canonical (the ml_hash_split md5
    * bucket computed on `canonical_id` instead of `doc_id`), so a
    * near-dup family can never straddle train and eval — the PREVENTIVE
    * twin of dedup_contamination's measurement (which quantifies leakage
    * a naive per-doc split lets through). Plan: one projection over the
    * memoized component labels — the expensive part (pair graph →
    * components) is the already-shared dedup_groups frame, so at steady
    * state this is a narrow map; at 100 TB the same holds with the
    * labels read from their materialized store. The fixture's planted
    * dup families make the guard observable: members whose OWN bucket
    * disagrees with their canonical's still land together.
    */
  def leakFreeSplit(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.dupGroups(spark, dir)
      .select(col("doc_id"), col("canonical_id"),
        // the ONE shared split arithmetic (Skew.hashBucket/splitOf),
        // applied to the component canonical instead of the doc itself
        graft.operators.Skew.hashBucket(col("canonical_id")).as("bucket"))
      .select(col("doc_id"), col("canonical_id"),
        graft.operators.Skew.splitOf(col("bucket")).as("split"))

  /** Per-source corpus health report — the dashboard a curation pipeline
    * watches per ingest source: document count, mean quality score and
    * pass rate (ta_quality), exact-duplicate rate (non-canonical docs of
    * the md5 fingerprint window), mean eval-contamination fraction
    * over the source's train-split docs (dedup_contamination; NULL when
    * a source has no train docs), mean boilerplate fraction
    * (dedup_boilerplate; NULL when no doc is long enough to score), and
    * PII incidence. Composes the memoized dedup frames, so
    * at steady state the report is one aggregate keyed on `source` over
    * already-cached per-doc columns — no new corpus scan.
    *
    * fp portability: score and dirty_frac sit on the 1e-6 decimal grid
    * (quality's decimal blend / contamination's round6), so the means
    * accumulate as exact DECIMAL sums (order-free) and divide in double
    * on bit-identical inputs; rate numerators are integer counts.
    */
  def sourceReport(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    // memoized base tokenize, as in curate: the report's own doc promises
    // "no new corpus scan" at steady state — the quality stage was the
    // one stage still re-tokenizing per rep
    val q = TextAnalysis.qualityScoreOn(
      graft.text.Text.tokensBase(spark, dir).withColumnRenamed("tokens", "toks"))
      .select(col("doc_id"), col("score"), col("pass"))
    val ex = graft.dedup.Dedup.exact(spark, dir)
      .select(col("doc_id"), (col("doc_id") =!= col("canonical_id")).as("is_dup"))
    val ct = graft.dedup.Dedup.contamination(spark, dir)
      .select(col("doc_id"), col("dirty_frac"))
    // round-5 health signals: mean boilerplate fraction (over docs long
    // enough to have passages — LEFT join, NULL-safe mean like dirty)
    // and PII incidence over the raw corpus
    val bp = graft.dedup.Dedup.boilerplate(spark, dir)
      .select(col("doc_id"), col("boiler_frac"))
    val pi = Pii.scanRaw(spark, dir)
      .select(col("doc_id"), col("has_pii"))
    src.join(q, "doc_id").join(ex, "doc_id").join(ct, Seq("doc_id"), "left")
      .join(bp, Seq("doc_id"), "left").join(pi, "doc_id")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("score").cast("decimal(12,6)")).as("score_d"),
        sum(when(col("pass"), 1).otherwise(0)).as("n_pass"),
        sum(when(col("is_dup"), 1).otherwise(0)).as("n_dup"),
        count(col("dirty_frac")).as("n_train"),
        sum(col("dirty_frac").cast("decimal(12,6)")).as("dirty_d"),
        count(col("boiler_frac")).as("n_scored"),
        sum(col("boiler_frac").cast("decimal(12,6)")).as("boiler_d"),
        sum(when(col("has_pii"), 1).otherwise(0)).as("n_pii"))
      .select(col("source"), col("n_docs"),
        round(col("score_d").cast("double") / col("n_docs"), 6).as("mean_score"),
        round(col("n_pass").cast("double") / col("n_docs"), 6).as("pass_rate"),
        round(col("n_dup").cast("double") / col("n_docs"), 6).as("dup_rate"),
        col("n_train"),
        when(col("n_train") > 0,
          round(col("dirty_d").cast("double") / col("n_train"), 6))
          .as("mean_dirty_frac"),
        when(col("n_scored") > 0,
          round(col("boiler_d").cast("double") / col("n_scored"), 6))
          .as("mean_boiler_frac"),
        round(col("n_pii").cast("double") / col("n_docs"), 6).as("pii_rate"))
  }

  /** DSIR-style importance-weighted data selection (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling",
    * reduced to the deterministic unigram form): score every document by
    * how much more likely its tokens are under a TARGET distribution
    * (here the `lang = 'en'` slice) than under the RAW corpus
    * distribution, and keep the top-k. Per-token importance =
    * ln p̂_target(w) − ln p̂_raw(w), both Laplace-smoothed over the JOINT
    * vocabulary so raw-only tokens score finitely.
    *
    * fp-portability: both LM totals are exact integer aggregates, each
    * per-token log-ratio is rounded to 6 dp and DECIMAL-summed per doc
    * (order-free — the ta_perplexity protocol), and the final mean is a
    * 6-dp rounded double, so the oracle replays the ranking bit-for-bit.
    *
    * Scale shape: one exploded token pass, one vocab aggregate carrying
    * BOTH counts (target count rides a conditional sum — no second corpus
    * scan), one-row totals broadcast, a keyed vocab join back to the
    * token stream (broadcast at fixture vocab; the keyed join IS the
    * 100 TB form), top-k as TakeOrderedAndProject.
    */
  def importanceSample(spark: SparkSession, dir: String, topK: Int = 100): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), explode(Text.tokenize(col("text"))).as("w"))
    // the two-distribution vocabulary LM is the trained artifact of DSIR
    // (target + raw counts) — ingest-time corpus prep like the NB/KN
    // models (r14): memoized, so the per-rep query is the token stream,
    // the broadcast vocab join and the doc aggregate, not a second full
    // explode + aggregate re-deriving the model
    val vocab = graft.Caches.memoized(spark, dir, "ta:dsir_vocab")(
      tok.groupBy(col("w")).agg(
        count(lit(1)).as("cnt_r"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("cnt_t")))
    val stats = vocab.agg(
      sum(col("cnt_r")).cast("double").as("r_total"),
      sum(col("cnt_t")).cast("double").as("t_total"),
      count(lit(1)).cast("double").as("v"))
    val term = round(
      log((col("cnt_t").cast("double") + lit(1.0)) / (col("t_total") + col("v"))) -
        log((col("cnt_r").cast("double") + lit(1.0)) / (col("r_total") + col("v"))), 6)
    val scored = tok
      .join(broadcast(vocab), "w")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), term.cast("decimal(18,6)").as("t"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("t")).cast("double") / count(lit(1)).cast("double"), 6)
          .as("mean_logratio"))
    graft.functions.GroupTopK.rankedTop(scored, "mean_logratio", "doc_id", topK)
  }

  private val tokSql =
    graft.text.Text.TokSql

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ta_importance_sample" -> ((s, d) => importanceSample(s, d)),
    "pipeline_curate"        -> ((s, d) => curate(s, d)),
    // ×10 measured tier of the composition (see curateBig); hash-gated
    // one-row summary, chained-CTE oracle over the portable LSH family
    "pipeline_curate_big"    -> ((s, d) => curateBig(s, d)),
    // the composition with the optional C4-style line-dedup stage on
    // (the planted multi-line fixture view — see Dedup.linesFixture)
    "pipeline_curate_lines"  -> ((s, d) => curate(s, d, lineDedup = true)),
    "pipeline_source_report" -> ((s, d) => sourceReport(s, d)),
    "ml_split_leakfree"      -> ((s, d) => leakFreeSplit(s, d)),
    "ta_stratified_sample" -> ((s, d) => stratifiedSample(s, d)),
    "ta_mixture_sample"    -> ((s, d) => mixtureSample(s, d)),
    "ta_temperature_sample" -> ((s, d) => temperatureSample(s, d)),
    "ta_priority_sample"   -> ((s, d) => prioritySample(s, d)),
    "ta_chunk"             -> ((s, d) => chunk(s, d)),
    "ta_pack"              -> ((s, d) => pack(s, d)),
    "ta_pack_manifest"     -> ((s, d) => packManifest(s, d)),
  )

  /** The contamination stage of both curation-pipeline replays, as CTEs
    * over a shingle-set CTE `sh(doc_id, s)`: docs md5-bucketed, buckets
    * ≥ 90 are the eval split whose shingles (`ek`) mark train shingles
    * dirty, and `ct(doc_id, dirty_frac)` keeps the train docs whose dirty
    * fraction is below 0.5.
    */
  private lazy val contaminationCtes: String =
    s"""bkt AS (SELECT doc_id, s,
                    ${graft.OracleSql.md5Bucket()}
                      AS bucket
                  FROM sh),
          ek AS (SELECT DISTINCT unnest(s) AS g FROM bkt WHERE bucket >= 90),
          tr AS (SELECT doc_id, unnest(s) AS g FROM bkt WHERE bucket < 90),
          dc AS (SELECT tr.doc_id, count(*) AS n_dirty
                 FROM tr JOIN ek ON tr.g = ek.g GROUP BY tr.doc_id),
          ct AS (
            SELECT doc_id, dirty_frac FROM (
              SELECT base.doc_id,
                round(coalesce(n_dirty, 0)::DOUBLE / n_sh, 6) AS dirty_frac
              FROM (SELECT doc_id, len(s) AS n_sh FROM bkt WHERE bucket < 90) base
              LEFT JOIN dc ON base.doc_id = dc.doc_id)
            WHERE dirty_frac < 0.5)"""

  /** The pipeline_curate replay, hoisted so compositions that extend
    * the pipeline (pipeline_curate_lines) reference ONE copy instead
    * of inlining a drift-prone duplicate (r13 verdict task 7).
    */
  private[graft] lazy val curateOracleSql: String =
    s"""WITH RECURSIVE
          tk AS (SELECT doc_id, text, $tokSql AS toks FROM documents),
          q AS (
            SELECT doc_id, score
            FROM (${TextAnalysis.qualityCteSql("tk")})
            WHERE pass),
          ec AS (
            SELECT doc_id FROM (
              SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS canon
              FROM documents)
            WHERE doc_id = canon),
          sh AS (
            SELECT doc_id, ${graft.OracleSql.shingle3("toks")} AS s
            FROM tk WHERE len(toks) >= 3),
          pairs AS (${graft.dedup.Dedup.jaccardPairsSql(0.5)}),
          edges AS (SELECT d1 AS a, d2 AS b FROM pairs
                    UNION ALL SELECT d2, d1 FROM pairs),
          ${graft.OracleSql.minLabelReach("documents", "doc_id", "edges")},
          nc AS (
            SELECT doc_id FROM (
              SELECT v AS doc_id, min(r) AS canonical_id FROM reach GROUP BY v)
            WHERE doc_id = canonical_id),
          $contaminationCtes,
          p8 AS (${graft.dedup.Dedup.passagesSql("tk")}),
          hot AS (SELECT passage FROM p8 GROUP BY passage HAVING count(*) >= 2),
          bp AS (
            SELECT doc_id, boiler_frac FROM (
              SELECT p8.doc_id,
                     round(CAST(count(hot.passage) AS DOUBLE) / count(*), 6)
                       AS boiler_frac
              FROM p8 LEFT JOIN hot ON p8.passage = hot.passage
              GROUP BY p8.doc_id)
            WHERE boiler_frac < 0.5),
          pii AS (
            SELECT doc_id FROM documents
            WHERE len(regexp_extract_all(text, '${Pii.EmailRe}'))
                + len(regexp_extract_all(text, '${Pii.PhoneRe}'))
                + len(regexp_extract_all(text, '${Pii.IpRe}')) = 0)
          SELECT q.doc_id, q.score, ct.dirty_frac, bp.boiler_frac
          FROM q JOIN ec USING (doc_id) JOIN nc USING (doc_id) JOIN ct USING (doc_id)
               JOIN bp USING (doc_id) JOIN pii USING (doc_id)"""

  val oracles: Map[String, String] = Map(
    // priority sampling: every step is bit-exact cross-engine (md5
    // integer u, w·2^32 exact, one IEEE division), so the selected SET
    // itself is replayed — the boundary row is dropped by identity,
    // not by rank
    "ta_priority_sample" ->
      s"""WITH pri AS (
            SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
                   (CAST(n_chars AS DOUBLE) * 4294967296.0) /
                   CAST(${graft.OracleSql.md5U32("doc_id")} + 1 AS DOUBLE) AS q
            FROM documents),
          topk1 AS (SELECT * FROM pri ORDER BY q DESC, doc_id LIMIT ${PriorityK + 1}),
          bnd AS (SELECT q AS tau, doc_id AS tau_doc
                  FROM topk1 ORDER BY q ASC, doc_id DESC LIMIT 1)
          SELECT t.doc_id, t.w, round(t.q, 6) AS q6,
                 round(greatest(CAST(t.w AS DOUBLE), b.tau), 6) AS w_hat
          FROM topk1 t CROSS JOIN bnd b
          WHERE NOT (t.q = b.tau AND t.doc_id = b.tau_doc)""",
    // smoothed-LM replay: identical 6-dp log-ratio grid, DECIMAL doc
    // sums, same (score desc, doc_id) total order
    "ta_importance_sample" ->
      s"""WITH tok AS (SELECT doc_id, lang, unnest($tokSql) AS w FROM documents),
          vocab AS MATERIALIZED (
            SELECT w, CAST(count(*) AS BIGINT) AS cnt_r,
                   CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_t
            FROM tok GROUP BY w),
          st AS (SELECT CAST(sum(cnt_r) AS DOUBLE) AS r_total,
                        CAST(sum(cnt_t) AS DOUBLE) AS t_total,
                        CAST(count(*) AS DOUBLE) AS v FROM vocab),
          terms AS (
            SELECT doc_id,
                   CAST(round(ln((CAST(cnt_t AS DOUBLE) + 1.0) / (t_total + v))
                            - ln((CAST(cnt_r AS DOUBLE) + 1.0) / (r_total + v)), 6)
                        AS DECIMAL(18,6)) AS t
            FROM tok JOIN vocab USING (w) CROSS JOIN st),
          sc AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                   round(CAST(sum(t) AS DOUBLE) / count(*), 6) AS mean_logratio
            FROM terms GROUP BY doc_id)
          SELECT doc_id, n_tokens, mean_logratio,
                 CAST(row_number() OVER (ORDER BY mean_logratio DESC, doc_id) AS INT) AS rank
          FROM sc ORDER BY mean_logratio DESC, doc_id LIMIT 100""",
    // the dedup_groups reachability replay, bucketed on canonical_id with
    // the ml_hash_split arithmetic — leakage-freedom is then by
    // construction: split is a function of the component label
    "ml_split_leakfree" ->
      s"""WITH lab AS (${graft.dedup.Dedup.oracles("dedup_groups")})
          SELECT doc_id, canonical_id,
                 CASE WHEN bucket < 80 THEN 'train'
                      WHEN bucket < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM (SELECT doc_id, canonical_id,
                  CAST('0x' || substring(md5(CAST(canonical_id AS VARCHAR)), 1, 8) AS BIGINT) % 100
                    AS bucket
                FROM lab)""",
    // quality via the shared qualityCteSql (pass flag kept instead of
    // filtered), exact-dup via the fingerprint window, contamination
    // spliced in as a nested-WITH subquery from the already-green
    // dedup_contamination oracle
    "pipeline_source_report" ->
      s"""WITH tk AS (SELECT doc_id, text, $tokSql AS toks FROM documents),
          qs AS (
            SELECT doc_id, score, pass
            FROM (${TextAnalysis.qualityCteSql("tk")})),
          ex AS (
            SELECT doc_id,
                   doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
            FROM documents),
          ct AS (${graft.dedup.Dedup.oracles("dedup_contamination")}),
          p8 AS (${graft.dedup.Dedup.passagesSql("tk")}),
          hot AS (SELECT passage FROM p8 GROUP BY passage HAVING count(*) >= 2),
          bp AS (
            SELECT p8.doc_id,
                   round(CAST(count(hot.passage) AS DOUBLE) / count(*), 6)
                     AS boiler_frac
            FROM p8 LEFT JOIN hot ON p8.passage = hot.passage
            GROUP BY p8.doc_id),
          pi AS (
            SELECT doc_id,
                   len(regexp_extract_all(text, '${Pii.EmailRe}'))
                 + len(regexp_extract_all(text, '${Pii.PhoneRe}'))
                 + len(regexp_extract_all(text, '${Pii.IpRe}')) > 0 AS has_pii
            FROM documents)
          SELECT d.source,
                 count(*) AS n_docs,
                 round(CAST(sum(CAST(q.score AS DECIMAL(12,6))) AS DOUBLE)
                       / count(*), 6) AS mean_score,
                 round(sum(CASE WHEN q.pass THEN 1 ELSE 0 END)::DOUBLE
                       / count(*), 6) AS pass_rate,
                 round(sum(CASE WHEN ex.is_dup THEN 1 ELSE 0 END)::DOUBLE
                       / count(*), 6) AS dup_rate,
                 count(ct.doc_id) AS n_train,
                 round(CAST(sum(CAST(ct.dirty_frac AS DECIMAL(12,6))) AS DOUBLE)
                       / nullif(count(ct.doc_id), 0), 6) AS mean_dirty_frac,
                 round(CAST(sum(CAST(bp.boiler_frac AS DECIMAL(12,6))) AS DOUBLE)
                       / nullif(count(bp.doc_id), 0), 6) AS mean_boiler_frac,
                 round(sum(CASE WHEN pi.has_pii THEN 1 ELSE 0 END)::DOUBLE
                       / count(*), 6) AS pii_rate
          FROM documents d
          JOIN qs q USING (doc_id)
          JOIN ex USING (doc_id)
          LEFT JOIN ct ON d.doc_id = ct.doc_id
          LEFT JOIN bp ON d.doc_id = bp.doc_id
          JOIN pi ON d.doc_id = pi.doc_id
          GROUP BY d.source""",
    "pipeline_curate" -> curateOracleSql,
    // the hoisted pipeline replay joined with the shared dedup_lines
    // replay — one copy of each (task 7 hygiene), composed exactly as
    // the Spark side composes the frames
    "pipeline_curate_lines" ->
      s"""SELECT base.*, ld.n_lines, ld.n_removed
          FROM ($curateOracleSql) base
          JOIN (${graft.dedup.Dedup.linesOracleSql}) ld USING (doc_id)
          WHERE CAST(ld.n_removed AS DOUBLE) / ld.n_lines < 0.5""",
    // the ×10 composition replay: the SHARED portable-LSH CTE chain
    // (inflation → shingles → 60-bit hashes → signatures → band keys →
    // candidates, emitted by the same builder as the dedup_minhash_big
    // oracle), verified pairs, recursive component reachability, and
    // every stage gate — folded to the one-row survivor summary
    "pipeline_curate_big" ->
      s"""WITH RECURSIVE ${graft.dedup.Dedup.portableBandCtes(10)},
          npairs AS (
            SELECT d1, d2 FROM (
              SELECT cand.d1, cand.d2,
                     len(list_intersect(h1.hl, h2.hl))::DOUBLE /
                     len(list_distinct(h1.hl || h2.hl)) AS j
              FROM cand JOIN hs h1 ON cand.d1 = h1.doc_id
                        JOIN hs h2 ON cand.d2 = h2.doc_id)
            WHERE j >= 0.5),
          edges AS (SELECT d1 AS a, d2 AS b FROM npairs
                    UNION ALL SELECT d2, d1 FROM npairs),
          ${graft.OracleSql.minLabelReach("inflated", "doc_id", "edges")},
          nc AS (
            SELECT doc_id FROM (
              SELECT v AS doc_id, min(r) AS canon FROM reach GROUP BY v)
            WHERE doc_id = canon),
          tk AS (SELECT doc_id, $tokSql AS toks FROM inflated),
          q AS (
            SELECT doc_id
            FROM (${TextAnalysis.qualityCteSql("tk")})
            WHERE pass),
          ec AS (
            SELECT doc_id FROM (
              SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS canon
              FROM inflated)
            WHERE doc_id = canon),
          $contaminationCtes,
          pii AS (
            SELECT doc_id FROM inflated
            WHERE len(regexp_extract_all(text, '${Pii.EmailRe}'))
                + len(regexp_extract_all(text, '${Pii.PhoneRe}'))
                + len(regexp_extract_all(text, '${Pii.IpRe}')) = 0)
          SELECT (SELECT CAST(count(*) AS BIGINT) FROM inflated) AS n_docs,
                 (SELECT CAST(count(*) AS BIGINT) FROM q) AS n_q_pass,
                 (SELECT CAST(count(*) AS BIGINT) FROM ec) AS n_exact_canon,
                 (SELECT CAST(count(*) AS BIGINT) FROM nc) AS n_near_canon,
                 (SELECT CAST(count(*) AS BIGINT) FROM ct) AS n_clean,
                 (SELECT CAST(count(*) AS BIGINT) FROM pii) AS n_pii_free,
                 (SELECT CAST(count(*) AS BIGINT)
                  FROM q JOIN ec USING (doc_id) JOIN nc USING (doc_id)
                         JOIN ct USING (doc_id) JOIN pii USING (doc_id))
                   AS n_survivors""",
    "ta_stratified_sample" ->
      """SELECT doc_id, lang, rk FROM (
           SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rk
           FROM documents)
         WHERE rk <= 50""",
    "ta_temperature_sample" ->
      """WITH c AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n_s,
                   CAST(round(sqrt(count(*)::DOUBLE), 6) AS DECIMAL(18,6)) AS s6
            FROM documents GROUP BY source),
          t AS (SELECT sum(s6) AS tot FROM c),
          q AS (SELECT source, n_s,
                       CAST(floor(200 * (CAST(s6 AS DOUBLE) / CAST(tot AS DOUBLE)))
                            AS BIGINT) AS k_s
                FROM c, t),
          r AS (SELECT doc_id, source,
                       row_number() OVER (PARTITION BY source
                                          ORDER BY md5(text), doc_id) AS rk
                FROM documents)
          SELECT r.doc_id, r.source, CAST(r.rk AS BIGINT) AS rank_in_source,
                 q.n_s, q.k_s
          FROM r JOIN q USING (source) WHERE r.rk <= q.k_s""",
    "ta_mixture_sample" ->
      """SELECT doc_id, source, bucket, rate_pct FROM (
           SELECT doc_id, source,
             CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || source), 1, 8)
                  AS BIGINT) % 100 AS bucket,
             CAST(100 - CAST(substring(source, 4) AS INT) * 4 AS BIGINT) AS rate_pct
           FROM documents)
         WHERE bucket < rate_pct""",
    "ta_chunk" ->
      s"""SELECT doc_id, i AS chunk_idx,
            array_to_string(toks[i*$ChunkStride+1 : i*$ChunkStride+$ChunkLen], ' ')
              AS chunk_text,
            len(toks[i*$ChunkStride+1 : i*$ChunkStride+$ChunkLen]) AS n_chunk_toks
          FROM (SELECT doc_id, toks,
                  unnest(generate_series(0, (len(toks) - 1) // $ChunkStride)) AS i
                FROM (SELECT doc_id, $tokSql AS toks FROM documents)
                WHERE len(toks) > 0)""",
    "ta_pack" -> packOracle,
    "ta_pack_manifest" ->
      s"""SELECT bucket, bin_id, count(*) AS n_docs,
            CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
            min(doc_id) AS first_doc, max(doc_id) AS last_doc
          FROM ($packOracle)
          GROUP BY bucket, bin_id""",
  )

  private lazy val packOracle: String =
    s"""WITH RECURSIVE seq AS (
            SELECT bucket, doc_id, n,
              row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
            FROM (SELECT
                    ${graft.OracleSql.md5Bucket("doc_id", PackBuckets)} AS bucket,
                    doc_id, len($tokSql) AS n
                  FROM documents)),
          packed(bucket, rn, doc_id, n, bin, fill) AS (
            SELECT bucket, rn, doc_id, n, CAST(0 AS BIGINT), n
            FROM seq WHERE rn = 1
            UNION ALL
            SELECT s.bucket, s.rn, s.doc_id, s.n,
              CASE WHEN p.fill > 0 AND p.fill + s.n > $PackCapacity
                   THEN p.bin + 1 ELSE p.bin END,
              CASE WHEN p.fill > 0 AND p.fill + s.n > $PackCapacity
                   THEN s.n ELSE p.fill + s.n END
            FROM packed p JOIN seq s ON s.bucket = p.bucket AND s.rn = p.rn + 1)
          SELECT doc_id, bucket, bin AS bin_id, n AS n_tokens FROM packed"""
}
