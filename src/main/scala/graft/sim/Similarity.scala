package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Embedding similarity search (driver-extension mandate) over the
  * `embeddings` table (`vec_id`, `embedding: array<float>`, `label`).
  *
  * Brute-force cosine top-k is the exactness baseline; the scale path is
  * random-hyperplane LSH: a 16-bit sign sketch per vector (deterministic
  * hash-derived planes — no runtime RNG), banded 4×4, candidates from
  * band-bucket equality, exact cosine re-rank on candidates only. At
  * 100 TB the brute-force n² join is replaced by the LSH bucket join; the
  * sketch is a per-row expression (no shuffle) and the re-rank join
  * touches only same-bucket pairs. An IVF variant would swap the bucket
  * key for a coarse-quantizer cell id — same join shape.
  *
  * All arithmetic is float→double cast then left-to-right sums, matching
  * the DuckDB oracle's list_sum order, so rounded values hash-match.
  */
object Similarity {

  /** dot(a, b) in double with sequential accumulation — a native
    * codegen'd expression ([[graft.functions.ArrayExprs.FloatDot]]);
    * arithmetic order identical to the DuckDB oracle's `list_sum`.
    */
  def dot(a: Column, b: Column): Column = graft.functions.ArrayExprs.floatDot(a, b)

  /** Cosine similarity rounded to 6 dp (the rounding makes Spark/DuckDB
    * agree bit-for-bit and makes top-k ties deterministic).
    */
  def cosine(a: Column, b: Column): Column =
    round(dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b))), 6)

  /** Cosine from a precomputed per-vector norm: on an all-pairs join the
    * norms are per-row (n) not per-pair (n²), so computing them in the
    * scan does 1 dot per pair instead of 3. sqrt(dot(v,v)) is the exact
    * same double either way, so results are unchanged.
    */
  private def cosinePre(a: Column, na: Column, b: Column, nb: Column): Column =
    round(dot(a, b) / (na * nb), 6)

  private def withNorm(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding"),
      sqrt(dot(col("embedding"), col("embedding"))).as("norm"))

  /** The two brute-force n² queries below are EXACTNESS BASELINES (the
    * LSH/IVF variants are the scale path). Their input is explicitly
    * bounded to `vec_id < MaxExactVectors` — a no-op at every current
    * fixture tier (≤ 2000 vectors) that keeps the registered bench from
    * growing quadratically if a larger tier ever appears. The bound is
    * part of the query contract and replayed by the oracles.
    */
  val MaxExactVectors = 4096

  private def exactInput(spark: SparkSession, dir: String): DataFrame =
    withNorm(Tables.embeddings(spark, dir).where(col("vec_id") < MaxExactVectors))

  /** All pairs with cosine ≥ minCos — brute force (exactness baseline and
    * the embedding-cosine near-dup detector).
    */
  def cosinePairs(spark: SparkSession, dir: String, minCos: Double = 0.45): DataFrame = {
    val e = exactInput(spark, dir)
    // The n² loop runs as a BroadcastNestedLoopJoin whose parallelism is
    // the STREAMED side's partition count — and the embeddings scan is
    // one small parquet file, so the whole |e|²/2 dot-product loop ran
    // in a single task (measured 2.3-2.9 s with 31 cores idle; guide
    // §2.6 idle-capacity). Spreading the streamed side across the
    // session width divides the loop's wall by the core count; row set
    // and per-pair arithmetic are unchanged.
    val streamed = e.toDF("v1", "e1", "n1")
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    streamed.join(e.toDF("v2", "e2", "n2"), col("v1") < col("v2"))
      .select(col("v1"), col("v2"),
        cosinePre(col("e1"), col("n1"), col("e2"), col("n2")).as("cos"))
      .where(col("cos") >= minCos)
  }

  /** Exact top-k cosine neighbors for the query set (vec_id < nQueries),
    * ranked (cos desc, vec_id) for determinism.
    */
  def topK(spark: SparkSession, dir: String, k: Int = 3, nQueries: Int = 10): DataFrame = {
    val e = exactInput(spark, dir)
    val q = e.filter(col("vec_id") < nQueries).toDF("query_id", "qe", "qn")
    topKBy(q.join(e.toDF("vec_id", "ce", "cn"), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        cosinePre(col("qe"), col("qn"), col("ce"), col("cn")).as("cos")), "cos", k)
  }

  /** The top-`k` rows per `query_id` of `scored`, ranked (`score` desc,
    * vec_id) into a `rank` column — the one rank window every top-k tail
    * ends in (the oracles' twin is [[topKSql]]).
    */
  private def topKBy(scored: DataFrame, score: String, k: Int): DataFrame =
    graft.functions.GroupTopK.rankedTopPer(scored, Seq("query_id"), score, "vec_id", k)

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    * the diversity pass a retrieval stack runs AFTER top-k — greedily
    * pick k results maximizing λ·rel(q,d) − (1−λ)·max_{s∈S} sim(d,s), so
    * near-duplicate hits don't crowd the result list. Shape: the
    * candidate pool is the bounded exact top-[[MmrCandidates]] probe
    * (the ANN tiers are its scale path), its [[MmrCandidates]]² pairwise
    * cosines are one tiny self-join, and each greedy step is an argmax
    * over ≤ pool-size rows — the per-step 1-row pick is a bounded driver
    * scalar (the iterative-loop one-scalar-per-round budget), never a
    * corpus-sized collect. All cosines on the 6-dp grid; the MMR score
    * is one fixed double expression; ties break on vec_id — the oracle
    * unrolls the k greedy steps verbatim.
    */
  val MmrLambda = 0.7
  val MmrCandidates = 20
  val MmrK = 5

  def mmr(spark: SparkSession, dir: String, queryId: Long = 3L): DataFrame = {
    import spark.implicits._
    val e = exactInput(spark, dir)
    val q = e.filter(col("vec_id") === queryId).toDF("qid", "qe", "qn")
    val cand = graft.Caches.register(
      e.toDF("vec_id", "ce", "cn").crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("qid"))
        .select(col("vec_id"), col("ce"), col("cn"),
          cosinePre(col("qe"), col("qn"), col("ce"), col("cn")).as("rel"))
        .orderBy(col("rel").desc, col("vec_id")).limit(MmrCandidates)
        .persist())
    val pair = graft.Caches.register(
      cand.select(col("vec_id").as("v1"), col("ce").as("e1"), col("cn").as("n1"))
        .join(cand.select(col("vec_id").as("v2"), col("ce").as("e2"), col("cn").as("n2")),
          col("v1") =!= col("v2"))
        .select(col("v1"), col("v2"),
          cosinePre(col("e1"), col("n1"), col("e2"), col("n2")).as("sim"))
        .persist())
    var selected = Vector.empty[(Long, Long, Double, Double)] // (rank, id, rel, mmr)
    // candidate pool can be SMALLER than MmrK (tiny corpus, or an absent
    // queryId leaves it empty): stop when a step finds nothing instead of
    // head()-throwing on an empty 1-row pick — the result is simply all
    // poolSize candidates ranked, the same rows the oracle's unrolled
    // greedy steps produce
    var exhausted = false
    for (t <- 1 to MmrK if !exhausted) {
      val chosen = selected.map(_._2)
      val maxSim =
        if (chosen.isEmpty) cand.select(col("vec_id").as("v1"), lit(0.0).as("ms"))
        else pair.where(col("v2").isin(chosen: _*))
          .groupBy(col("v1")).agg(max(col("sim")).as("ms"))
      val pick = cand.where(!col("vec_id").isin(chosen: _*))
        .join(maxSim, col("vec_id") === col("v1"), "left_outer")
        .select(col("vec_id"), col("rel"),
          round(lit(MmrLambda) * col("rel") -
            lit(1 - MmrLambda) * coalesce(col("ms"), lit(0.0)), 6).as("mmr"))
        .orderBy(col("mmr").desc, col("vec_id")).limit(1)
        .collect().headOption
      pick match {
        case Some(r) =>
          selected :+= ((t.toLong, r.getLong(0), r.getDouble(1), r.getDouble(2)))
        case None => exhausted = true
      }
    }
    selected.toDF("rank", "vec_id", "rel", "mmr")
  }

  /** The exact top-k reference ranking, memoized (r14): recall_at_k and
    * every row of the recall table join against the SAME exact ranking,
    * and each union branch re-planned and re-ran the n·q brute-force
    * scan + window per rep (6 copies across the two queries). One
    * ledgered build serves them all — the ANN sides already ride their
    * index memos.
    */
  private def exactTopK(spark: SparkSession, dir: String,
                        k: Int, nQueries: Int): DataFrame =
    graft.Caches.memoized(spark, dir, s"sim:exact_topk_${k}_$nQueries")(
      topK(spark, dir, k, nQueries).select(col("query_id"), col("vec_id")))

  /** Measured ANN quality AS DATA: per-query recall@k of the LSH
    * ranking against the exact top-k — the number an ANN deployment
    * tracks per index build. Both rankings are already deterministic
    * exact replays, so recall itself rides the hash gate (the spec-side
    * recall assertions bound it; this row PINS it).
    */
  def recallAtK(spark: SparkSession, dir: String,
                k: Int = 3, nQueries: Int = 10): DataFrame = {
    val ex = exactTopK(spark, dir, k, nQueries)
    val ap = topKLsh(spark, dir, k, nQueries)
      .select(col("query_id").as("qa"), col("vec_id").as("va"), lit(1L).as("hit"))
    ex.join(ap, col("query_id") === col("qa") && col("vec_id") === col("va"),
        "left_outer")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("k_total"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("query_id"), col("k_total"), col("n_hit"),
        round(col("n_hit").cast("double") / col("k_total").cast("double"), 6)
          .as("recall"))
  }

  /** Per-index-type mean recall@k — [[recallAtK]] widened into the
    * quality dashboard a deployment tracks per index BUILD: one row per
    * ANN variant (LSH, multiprobe LSH, IVF, IVF-PQ, SQ8), each the exact
    * top-k hit rate of that index's ranking. Every ranking is a
    * deterministic replay, so the whole table rides the hash gate: an
    * index regression (a changed plane family, a broken codebook) shows
    * up as a recall VALUE change the gate catches, not as a spec
    * assertion someone has to re-run. Mean recall = Σ hits / (nQ·k),
    * computed identically in both engines.
    */
  def recallTable(spark: SparkSession, dir: String,
                  k: Int = 3, nQueries: Int = 10): DataFrame = {
    val ex = exactTopK(spark, dir, k, nQueries)
    val variants: Seq[(String, DataFrame)] = Seq(
      "ivf"            -> topKIvf(spark, dir, k, nQueries),
      "ivfpq"          -> topKIvfPq(spark, dir, k, nQueries),
      "lsh"            -> topKLsh(spark, dir, k, nQueries),
      "lsh_multiprobe" -> topKLshMultiprobe(spark, dir, k, nQueries),
      "sq8"            -> topKSq(spark, dir, k, nQueries))
    variants.map { case (name, ap) =>
      ex.join(ap.select(col("query_id").as("qa"), col("vec_id").as("va")),
          col("query_id") === col("qa") && col("vec_id") === col("va"), "left_outer")
        .agg(count(lit(1)).as("k_total"),
          sum(when(col("va").isNotNull, 1L).otherwise(0L)).as("n_hit"))
        .select(lit(name).as("index_type"), col("k_total"), col("n_hit"),
          round(col("n_hit").cast("double") / col("k_total").cast("double"), 6)
            .as("mean_recall"))
    }.reduce(_ unionByName _)
  }

  private val SketchBits = 16
  private val SketchBands = 4
  private val SketchRows = 4

  /** Sign sketch: bit j = sign(Σ_d w(j,d)·v_d) with w(j,d) = ±1 derived
    * from md5 of "j:d" — deterministic pseudo-random hyperplanes from a
    * hash EVERY engine has, computed natively in one pass
    * ([[graft.functions.ArrayExprs.SignSketchMd5]]), so the oracle can
    * regenerate the planes.
    */
  def signSketch(v: Column): Column =
    graft.functions.ArrayExprs.signSketchMd5(v, SketchBits)

  /** Banded sign sketches for every vector, persisted once per
    * (session, dir): band key = the band's 4 bits as an integer
    * (b0 + 2b1 + 4b2 + 8b3), 16 buckets per band, no hashing — the
    * oracles rebuild it with [[lshBandsSql]]. Shared by [[topKLsh]]
    * (ANN search) and [[embeddingDedupGroups]] (near-dup detection):
    * one sketch pass serves both, the build-once/query-many split again.
    */
  private def bandedSketches(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.memoized(spark, dir, "sim:lsh_bands")(
      bandRows(Tables.embeddings(spark, dir)))

  /** Sketch → 4-bit band keys over an arbitrary (vec_id, embedding)
    * frame — the ONE banding block of the fixture memo and the ×10 tier
    * (a band-key change must reach both tiers at once), replayed by the
    * one [[lshBandsSql]].
    */
  private def bandRows(vectors: DataFrame): DataFrame =
    vectors
      .select(col("vec_id"), col("embedding"), signSketch(col("embedding")).as("sk"))
      .select(col("vec_id"), col("embedding"),
        explode(transform(sequence(lit(0), lit(SketchBands - 1)),
          b => struct(b.as("band"),
            (0 until SketchRows).map(i =>
              element_at(col("sk"), b * SketchRows + lit(i + 1)) * lit(1 << i))
              .reduce(_ + _).as("key"))))
          .as("bk"))
      .select(col("vec_id"), col("embedding"),
        col("bk.band").as("band"), col("bk.key").as("key"))

  /** LSH-bucketed approximate top-k: candidates share a sketch band with
    * the query; exact cosine re-rank on candidates. Approximate relative
    * to exact top-k, but DETERMINISTIC given the md5 plane family — the
    * SQL oracle replays sketching, banding, and re-rank end to end;
    * recall vs [[topK]] is additionally asserted in spec.
    */
  def topKLsh(spark: SparkSession, dir: String, k: Int = 3, nQueries: Int = 10): DataFrame =
    topKLshOn(bandedSketches(spark, dir), k, nQueries)

  /** [[topKLsh]] served from the PERSISTED band table (the second index
    * family behind the artifact lifecycle next to [[persistedIvfPqIndex]]):
    * the banded-sketch relation — vectors + their (band, key) rows, the
    * whole LSH index — round-trips through a Parquet artifact and the
    * probe runs off the reloaded scan; identical numbers, same oracle.
    */
  def topKLshPersisted(spark: SparkSession, dir: String,
                       k: Int = 3, nQueries: Int = 10): DataFrame =
    topKLshOn(indexArtifact(spark, dir, "lsh_bands")(bandedSketches(spark, dir)),
      k, nQueries)

  /** INCREMENTAL index update — the lifecycle op a daily ANN ingest
    * runs: the historical corpus's band table is a persisted artifact
    * (vec_id % 5 ≠ 0, "yesterday's index"), today's batch (vec_id % 5
    * = 0) bands fresh, and serving probes the UNION. Banding is
    * per-row — the index has no global state — so incremental ≡
    * monolithic rebuild EXACTLY, which the gate proves by hashing
    * against the same full-corpus oracle as sim_topk_lsh; per-batch
    * ingest cost is O(batch), never O(corpus) — what makes a daily
    * ingest affordable at 100 TB (contrast IVF/PQ, whose TRAINED
    * quantizers drift and need periodic retrains — the train-on-sample
    * split sim_topk_ivfpq_big already models).
    */
  def topKLshIncremental(spark: SparkSession, dir: String,
                         k: Int = 3, nQueries: Int = 10): DataFrame = {
    val hist = indexArtifact(spark, dir, "lsh_bands_hist")(
      bandedSketches(spark, dir).filter(pmod(col("vec_id"), lit(5)) =!= 0))
    val batch = bandedSketches(spark, dir).filter(pmod(col("vec_id"), lit(5)) === 0)
    topKLshOn(hist.unionByName(batch), k, nQueries)
  }

  /** The LSH probe over an arbitrary banded-sketch table — shared by the
    * fixture tier ([[topKLsh]]) and the ×replicas measurement tier
    * ([[topKLshBig]]).
    */
  private def topKLshOn(bands: DataFrame, k: Int, nQueries: Int): DataFrame = {
    // candidates dedupe on the ID PAIR only (the embeddingDedupGroups
    // lean shape — embeddings never ride the distinct exchange), then
    // vectors come back by key WITH precomputed norms so the re-rank
    // costs 1 dot per pair instead of 3 (cosinePre is bit-identical to
    // cosine — sqrt(dot(v,v)) is the same double per row or per pair)
    val probes = bands.select(col("vec_id").as("query_id"), col("band"), col("key"))
      .where(col("query_id") < nQueries)
    lshRerank(fetchBack(bandCandidates(probes, bands), bands), k)
  }

  /** Distinct (query_id, vec_id) pairs whose (band, key) match: the
    * query-side `probes` (query_id, band, key) joined to the corpus
    * `bands` — the one band-bucket candidate join of the LSH probes.
    */
  private def bandCandidates(probes: DataFrame, bands: DataFrame): DataFrame =
    probes
      .join(bands.select(col("vec_id"), col("band").as("band2"), col("key").as("key2")),
        col("band") === col("band2") && col("key") === col("key2") &&
          col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct()

  /** Join the deduped (query_id, vec_id) candidates back to their
    * vectors + norms — the fetch-back half of the lean probe shape.
    */
  private def fetchBack(idPairs: DataFrame, bands: DataFrame): DataFrame = {
    val vecs = withNorm(
      bands.select(col("vec_id"), col("embedding")).dropDuplicates("vec_id"))
    idPairs
      .join(vecs.toDF("query_id", "qe", "qn"), "query_id")
      .join(vecs.toDF("vec_id", "ce", "cn"), "vec_id")
  }

  private def lshRerank(cand: DataFrame, k: Int): DataFrame =
    topKBy(cand.select(col("query_id"), col("vec_id"),
      cosinePre(col("qe"), col("qn"), col("ce"), col("cn")).as("cos")), "cos", k)

  /** MULTI-PROBE LSH (Lv et al., VLDB 2007): each query band probes its
    * own bucket AND the 4 Hamming-1 neighbor buckets (key ⊕ 2^i) —
    * near-neighbors that landed one sign-bit away, the dominant LSH
    * miss mode, become candidates WITHOUT more bands or tables. Probe
    * cost: ×5 candidate-join fan-out on the query side only (queries ≪
    * corpus — the corpus-side index is untouched, which is the entire
    * point of the technique vs adding tables at 100 TB). Candidate set
    * is a strict superset of [[topKLsh]]'s, so recall vs exact can only
    * rise; deterministic (same md5 plane family), full oracle.
    */
  def topKLshMultiprobe(spark: SparkSession, dir: String,
                        k: Int = 3, nQueries: Int = 10): DataFrame = {
    val bands = bandedSketches(spark, dir)
    val probes = bands.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("band"),
        explode(array((Seq(0) ++ (0 until SketchRows).map(1 << _)).map(m =>
          col("key").bitwiseXOR(lit(m))): _*)).as("key"))
    lshRerank(fetchBack(bandCandidates(probes, bands), bands), k)
  }

  private val BigReplicas = 10
  private val BigIdStride = 1000000L

  /** ×[[BigReplicas]] inflated embedding corpus for the similarity
    * measurement tier (the skewCorpus/×10-tier arithmetic-inflation
    * contract: derived by REPLAYABLE arithmetic so the oracle regenerates
    * it): replica `r` of vector `v` gets id `v + r·stride` and its
    * embedding CIRCULARLY SHIFTED by `r` positions — a deterministic
    * transform that preserves the norm and the component distribution
    * but decorrelates the sign sketch, so replicas spread over buckets
    * like real data instead of piling into their source's bucket.
    */
  private def inflatedEmbeddings(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(BigReplicas - 1))).as("r"))
      .select((col("vec_id") + col("r").cast("long") * lit(BigIdStride)).as("vec_id"),
        concat(
          slice(col("embedding"), col("r") + lit(1), size(col("embedding")) - col("r")),
          slice(col("embedding"), lit(1), col("r"))).as("embedding"))

  /** Measurement tier for ANN search (the graph/dedup/streaming tier
    * pattern): the same sketch → band → bucket-join → exact re-rank
    * machinery over a ×10 corpus (~20k vectors at sf0.1), with ~×10
    * band-bucket populations — what the probe actually costs when
    * buckets are full. Hash-gated: the inflation is arithmetic, so the
    * oracle regenerates corpus, planes, sketches, and re-rank end to
    * end.
    */
  def topKLshBig(spark: SparkSession, dir: String, k: Int = 3, nQueries: Int = 10): DataFrame = {
    val bands = graft.Caches.memoized(spark, dir, "sim:lsh_bands_big")(
      bandRows(inflatedEmbeddings(spark, dir)))
    topKLshOn(bands, k, nQueries)
  }

  /** Embedding-cosine near-dup GROUPS — the fifth dedup detector of the
    * pipeline mandate, at its 100 TB shape: candidates come from the LSH
    * band-bucket equi-join (never the n² cross join — [[cosinePairs]] is
    * the bounded exactness baseline for this), the exact cosine runs on
    * candidates only, and duplicate groups resolve through the shared
    * [[graft.graph.Components]] large-star/small-star module (the
    * dedup_groups pattern: O(log n) rounds of equi-joins, one
    * convergence scalar per round).
    *
    * LSH-approximate BY DESIGN relative to all-pairs (a near-dup pair
    * sharing no band is missed — recall asserted against the exact
    * baseline in spec) but fully deterministic given the md5 plane
    * family, so the DuckDB oracle replays sketch → band → candidates →
    * cosine → recursive min-label reachability end to end.
    */
  def embeddingDedupGroups(spark: SparkSession, dir: String,
                           minCos: Double = 0.45): DataFrame = {
    val bands = bandedSketches(spark, dir)
    // dedupe candidates on the ID PAIR only (embeddings don't ride the
    // distinct exchange), then fetch vectors back by key for the exact
    // cosine — the lean shape when vectors are wide
    val cand = bands.select(col("vec_id").as("v1"), col("band"), col("key"))
      .join(bands.select(col("vec_id").as("v2"),
        col("band").as("band2"), col("key").as("key2")),
        col("band") === col("band2") && col("key") === col("key2") &&
          col("v1") < col("v2"))
      .select(col("v1"), col("v2"))
      .distinct()
    val e = withNorm(Tables.embeddings(spark, dir))
    cosineGroups(spark, dir, s"sim:emb_groups_$minCos", cand
      .join(e.toDF("v1", "e1", "n1"), "v1")
      .join(e.toDF("v2", "e2", "n2"), "v2"), minCos)
  }

  /** Duplicate groups (vec_id, canonical_id) of the candidate pairs
    * `cand` (v1, e1, n1, v2, e2, n2) whose exact cosine reaches
    * `minCos` — the scoring and labelling tail of both embedding dedups.
    */
  private def cosineGroups(spark: SparkSession, dir: String, memoKey: String,
                           cand: DataFrame, minCos: Double): DataFrame = {
    val pairs = cand
      .select(col("v1"), col("v2"),
        cosinePre(col("e1"), col("n1"), col("e2"), col("n2")).as("cos"))
      .where(col("cos") >= minCos)
      .select(col("v1"), col("v2"))
    // label table memoized like the text twin's dedup:groups_0.5 (r14):
    // the large-star/small-star loop is an ITERATIVE build (actions per
    // round) and unmemoized it re-converged per bench rep (~1.7 s/rep)
    // for a label table that is corpus prep by the same argument as
    // dupGroups'. Cost lands on `build:<memoKey>`.
    graft.Caches.memoized(spark, dir, memoKey)(
      graft.graph.Components.labels(
        Tables.embeddings(spark, dir).select(col("vec_id")), pairs,
        // tiny pair graph (see dedup.Dedup.dupGroupsUncached)
        partitions = Some(8)))
      .select(col("vec_id"), col("label").as("canonical_id"))
  }

  /** Symmetric int8 scalar quantization (the SQ8 compression path every
    * large ANN deployment runs — FAISS SQ8 / ScaNN int8 kernels): each
    * vector is L2-normalized and every component mapped to
    * `round(127 · v_i / ‖v‖) ∈ [-127, 127]`. The codes are 4× smaller
    * than float32 (the difference between an in-memory index and one
    * that spills at 100 TB), and — the portability win — all downstream
    * SCORING is integer arithmetic: the quantized dot product is an
    * exact `Σ q_a·q_b` with no accumulation-order sensitivity at all,
    * so the oracle replays it with zero fp-protocol machinery. The only
    * fp step is quantization itself (double divide + one round per
    * component, bit-identical across engines on the same input).
    *
    * Memoized per (session, dir): the code table is corpus prep — built
    * once at ingest, consumed by every quantized search.
    */
  private def sq8Codes(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.memoized(spark, dir, "sim:sq8_codes") {
      val e = withNorm(Tables.embeddings(spark, dir))
      e.select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") / col("norm") * lit(127.0)).cast("int")).as("q"))
    }

  /** Exact integer dot over two int8 code arrays — builtin `zip_with` +
    * `aggregate`, fully codegen'd; widened to long before summing (64
    * dims × 127² ≈ 1 M per element fits int, but the contract shouldn't
    * depend on dimensionality).
    */
  private def sqDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x * y).cast("long")), lit(0L), (acc, x) => acc + x)

  /** Approximate top-k over QUANTIZED codes: candidates from the shared
    * LSH band join (ids only ride the distinct — the lean shape), scored
    * by the integer dot of int8 codes, ranked (score desc, vec_id).
    * `qcos` rescales the integer score by 1/127² onto the cosine scale
    * (both inputs are unit vectors before quantization, so qa·qb/127² ≈
    * cos; the quantization error bound is asserted against the exact
    * baseline in spec). 100 TB shape: band equi-join candidates × an
    * int8 code table 4× smaller than the vectors — the re-rank never
    * touches a float array. Deterministic end to end (md5 plane family +
    * integer scoring), so the oracle replays sketch → band
    * ([[lshBandsSql]]) → candidates ([[bandJoinSql]]) → quantize →
    * integer re-rank ([[topKSql]]).
    */
  def topKSq(spark: SparkSession, dir: String, k: Int = 3, nQueries: Int = 10): DataFrame = {
    val bands = bandedSketches(spark, dir).select(col("vec_id"), col("band"), col("key"))
    val cand = bandCandidates(
      bands.toDF("query_id", "band", "key").where(col("query_id") < nQueries), bands)
    val codes = sq8Codes(spark, dir)
    topKBy(cand
      .join(codes.toDF("query_id", "qq"), "query_id")
      .join(codes.toDF("vec_id", "cq"), "vec_id")
      .select(col("query_id"), col("vec_id"), sqDot(col("qq"), col("cq")).as("score_q8")),
        "score_q8", k)
      .select(col("query_id"), col("vec_id"), col("score_q8"),
        round(col("score_q8").cast("double") / lit(16129.0), 6).as("qcos"), col("rank"))
  }

  private val PqM = 4     // subspaces
  private val PqSub = 16  // dims per subspace (fixture width 64 / PqM)
  private val PqK = 16    // cells per sub-quantizer
  private[sim] val PqIters = 3

  /** Product-quantization codebooks (Jégou et al. 2011): the embedding
    * split into [[PqM]] orthogonal subspaces, one [[PqK]]-cell k-means
    * sub-quantizer TRAINED per subspace ([[KMeans.trainOn]] over the
    * slice — the same Lloyd's protocol as the IVF coarse quantizer, so
    * the oracle replays each chain). One small M×K driver-side table
    * (cell centroid + its squared norm), memoized and broadcast to
    * every consumer.
    */
  private def pqCodebooks(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.memoized(spark, dir, "sim:pq_codebooks") {
      import spark.implicits._
      val ds = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      // all four sub-quantizers in one cached loop (see
      // KMeans.trainOnSlices — bit-equal per subspace to the previous
      // per-m trainOn calls, a quarter of the jobs)
      val rows = KMeans.trainOnSlices(ds, PqM, PqSub, PqK, PqIters)
        .zipWithIndex.flatMap { case ((cents, _), m) =>
          cents.zipWithIndex.map { case (c, cell) =>
            // sequential left-to-right square-sum ≡ DuckDB list_sum
            (m, cell, c, c.map(x => x * x).sum)
          }
        }
      rows.toDF("m", "cell", "ce", "cn2")
    }

  /** PQ codes: per vector, per subspace, the argmax-cosine cell against
    * the broadcast codebook (round6 grid, ties to the lowest cell — the
    * k-means assignment protocol). M small ints per vector — a 16×
    * compression of the fixture vectors (4 codes vs 64 floats); at
    * 100 TB this code table IS the index resident in memory. Memoized:
    * encoding is ingest-time corpus prep.
    */
  private def pqCodes(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.memoized(spark, dir, "sim:pq_codes") {
      pqEncode(
        Tables.embeddings(spark, dir)
          .where(col("vec_id") < MaxExactVectors)
          .select(col("vec_id"), col("embedding")),
        pqCodebooks(spark, dir))
    }

  /** Encode a (vec_id, embedding) corpus against a broadcast codebook:
    * per vector × subspace, the argmax-cosine cell (round6 grid, ties to
    * the lowest cell — the k-means assignment protocol). Shared by the
    * fixture-tier [[pqCodes]] and the ×10 [[pqCodesBig]] — the SAME
    * trained codebook encodes both, the train-on-sample/encode-everything
    * split production PQ runs.
    */
  private def pqEncode(e: DataFrame, cb: DataFrame): DataFrame =
    e.join(broadcast(cb))
      .select(col("vec_id"), col("m"), col("cell"),
        round(graft.functions.ArrayExprs.floatDoubleDot(
            slice(col("embedding"), col("m") * lit(PqSub) + lit(1), lit(PqSub)),
            col("ce")) /
          (sqrt(dot(
            slice(col("embedding"), col("m") * lit(PqSub) + lit(1), lit(PqSub)),
            slice(col("embedding"), col("m") * lit(PqSub) + lit(1), lit(PqSub)))) *
           sqrt(col("cn2"))), 6).as("ccos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("vec_id"), col("m"))
          .orderBy(col("ccos").desc, col("cell"))))
      .where(col("rk") === 1)
      .select(col("vec_id"), col("m"), col("cell").as("code"))

  /** PQ codes for the ×[[BigReplicas]] inflated corpus, encoded with the
    * BASE-corpus-trained codebook — no [[MaxExactVectors]] cap: unlike
    * the exhaustive-ADC [[topKPq]] baseline, the IVF-PQ consumer prunes
    * candidates by cell, so encoding the whole corpus is exactly the
    * 100 TB shape (codes are M small ints per vector; the encode is a
    * broadcast argmax, no shuffle of the vector table).
    */
  private def pqCodesBig(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.memoized(spark, dir, "sim:pq_codes_big") {
      pqEncode(inflatedEmbeddings(spark, dir), pqCodebooks(spark, dir))
    }

  /** PQ approximate top-k via ASYMMETRIC distance computation, expressed
    * relationally: the famous ADC lookup table — per (query, subspace,
    * cell) the dot of the query's subvector against that cell's centroid
    * — is one small BROADCAST frame (nQueries × M × K rows), and scoring
    * is a keyed equi-join of the code table against it plus one grouped
    * sum. No vector is touched at query time — the 100 TB shape (at
    * scale this composes with IVF cells as IVF-PQ; the code table here
    * is the compressed exhaustive scan, bounded like [[topK]]).
    *
    * `pqcos` = Σ_m dot(q_m, cent[code_m]) / (‖q‖·‖v̂‖) = cos(q, v̂) of
    * the RECONSTRUCTED vector, since subspaces are orthogonal
    * (‖v̂‖² = Σ_m ‖cent[code_m]‖², exact from the codebook). fp
    * protocol: per-subspace terms on the round-9 grid summed as exact
    * DECIMAL (order-free), one double divide at the end on the round-6
    * grid — the centroidCos technique, so the oracle replays scores
    * bit-for-bit.
    */
  def topKPq(spark: SparkSession, dir: String, k: Int = 3, nQueries: Int = 10): DataFrame = {
    val q = Tables.embeddings(spark, dir).where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        sqrt(dot(col("embedding"), col("embedding"))).as("qn"))
    adcTopK(pqCodes(spark, dir), q, pqCodebooks(spark, dir),
      col("lq") =!= col("vec_id"), k)
  }

  /** ADC scoring and ranking of PQ-coded `rows` (vec_id, m, code, …):
    * the lookup table — per (query, subspace, cell) the round-9 dot of
    * the query's subvector with the cell centroid, plus the cell's
    * squared norm — broadcast and equi-joined on (m, code) and `onQuery`
    * (a predicate over the table's query column `lq`), summed per
    * (query, vec) as exact DECIMAL, one double divide onto the 6-dp
    * grid. Shared by the exhaustive [[topKPq]] and the cell-pruned
    * [[ivfPqRank]].
    */
  private def adcTopK(rows: DataFrame, queries: DataFrame, cb: DataFrame,
                      onQuery: Column, k: Int): DataFrame = {
    // lut columns renamed so the join condition names distinct
    // attributes outright (a candidate table's query_id descends from the
    // same scan, and leaning on Spark's self-join disambiguation draws a
    // trivially-true-predicate warning even when it resolves right)
    val lut = queries.join(broadcast(cb))
      .select(col("query_id").as("lq"), col("qn"), col("m").as("lm"),
        col("cell").as("lcode"),
        round(graft.functions.ArrayExprs.floatDoubleDot(
            slice(col("qe"), col("m") * lit(PqSub) + lit(1), lit(PqSub)), col("ce")), 9)
          .cast("decimal(18,9)").as("term"),
        round(col("cn2"), 9).cast("decimal(18,9)").as("vterm"))
    topKBy(rows
      .join(broadcast(lut),
        onQuery && col("m") === col("lm") && col("code") === col("lcode"))
      .groupBy(col("lq").as("query_id"), col("vec_id"), col("qn"))
      .agg(sum(col("term")).cast("double").as("s"),
        sum(col("vterm")).cast("double").as("vn2"))
      .select(col("query_id"), col("vec_id"),
        round(col("s") / (col("qn") * sqrt(col("vn2"))), 6).as("pqcos")), "pqcos", k)
  }

  private val IvfCells = 16
  private val IvfProbes = 4
  private[sim] val IvfIters = 5

  /** Trained IVF coarse-quantizer centroids: the [[KMeans]] Lloyd's loop
    * (k = IvfCells, IvfIters iterations — the offline training step the
    * IVF index presumes, wired in rather than seeded from "first 16
    * vectors"). Memoized per (session, dir): training runs once per
    * registry run, and the resulting K×dim table broadcasts to every
    * consumer. Centroid coordinates sit on the round6 decimal grid and
    * the norm is the sequential left-to-right square-sum (driver fold ≡
    * DuckDB list_sum), so the chained-CTE oracle replays assignment from
    * the identical centroid table.
    */
  private def ivfCentroids(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.memoized(spark, dir, "sim:ivf_centroids") {
      import spark.implicits._
      val (cents, _) = KMeans.train(spark, dir, k = IvfCells, iterations = IvfIters)
      cents.zipWithIndex.toSeq.map { case (c, cell) =>
        (cell, c, math.sqrt(c.map(x => x * x).sum))
      }.toDF("cell", "ce", "cn")
    }

  /** Cosine of a float vector (with precomputed norm) against a trained
    * double-grid centroid — [[graft.functions.ArrayExprs.FloatDoubleDot]]
    * keeps the centroid on its decimal grid (narrowing to float would
    * leave it and break the oracle).
    */
  private def centCos(v: Column, nv: Column, ce: Column, cn: Column): Column =
    round(graft.functions.ArrayExprs.floatDoubleDot(v, ce) / (nv * cn), 6)

  /** Assignment = argmax cosine against the broadcast trained centroid
    * set: a narrow n×K map, no shuffle of the vector table. Memoized per
    * (session, dir) alongside the centroids: the assignment IS the IVF
    * index (the per-cell inverted lists) — built once at ingest,
    * consumed by every probe ([[topKIvf]], [[topKFiltered]]) and by the
    * [[semanticDedupGroups]] cluster-bucketed dedup.
    */
  private def ivfAssign(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val cents = ivfCentroids(spark, dir)
    val assigned = graft.Caches.memoized(spark, dir, "sim:ivf_assigned") {
      // label rides along from the scan (zero extra cost, no self-join
      // later) — [[topKFiltered]] keys its candidate restriction on it
      assignCells(Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"), col("label")), cents)
    }
    (assigned, cents)
  }

  /** Per vector of `vectors` (vec_id, embedding, carried columns…) its
    * norm and its cell — the argmax cosine against the broadcast trained
    * centroids (round6 grid, ties to the lowest cell): (vec_id,
    * embedding, norm, carried…, cell). The one assignment of
    * [[ivfAssign]] and [[ivfAssignBig]].
    */
  private def assignCells(vectors: DataFrame, cents: DataFrame): DataFrame = {
    val carried = vectors.columns.filterNot(Set("vec_id", "embedding")).map(col).toSeq
    val e = vectors.select(Seq(col("vec_id"), col("embedding"),
      sqrt(dot(col("embedding"), col("embedding"))).as("norm")) ++ carried: _*)
    e.join(broadcast(cents))
      .select(e.columns.map(col).toSeq ++ Seq(col("cell"),
        centCos(col("embedding"), col("norm"), col("ce"), col("cn")).as("ccos")): _*)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cell"))))
      .where(col("rk") === 1)
      .select(e.columns.map(col).toSeq :+ col("cell"): _*)
  }

  /** The [[IvfProbes]] cells nearest each of `queries` (query_id, qe,
    * qn, carried columns…) by centroid cosine (ties to the lowest cell):
    * the query columns plus `cell` — the one probe of [[ivfTopK]] and
    * [[ivfPqRank]].
    */
  private def probeCells(queries: DataFrame, cents: DataFrame): DataFrame =
    queries.join(broadcast(cents))
      .select(queries.columns.map(col).toSeq ++ Seq(col("cell"),
        centCos(col("qe"), col("qn"), col("ce"), col("cn")).as("ccos")): _*)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("ccos").desc, col("cell"))))
      .where(col("rk") <= IvfProbes)
      .select(queries.columns.map(col).toSeq :+ col("cell"): _*)

  /** IVF approximate top-k: probe the query's `IvfProbes` nearest cells,
    * exact cosine re-rank on their members only. The candidate join is an
    * equi-join on the cell id — the 100 TB path: cell population ≈ n/K per
    * bucket instead of the n² cross join. Approximate relative to exact
    * top-k but deterministic given the trained centroids, so the oracle
    * replays training + assignment + probe + re-rank end to end; recall
    * vs exact topK additionally asserted in SimilaritySpec.
    */
  def topKIvf(spark: SparkSession, dir: String, k: Int = 3, nQueries: Int = 10): DataFrame =
    ivfTopK(spark, dir, k, nQueries, sameLabel = false)

  /** Metadata-FILTERED approximate top-k — the "filtered vector search"
    * shape (within-language / within-domain retrieval): candidates are
    * restricted to the query's own label BEFORE the re-rank, as a
    * pre-filter predicate on the cell equi-join: a post-filter of the
    * unfiltered top-k keeps only neighbors that happened to rank in the
    * global top-k, while the pre-filter ranks among ALL same-label
    * candidates in the probed cells — full k whenever the label has k
    * members there (asserted on the fixture in spec; a rarer label can
    * still return fewer, the inherent filtered-ANN trade). Same
    * determinism + chained-CTE oracle contract as [[topKIvf]].
    */
  def topKFiltered(spark: SparkSession, dir: String, k: Int = 3, nQueries: Int = 10): DataFrame =
    ivfTopK(spark, dir, k, nQueries, sameLabel = true)

  private def ivfTopK(spark: SparkSession, dir: String, k: Int, nQueries: Int,
                      sameLabel: Boolean): DataFrame = {
    val (assigned, cents) = ivfAssign(spark, dir)
    val queries = assigned.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("norm").as("qn"), col("label").as("ql"))
    val base = probeCells(queries, cents)
      .join(assigned.toDF("vec_id", "ce", "cn", "ml", "cell"), Seq("cell"))
      .where(col("query_id") =!= col("vec_id"))
    val cand = if (sameLabel) base.where(col("ql") === col("ml")) else base
    topKBy(cand
      .select(col("query_id"), col("vec_id"),
        cosinePre(col("qe"), col("qn"), col("ce"), col("cn")).as("cos"))
      .distinct(), "cos", k)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023: cluster the
    * embedding space, then dedup WITHIN clusters): candidate pairs are
    * restricted to vectors assigned to the same TRAINED IVF cell
    * (k-means coarse quantizer, the [[ivfCentroids]] memo — candidates
    * per cell ≈ (n/K)², never corpus n²), exact cosine ≥ `minCos` on
    * those, duplicate groups via the shared large-star/small-star
    * component module. The cluster-bucketed complement of
    * [[embeddingDedupGroups]]'s LSH banding: clustering catches
    * near-dups that straddle band boundaries, banding catches pairs
    * split across cell boundaries — production pipelines run one or
    * both; here both are first-class, each with a full replay oracle
    * (train → assign → same-cell pairs → recursive min-label
    * reachability). At 100 TB the assignment is a broadcast argmax
    * (no shuffle of the vector table) and the pair join is an equi-join
    * on the cell id with per-cell population bounded by the quantizer's
    * balance — skewed cells would be split by raising K, the standard
    * IVF sizing lever.
    */
  def semanticDedupGroups(spark: SparkSession, dir: String,
                          minCos: Double = 0.45): DataFrame = {
    val (assigned, _) = ivfAssign(spark, dir)
    val m = assigned.select(col("cell"), col("vec_id"), col("embedding"), col("norm"))
    cosineGroups(spark, dir, s"sim:sem_groups_$minCos", m.toDF("cell", "v1", "e1", "n1")
      .join(m.toDF("cell", "v2", "e2", "n2"), Seq("cell"))
      .where(col("v1") < col("v2")), minCos)
  }

  /** IVF-PQ — the canonical billion-scale ANN composition (FAISS IVFPQ):
    * the trained IVF coarse quantizer prunes candidates to the query's
    * [[IvfProbes]] nearest cells, and the PQ code table scores ONLY
    * those members through the broadcast ADC lookup table. Every stage
    * is an equi-join: probes ⋈ assignment on cell (candidates), codes ⋈
    * lookup on (query, subspace, code) (scoring). At 100 TB the scan
    * touches M small ints per candidate in ~n/K-member cells — neither
    * the vectors nor the full code table. Deterministic end to end
    * (trained centroids + round-grid protocol), so the oracle replays
    * BOTH quantizer trainings, assignment, probe, encode, and the ADC
    * ranking.
    */
  def topKIvfPq(spark: SparkSession, dir: String, k: Int = 3, nQueries: Int = 10): DataFrame =
    ivfPqServe(spark, dir, ivfAssign(spark, dir)._1, pqCodes(spark, dir), k, nQueries)

  /** [[ivfPqRank]] over the session's index: the trained quantizers, an
    * assigned corpus `assigned` (vec_id, embedding, norm, …, cell) and
    * its PQ `codes`, its first `nQueries` vectors as the queries.
    */
  private def ivfPqServe(spark: SparkSession, dir: String, assigned: DataFrame,
                         codes: DataFrame, k: Int, nQueries: Int): DataFrame =
    ivfPqRank(assigned.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("norm").as("qn")),
      ivfCentroids(spark, dir), pqCodebooks(spark, dir), codes,
      assigned.select(col("vec_id"), col("cell")), k)

  /** The ×[[BigReplicas]] corpus assigned to the BASE-trained IVF cells —
    * the big tier's inverted lists. Same broadcast-argmax shape as
    * [[ivfAssign]] (no label: the inflation doesn't carry one), memoized
    * as corpus prep like every index relation.
    */
  private def ivfAssignBig(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.memoized(spark, dir, "sim:ivf_assigned_big") {
      assignCells(inflatedEmbeddings(spark, dir), ivfCentroids(spark, dir))
    }

  /** Measurement tier for IVF-PQ at ×10 (the topKLshBig pattern, r8
    * verdict's scaling-slope ask): quantizers TRAINED ON THE BASE corpus
    * (the production train-on-sample split — at 100 TB nobody retrains
    * the coarse quantizer on the full corpus), the ×[[BigReplicas]]
    * inflated corpus assigned and PQ-encoded against them, and the same
    * [[ivfPqRank]] probe/ADC plan serving from ~×10 cell populations and
    * a ×10 code table. Deterministic end to end (the inflation is
    * replayable arithmetic, the circular shift preserves each stage's
    * left-to-right fp evaluation order on the SAME array both engines
    * hold), so the chained-CTE oracle extends the fixture replay with
    * one corpus CTE.
    */
  def topKIvfPqBig(spark: SparkSession, dir: String, k: Int = 3, nQueries: Int = 10): DataFrame =
    ivfPqServe(spark, dir, ivfAssignBig(spark, dir), pqCodesBig(spark, dir), k, nQueries)

  /** The IVF-PQ query plan over EXPLICIT index relations — the shared
    * core of [[topKIvfPq]] (session-memoized index) and
    * [[topKIvfPqPersisted]] (index reloaded from Parquet artifacts):
    * `cents` (cell, ce, cn), `cb` (m, cell, ce, cn2), `codes`
    * (vec_id, m, code), `cells` (vec_id, cell).
    */
  private def ivfPqRank(queries: DataFrame, cents: DataFrame, cb: DataFrame,
                        codes: DataFrame, cells: DataFrame, k: Int): DataFrame = {
    // members of probed cells; each vector sits in exactly one cell and
    // probe cells are distinct per query, so (query, vec) is unique
    val cand = probeCells(queries, cents)
      .join(cells, Seq("cell"))
      .where(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"))
    adcTopK(cand.join(codes, "vec_id"), queries, cb, col("query_id") === col("lq"), k)
  }

  /** ANN index artifact lifecycle (r7 verdict ask 3): at 100 TB the
    * index BUILD (quantizer training, assignment, encoding) and the
    * query job are different jobs — the trained index must round-trip
    * through storage, not live in one session's memo. Each artifact is
    * written once per (session, dir) to a deterministic Parquet
    * directory and handed back as a FRESH scan relation (lineage roots
    * at the files, not the build plan), so every consumer provably runs
    * off the persisted bytes. Floats/doubles/ints round-trip Parquet
    * bit-exactly, hence reloaded query results are identical by
    * construction — proven by the hash-gated sim_index_persist (same
    * oracle as sim_topk_ivfpq) and by the side-by-side spec.
    */
  private def indexArtifact(spark: SparkSession, dir: String, name: String)
                           (src: => DataFrame): DataFrame =
    graft.Caches.parquetArtifact(spark, dir, s"ann/$name")(src)

  /** Write the full IVF-PQ index (coarse centroids, PQ codebooks, PQ
    * codes, cell assignment) to `graft-ann-index-*` under the JVM temp
    * dir and reload each artifact as a Parquet relation. Returns
    * (cents, cb, codes, cells).
    */
  def persistedIvfPqIndex(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = (
    indexArtifact(spark, dir, "ivf_centroids")(ivfCentroids(spark, dir)),
    indexArtifact(spark, dir, "pq_codebooks")(pqCodebooks(spark, dir)),
    indexArtifact(spark, dir, "pq_codes")(pqCodes(spark, dir)),
    indexArtifact(spark, dir, "ivf_cells")(
      ivfAssign(spark, dir)._1.select(col("vec_id"), col("cell"))))

  /** [[topKIvfPq]] served from the PERSISTED index: identical plan,
    * identical numbers, but every index relation scans the Parquet
    * artifacts written by [[persistedIvfPqIndex]] — the operational
    * "build once, query from storage" half of the ANN story. Query
    * vectors come from the corpus at query time (as any ANN serving
    * path does); only the index round-trips.
    */
  def topKIvfPqPersisted(spark: SparkSession, dir: String,
                         k: Int = 3, nQueries: Int = 10): DataFrame = {
    val (cents, cb, codes, cells) = persistedIvfPqIndex(spark, dir)
    val queries = Tables.embeddings(spark, dir).where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        sqrt(dot(col("embedding"), col("embedding"))).as("qn"))
    ivfPqRank(queries, cents, cb, codes, cells, k)
  }

  /** kNN label probe — the standard embedding-space quality eval: each
    * query vector's label predicted by majority vote of its k nearest
    * (exact cosine) neighbors, ties broken deterministically (higher
    * vote count, then smaller label; neighbor ranking ties on vec_id).
    * Exactness baseline bounded like [[topK]]; at scale the neighbor
    * stage swaps for the LSH/IVF candidate join — identical vote logic.
    */
  def knnClassify(spark: SparkSession, dir: String, k: Int = 5, nQueries: Int = 50): DataFrame = {
    val e = Tables.embeddings(spark, dir).where(col("vec_id") < MaxExactVectors)
      .select(col("vec_id"), col("label"), col("embedding"),
        sqrt(dot(col("embedding"), col("embedding"))).as("norm"))
    val q = e.where(col("vec_id") < nQueries)
      .toDF("query_id", "true_label", "qe", "qn")
    val top = topKBy(q.join(e.toDF("vec_id", "nlabel", "ce", "cn"),
        col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("true_label"), col("nlabel"), col("vec_id"),
        cosinePre(col("qe"), col("qn"), col("ce"), col("cn")).as("cos")), "cos", k)
    top.groupBy(col("query_id"), col("true_label"), col("nlabel"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("votes").desc, col("nlabel"))))
      .where(col("r") === 1)
      .select(col("query_id"), col("true_label"),
        col("nlabel").as("predicted_label"), col("votes"))
  }

  /** Per-label centroid cosine — the embedding-based semantic quality
    * filter: each vector scored by cosine to ITS OWN label's mean
    * embedding (vectors far from their cluster centroid are the semantic
    * outliers a curation pipeline drops). fp-portability protocol: every
    * component is 6-dp-rounded onto the decimal grid, the centroid mean
    * and all dot/norm sums accumulate as exact DECIMAL (order-free — the
    * row order inside a groupBy sum is nondeterministic), and only the
    * final cosine divides in double on bit-identical inputs, so the
    * oracle replays scores exactly (the ml_batch_gd / bm25 technique).
    *
    * Scale shape: one explode (embedding width × rows), one (label, pos)
    * aggregate producing a K×dim centroid table that BROADCASTS back,
    * one per-vector aggregate keyed on vec_id. No n² anything.
    */
  def centroidCos(spark: SparkSession, dir: String): DataFrame = {
    val dims = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), posexplode(col("embedding")))
      .select(col("vec_id"), col("label"), (col("pos") + 1).as("pos"),
        round(col("col").cast("double"), 6).cast("decimal(12,6)").as("v6"))
    val cent = dims.groupBy(col("label"), col("pos"))
      .agg((sum(col("v6")).cast("double") / count(lit(1))).as("c"))
    val cnorm = cent.groupBy(col("label"))
      .agg(sum(round(col("c") * col("c"), 9).cast("decimal(18,9)"))
        .cast("double").as("nc"))
    val vs = dims.join(broadcast(cent), Seq("label", "pos"))
      .select(col("vec_id"), col("label"),
        round(col("v6").cast("double") * col("c"), 9).cast("decimal(18,9)").as("dc"),
        round(col("v6").cast("double") * col("v6").cast("double"), 9)
          .cast("decimal(18,9)").as("vv"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("dc")).cast("double").as("dot"),
        sum(col("vv")).cast("double").as("nv"))
    vs.join(broadcast(cnorm), "label")
      .select(col("vec_id"), col("label"),
        round(col("dot") / sqrt(col("nv") * col("nc")), 6).as("cos_centroid"))
  }

  private val cosSql =
    graft.OracleSql.cos6("a.embedding", "b.embedding")

  /** [[mmr]] replay: candidate pool + pairwise cosines, then the k greedy
    * steps unrolled (each = one argmax CTE over the not-yet-selected
    * pool). λ and 1−λ are interpolated from the SAME doubles Spark uses
    * (1−0.7 is 0.30000000000000004 in IEEE — writing '0.3' would be a
    * different constant).
    */
  private def mmrOracle(queryId: Long, nCand: Int, k: Int): String = {
    val lam = MmrLambda
    val oneMinus = 1 - MmrLambda
    val sb = new StringBuilder(
      s"""WITH cand AS MATERIALIZED (
            SELECT vec_id, rel FROM (
              SELECT b.vec_id AS vec_id, $cosSql AS rel,
                     row_number() OVER (ORDER BY $cosSql DESC, b.vec_id) AS rn
              FROM embeddings a JOIN embeddings b
                ON b.vec_id <> a.vec_id AND b.vec_id < $MaxExactVectors
              WHERE a.vec_id = $queryId)
            WHERE rn <= $nCand),
          ce AS MATERIALIZED (
            SELECT c.vec_id, c.rel, e.embedding FROM cand c
            JOIN embeddings e ON e.vec_id = c.vec_id),
          pair AS MATERIALIZED (
            SELECT a.vec_id AS v1, b.vec_id AS v2, $cosSql AS sim
            FROM ce a JOIN ce b ON a.vec_id <> b.vec_id),
          sel0(vec_id) AS (SELECT CAST(NULL AS BIGINT) WHERE 1 = 0)""")
    for (t <- 1 to k) sb ++=
      s""",
          s$t AS MATERIALIZED (
            SELECT vec_id, rel, mmr FROM (
              SELECT c.vec_id, c.rel,
                     round($lam * c.rel - $oneMinus * coalesce(m.ms, 0.0), 6) AS mmr,
                     row_number() OVER (ORDER BY
                       round($lam * c.rel - $oneMinus * coalesce(m.ms, 0.0), 6) DESC,
                       c.vec_id) AS rn
              FROM cand c
              LEFT JOIN (SELECT v1, max(sim) AS ms FROM pair
                         WHERE v2 IN (SELECT vec_id FROM sel${t - 1}) GROUP BY v1) m
                ON c.vec_id = m.v1
              WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${t - 1}))
            WHERE rn = 1),
          sel$t AS (SELECT vec_id FROM sel${t - 1} UNION ALL SELECT vec_id FROM s$t)"""
    sb ++= (1 to k).map(t =>
      s"""
          SELECT CAST($t AS BIGINT) AS rank, vec_id, rel, mmr FROM s$t""")
      .mkString(" UNION ALL ")
    sb.toString
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_cosine_pairs" -> ((s, d) => cosinePairs(s, d)),
    "sim_topk"         -> ((s, d) => topK(s, d)),
    "sim_mmr"          -> ((s, d) => mmr(s, d)),
    "sim_recall_at_k"  -> ((s, d) => recallAtK(s, d)),
    "sim_recall_table" -> ((s, d) => recallTable(s, d)),
    // Both ANN variants are approximate RELATIVE TO exact top-k but
    // deterministic in themselves (md5-derived LSH planes / seed-vector
    // quantizer), so both carry full SQL oracles; recall vs the
    // oracle-checked exact topK is additionally asserted in spec.
    "sim_topk_lsh"     -> ((s, d) => topKLsh(s, d)),
    "sim_topk_lsh_multiprobe" -> ((s, d) => topKLshMultiprobe(s, d)),
    "sim_topk_sq"      -> ((s, d) => topKSq(s, d)),
    // measurement tier: the LSH probe over the ×10 inflated corpus
    "sim_topk_lsh_big" -> ((s, d) => topKLshBig(s, d)),
    "sim_topk_pq"      -> ((s, d) => topKPq(s, d)),
    "sim_topk_ivfpq"   -> ((s, d) => topKIvfPq(s, d)),
    // scaling-slope tier: base-trained quantizers serving the ×10
    // corpus — ~×10 cell populations, ×10 code table, same probe plan
    "sim_topk_ivfpq_big" -> ((s, d) => topKIvfPqBig(s, d)),
    // the SAME rankings served from Parquet-persisted indexes (write →
    // reload → query); hash-gated against the identical oracles
    "sim_index_persist" -> ((s, d) => topKIvfPqPersisted(s, d)),
    "sim_lsh_persist"   -> ((s, d) => topKLshPersisted(s, d)),
    "sim_lsh_incremental" -> ((s, d) => topKLshIncremental(s, d)),
    "sim_topk_ivf"     -> ((s, d) => topKIvf(s, d)),
    "sim_topk_filtered" -> ((s, d) => topKFiltered(s, d)),
    "dedup_embedding"  -> ((s, d) => embeddingDedupGroups(s, d)),
    "dedup_semantic"   -> ((s, d) => semanticDedupGroups(s, d)),
    "sim_centroid_cos" -> ((s, d) => centroidCos(s, d)),
    "sim_knn_classify" -> ((s, d) => knnClassify(s, d)),
  )

  /** `SELECT query_id, vec_id, <score>, rank` over `from` (a relation or
    * a parenthesized subquery): the top-3 rows per query ranked (score
    * desc, vec_id) — the [[topKBy]] replay, the one ranked tail of every
    * top-k oracle.
    */
  private def topKSql(score: String, from: String): String =
    s"""SELECT query_id, vec_id, $score, rank FROM (
            SELECT query_id, vec_id, $score,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY $score DESC, vec_id) AS rank
            FROM $from)
          WHERE rank <= 3"""

  /** 6-dp cosine of two float list columns from precomputed norms — the
    * [[cosinePre]] replay.
    */
  private def cosPreSql(a: String, na: String, b: String, nb: String): String =
    s"""round(list_sum(list_transform(list_zip($a, $b),
                 z -> z[1]::DOUBLE * z[2]::DOUBLE)) / ($na * $nb), 6)"""

  /** Dot of a float list with a DOUBLE list (a plane, a centroid) in
    * list order — the FloatDoubleDot replay.
    */
  private def centDotSql(v: String, ce: String): String =
    s"list_sum(list_transform(list_zip($v, $ce), z -> z[1]::DOUBLE * z[2]))"

  /** [[centCos]] replay against the `c` centroid CTE. */
  private def centCosSql(v: String, nv: String): String =
    s"round(${centDotSql(v, "c.ce")} / ($nv * c.cn), 6)"

  /** The LSH index replay over the relation `corpus` (vec_id, embedding):
    * the md5 plane family (`w`: 16 bits × 64 dims — the fixture
    * embedding width), norms (`e`), each vector's sign sketch (`sk`) and
    * its 4-bit integer band keys (`bd`: vec_id, embedding, nrm, b, key)
    * — the [[bandRows]] replay, shared by every LSH-family oracle.
    */
  private def lshBandsSql(corpus: String): String =
    s"""w AS MATERIALIZED (
            SELECT j, list(CASE WHEN ('0x' || substr(md5(j::VARCHAR || ':' || d::VARCHAR), 1, 2))::INT & 1 = 1
                                THEN 1.0 ELSE -1.0 END ORDER BY d) AS wv
            FROM generate_series(0, 15) t(j), generate_series(0, 63) s(d)
            GROUP BY j),
          e AS MATERIALIZED (
            SELECT vec_id, embedding,
                   ${graft.OracleSql.l2norm("embedding")} AS nrm
            FROM $corpus),
          sk AS MATERIALIZED (
            SELECT vec_id, any_value(embedding) AS embedding, any_value(nrm) AS nrm,
                   list(CASE WHEN round(dotv, 6) > 0 THEN 1 ELSE 0 END ORDER BY j) AS sk
            FROM (SELECT e.vec_id, e.embedding, e.nrm, w.j,
                         ${centDotSql("e.embedding", "w.wv")} AS dotv
                  FROM e CROSS JOIN w)
            GROUP BY vec_id),
          bd AS MATERIALIZED (
            SELECT vec_id, embedding, nrm, b,
                   sk[b*4+1] + 2*sk[b*4+2] + 4*sk[b*4+3] + 8*sk[b*4+4] AS key
            FROM sk, generate_series(0, 3) g(b))"""

  /** FROM clause of the [[bandCandidates]] replay: the probe-side band
    * rows `probe` (vec_id, b, key) of the first 10 vectors as `q`, their
    * same-bucket `bd` rows as `c`.
    */
  private def bandJoinSql(probe: String): String =
    s"""FROM $probe q JOIN bd c
              ON q.b = c.b AND q.key = c.key AND q.vec_id <> c.vec_id
            WHERE q.vec_id < 10"""

  /** Exact-cosine top-k of the band candidates of `probe` — the
    * [[lshRerank]] replay.
    */
  private def lshTopKSql(probe: String): String =
    topKSql("cos", s"""(SELECT DISTINCT q.vec_id AS query_id, c.vec_id,
                         ${cosPreSql("q.embedding", "q.nrm", "c.embedding", "c.nrm")} AS cos
            ${bandJoinSql(probe)})""")

  /** The ×[[BigReplicas]] inflation ([[inflatedEmbeddings]]): replica r
    * = (vec_id + r·[[BigIdStride]], embedding circularly shifted by r).
    */
  private val inflatedSql =
    s"""SELECT vec_id + r * $BigIdStride AS vec_id,
                 list_concat(embedding[r+1:len(embedding)], embedding[1:r]) AS embedding
          FROM embeddings, generate_series(0, ${BigReplicas - 1}) t(r)"""

  /** The IVF coarse quantizer's Lloyd's chain (KMeans.kmeansCtes, whose
    * `e` CTE is the base corpus); centroid coords are round6-grid
    * DOUBLEs in both engines.
    */
  private val ivfTrainSql = KMeans.kmeansCtes(k = IvfCells, iterations = IvfIters)

  /** IVF assignment over the relation `src` (vec_id, embedding,
    * `carried`…): norms (`en`), the trained centroids (`c`: cell, ce,
    * cn) and each vector's argmax-cosine cell, ties to the lowest
    * (`asn`: vec_id, embedding, carried…, nrm, cell) — the
    * [[assignCells]] replay.
    */
  private def ivfAssignSql(src: String, carried: Seq[String] = Nil): String = {
    val x = carried.map(c => s", $c").mkString
    s"""en AS MATERIALIZED (
            SELECT vec_id, embedding$x,
                   ${graft.OracleSql.l2norm("embedding")} AS nrm
            FROM $src),
          c AS MATERIALIZED (
            SELECT cell, cent AS ce,
                   sqrt(list_sum(list_transform(cent, x -> x * x))) AS cn
            FROM c$IvfIters),
          asn AS MATERIALIZED (
            SELECT vec_id, embedding$x, nrm, cell FROM (
              SELECT en.vec_id, en.embedding${carried.map(c => s", en.$c").mkString}, en.nrm, c.cell,
                     row_number() OVER (PARTITION BY en.vec_id ORDER BY
                       ${centCosSql("en.embedding", "en.nrm")} DESC, c.cell) AS rk
              FROM en CROSS JOIN c) WHERE rk = 1)"""
  }

  /** The [[probeCells]] replay: the first 10 assigned vectors as queries
    * (`q`: query_id, qe, qn, carried…) and each query's [[IvfProbes]]
    * nearest cells (`p`: the query columns plus cell).
    */
  private def ivfProbeSql(carried: Seq[String] = Nil): String = {
    val x = carried.map(c => s", $c").mkString
    s"""q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn$x
                FROM asn WHERE vec_id < 10),
          p AS MATERIALIZED (
            SELECT query_id, qe, qn$x, cell FROM (
              SELECT q.query_id, q.qe, q.qn${carried.map(c => s", q.$c").mkString}, c.cell,
                     row_number() OVER (PARTITION BY q.query_id ORDER BY
                       ${centCosSql("q.qe", "q.qn")} DESC, c.cell) AS rk
              FROM q CROSS JOIN c) WHERE rk <= $IvfProbes)"""
  }

  /** Full replay of [[ivfTopK]] FROM TRAINING: the Lloyd's chain,
    * assignment over `src`, the probe, exact re-rank over the probed
    * cells' members — restricted to members agreeing with the query on
    * every `carried` column (the filtered variant's pre-filter).
    */
  private def ivfOracle(src: String, carried: Seq[String]): String =
    s"""WITH $ivfTrainSql,
          ${ivfAssignSql(src, carried)},
          ${ivfProbeSql(carried)}
          """ + topKSql("cos", s"""(SELECT DISTINCT p.query_id, a.vec_id,
                         ${cosPreSql("p.qe", "p.qn", "a.embedding", "a.nrm")} AS cos
                  FROM p JOIN asn a ON p.cell = a.cell AND p.query_id <> a.vec_id${
                    carried.map(c => s" AND p.$c = a.$c").mkString})""")

  /** The four INDEPENDENT per-subspace k-means chains (prefixed s0_..s3_
    * over embedding slices) that train the PQ codebooks.
    */
  private val pqTrainSql = (0 until PqM).map(m =>
    KMeans.kmeansCtesOn(s"s${m}_",
      s"embedding[${m * PqSub + 1}:${(m + 1) * PqSub}]", PqK, PqIters)).mkString(", ")

  /** The PQ index replay: the codebook union (`cb`), the codes of the
    * (vec_id, embedding) subquery `codeSrc` — argmax round6 cosine per
    * subspace, the [[pqEncode]] replay — and the ADC lookup table of the
    * caller's `q` CTE (`lut`, the [[adcTopK]] table).
    */
  private def pqIndexSql(codeSrc: String): String =
    s"""cb AS MATERIALIZED (
            ${(0 until PqM).map(m =>
              s"""SELECT $m AS m, cell, cent,
                         list_sum(list_transform(cent, x -> x * x)) AS cn2
                  FROM s${m}_c$PqIters""").mkString(" UNION ALL ")}),
          codes AS MATERIALIZED (
            SELECT vec_id, m, cell AS code FROM (
              SELECT e2.vec_id, cb.m, cb.cell,
                     row_number() OVER (PARTITION BY e2.vec_id, cb.m ORDER BY
                       round(${centDotSql(s"e2.embedding[cb.m*$PqSub+1:(cb.m+1)*$PqSub]", "cb.cent")}
                         / (${graft.OracleSql.l2norm(s"e2.embedding[cb.m*$PqSub+1:(cb.m+1)*$PqSub]")}
                            * sqrt(cb.cn2)), 6) DESC,
                       cb.cell) AS rk
              FROM ($codeSrc) e2
                   CROSS JOIN cb) WHERE rk = 1),
          lut AS MATERIALIZED (
            SELECT q.query_id, q.qn, cb.m, cb.cell,
                   CAST(round(${centDotSql(s"q.qe[cb.m*$PqSub+1:(cb.m+1)*$PqSub]", "cb.cent")}, 9)
                        AS DECIMAL(18,9)) AS term,
                   CAST(round(cb.cn2, 9) AS DECIMAL(18,9)) AS vterm
            FROM q CROSS JOIN cb)"""

  /** The DECIMAL-summed reconstruction cosine over grouped `lut l` rows. */
  private val pqCosSql =
    """round(CAST(sum(l.term) AS DOUBLE) /
                         (any_value(l.qn) * sqrt(CAST(sum(l.vterm) AS DOUBLE))), 6) AS pqcos"""

  /** The IVF-PQ replay parameterized over the SERVED corpus: the
    * training chains (IVF k=16 x 5 iterations, four prefixed PQ
    * sub-quantizer chains) always read the base `embeddings` table —
    * the train-on-sample split — while assignment, encoding, probing,
    * and ADC ranking run over `corpusSql`: `embeddings` itself for the
    * fixture tier (with the exhaustive-baseline encode cap), the x10
    * circular-shift inflation for the big tier (uncapped: IVF pruning,
    * not the cap, bounds its candidates).
    */
  private def ivfPqOracle(corpusSql: String, codeFilter: String): String =
    s"""WITH $ivfTrainSql, $pqTrainSql,
          corpus AS MATERIALIZED ($corpusSql),
          ${ivfAssignSql("corpus")},
          ${ivfProbeSql()},
          cand AS (
            SELECT p.query_id, a.vec_id
            FROM p JOIN asn a ON p.cell = a.cell AND p.query_id <> a.vec_id),
          ${pqIndexSql(s"SELECT vec_id, embedding FROM corpus $codeFilter")},
          sc AS (
            SELECT cand.query_id, c2.vec_id, $pqCosSql
            FROM cand
            JOIN codes c2 ON c2.vec_id = cand.vec_id
            JOIN lut l ON l.query_id = cand.query_id AND l.m = c2.m AND l.cell = c2.code
            GROUP BY cand.query_id, c2.vec_id)
          ${topKSql("pqcos", "sc")}"""

  /** Near-dup groups from `pairs(v1, v2)`: both edge directions, then
    * the shared min-label reachability over all vectors.
    */
  private val embGroupsSql =
    s"""edges AS (SELECT v1 AS a, v2 AS b FROM pairs
                    UNION ALL SELECT v2, v1 FROM pairs),
          ${graft.OracleSql.minLabelReach("embeddings", "vec_id", "edges")}
          SELECT v AS vec_id, min(r) AS canonical_id FROM reach GROUP BY v"""

  private val baseOracles: Map[String, String] = Map(
    "sim_knn_classify" ->
      s"""WITH sc AS MATERIALIZED (
            SELECT a.vec_id AS query_id, a.label AS true_label,
                   b.vec_id AS vec_id, b.label AS nlabel, $cosSql AS cos
            FROM (SELECT * FROM embeddings WHERE vec_id < 50) a
            JOIN (SELECT * FROM embeddings WHERE vec_id < 4096) b
              ON b.vec_id <> a.vec_id),
          top AS (
            SELECT query_id, true_label, nlabel FROM (
              SELECT query_id, true_label, nlabel,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, vec_id) AS rank
              FROM sc) WHERE rank <= 5),
          v AS (SELECT query_id, true_label, nlabel, count(*) AS votes
                FROM top GROUP BY query_id, true_label, nlabel)
          SELECT query_id, true_label, nlabel AS predicted_label, votes FROM (
            SELECT query_id, true_label, nlabel, votes,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY votes DESC, nlabel) AS r
            FROM v) WHERE r = 1""",
    "sim_centroid_cos" ->
      """WITH dims AS (
           SELECT vec_id, label, pos,
                  CAST(round(CAST(embedding[pos] AS DOUBLE), 6) AS DECIMAL(12,6)) AS v6
           FROM (SELECT vec_id, label, embedding,
                   unnest(generate_series(1, len(embedding))) AS pos
                 FROM embeddings)),
         cent AS MATERIALIZED (
           SELECT label, pos, CAST(sum(v6) AS DOUBLE) / count(*) AS c
           FROM dims GROUP BY label, pos),
         cnorm AS (
           SELECT label,
                  CAST(sum(CAST(round(c * c, 9) AS DECIMAL(18,9))) AS DOUBLE) AS nc
           FROM cent GROUP BY label),
         vs AS (
           SELECT d.vec_id, d.label,
                  CAST(sum(CAST(round(CAST(d.v6 AS DOUBLE) * c.c, 9)
                                AS DECIMAL(18,9))) AS DOUBLE) AS dot,
                  CAST(sum(CAST(round(CAST(d.v6 AS DOUBLE) * CAST(d.v6 AS DOUBLE), 9)
                                AS DECIMAL(18,9))) AS DOUBLE) AS nv
           FROM dims d JOIN cent c ON d.label = c.label AND d.pos = c.pos
           GROUP BY d.vec_id, d.label)
         SELECT vec_id, label, round(dot / sqrt(nv * nc), 6) AS cos_centroid
         FROM vs JOIN cnorm USING (label)""",
    "sim_cosine_pairs" ->
      s"""SELECT v1, v2, cos FROM (
            SELECT a.vec_id AS v1, b.vec_id AS v2, $cosSql AS cos
            FROM (SELECT * FROM embeddings WHERE vec_id < 4096) a
            JOIN (SELECT * FROM embeddings WHERE vec_id < 4096) b
              ON a.vec_id < b.vec_id)
          WHERE cos >= 0.45""",
    "sim_topk" ->
      topKSql("cos", s"""(SELECT a.vec_id AS query_id, b.vec_id AS vec_id, $cosSql AS cos
                  FROM embeddings a
                  JOIN (SELECT * FROM embeddings WHERE vec_id < 4096) b
                    ON b.vec_id <> a.vec_id
                  WHERE a.vec_id < 10)"""),
    "sim_mmr" -> mmrOracle(queryId = 3L, nCand = MmrCandidates, k = MmrK),
    // Full replay of the LSH pipeline: regenerate the md5 plane family,
    // sketch every vector, band the bits into 4-bit integer bucket keys,
    // then exact cosine re-rank of same-bucket candidates.
    "sim_topk_lsh" ->
      s"""WITH ${lshBandsSql("embeddings")}
          ${lshTopKSql("bd")}""",
    "sim_topk_lsh_multiprobe" ->
      s"""WITH ${lshBandsSql("embeddings")},
          pq AS (
            SELECT vec_id, embedding, nrm, b, xor(key, m.m) AS key
            FROM bd, (VALUES (0), (1), (2), (4), (8)) m(m)
            WHERE vec_id < 10)
          ${lshTopKSql("pq")}""",

    // The LSH chain over the ×10 arithmetically-inflated corpus
    // (inflatedSql); bands and re-rank are the sim_topk_lsh builders.
    "sim_topk_lsh_big" ->
      s"""WITH ${lshBandsSql(s"($inflatedSql)")}
          ${lshTopKSql("bd")}""",
    // Full replay of the quantized-search pipeline: the LSH band CTEs and
    // band join for candidates, symmetric int8 quantization
    // (round(127·v/‖v‖) — the only fp step, bit-identical across
    // engines), then the EXACT integer dot re-rank: no rounding
    // protocol needed downstream of quantization.
    "sim_topk_sq" ->
      s"""WITH ${lshBandsSql("embeddings")},
          qv AS MATERIALIZED (
            SELECT vec_id,
                   list_transform(embedding,
                     x -> CAST(round(x::DOUBLE / nrm * 127.0) AS INT)) AS q
            FROM e),
          cand AS (
            SELECT DISTINCT q.vec_id AS query_id, c.vec_id
            ${bandJoinSql("bd")}),
          sc AS (
            SELECT cand.query_id, cand.vec_id,
                   CAST(list_sum(list_transform(list_zip(a.q, b.q),
                     z -> CAST(z[1] AS BIGINT) * z[2])) AS BIGINT) AS score_q8
            FROM cand
            JOIN qv a ON a.vec_id = cand.query_id
            JOIN qv b ON b.vec_id = cand.vec_id)
          SELECT query_id, vec_id, score_q8,
                 round(score_q8 / 16129.0, 6) AS qcos, rank
          FROM (${topKSql("score_q8", "sc")})""",
    // Full replay of the embedding near-dup pipeline: the LSH band CTEs,
    // candidate pairs from band-bucket equality, exact cosine at the 0.45
    // threshold, then recursive min-label reachability (the dedup_groups
    // technique) over all vectors.
    "dedup_embedding" ->
      s"""WITH RECURSIVE ${lshBandsSql("embeddings")},
          pairs AS MATERIALIZED (
            SELECT v1, v2 FROM (
              SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2,
                     ${cosPreSql("a.embedding", "a.nrm", "b.embedding", "b.nrm")} AS cos
              FROM bd a JOIN bd b
                ON a.b = b.b AND a.key = b.key AND a.vec_id < b.vec_id)
            WHERE cos >= 0.45),
          $embGroupsSql""",
    // Full replay of the IVF pipeline FROM TRAINING: the KMeans Lloyd's
    // chain (k=16, 5 iterations), then assignment (argmax round6 cosine
    // to the TRAINED centroids, ties to the lowest cell), probe the
    // query's 4 nearest cells, exact re-rank over probed members.
    "sim_topk_ivf" -> ivfOracle("e", Nil),
    // Full replay of the PQ pipeline: the four per-subspace k-means
    // chains, the codebook union, code assignment, the ADC lookup table,
    // and the DECIMAL-summed reconstruction-cosine ranking.
    "sim_topk_pq" ->
      s"""WITH $pqTrainSql,
          q AS MATERIALIZED (
            SELECT vec_id AS query_id, embedding AS qe,
                   ${graft.OracleSql.l2norm("embedding")} AS qn
            FROM embeddings WHERE vec_id < 10),
          ${pqIndexSql(s"SELECT vec_id, embedding FROM embeddings WHERE vec_id < $MaxExactVectors")},
          sc AS (
            SELECT l.query_id, c.vec_id, $pqCosSql
            FROM codes c JOIN lut l
              ON l.m = c.m AND l.cell = c.code AND l.query_id <> c.vec_id
            GROUP BY l.query_id, c.vec_id)
          ${topKSql("pqcos", "sc")}""",
    // Full replay of the IVF-PQ composition: the IVF training chain
    // (unprefixed, k=16 × 5 iterations) AND the four prefixed PQ
    // sub-quantizer chains in one WITH, then assignment → probe →
    // candidate cells → encode → ADC ranking over candidates only.
    "sim_topk_ivfpq" -> ivfPqOracle("SELECT vec_id, embedding FROM embeddings",
      s"WHERE vec_id < $MaxExactVectors"),
    // The same composition served over the ×10 circular-shift inflation
    // (the sim_topk_lsh_big corpus), quantizers still trained on the
    // base corpus — train-on-sample, encode/search everything.
    "sim_topk_ivfpq_big" -> ivfPqOracle(inflatedSql, ""),
    // Full replay of the SemDeDup pipeline: the KMeans training chain
    // (shared with sim_topk_ivf), assignment to trained cells, exact
    // cosine on SAME-CELL pairs, recursive min-label reachability over
    // all vectors (the dedup_embedding components technique).
    "dedup_semantic" ->
      s"""WITH RECURSIVE $ivfTrainSql,
          ${ivfAssignSql("e")},
          pairs AS MATERIALIZED (
            SELECT v1, v2 FROM (
              SELECT a.vec_id AS v1, b.vec_id AS v2,
                     ${cosPreSql("a.embedding", "a.nrm", "b.embedding", "b.nrm")} AS cos
              FROM asn a JOIN asn b ON a.cell = b.cell AND a.vec_id < b.vec_id)
            WHERE cos >= 0.45),
          $embGroupsSql""",
    // the filtered variant: identical train→assign→probe→re-rank chain,
    // with the label carried through assignment and the same-label
    // pre-filter on the candidate join
    "sim_topk_filtered" -> ivfOracle("embeddings", Seq("label")),
  )

  /** sim_index_persist serves the same IVF-PQ ranking from the reloaded
    * Parquet index — identical numbers by construction, so it replays
    * through the identical oracle.
    */
  val oracles: Map[String, String] = baseOracles ++ Map(
    "sim_index_persist" -> baseOracles("sim_topk_ivfpq"),
    "sim_lsh_persist" -> baseOracles("sim_topk_lsh"),
    // incremental append ≡ monolithic rebuild (banding is per-row), so
    // the full-corpus ranking replay gates the union-served index
    "sim_lsh_incremental" -> baseOracles("sim_topk_lsh"),
    // recall@k re-derives BOTH rankings (each already an exact replay)
    // and joins them — the measured ANN quality, as numbers under the
    // hash gate instead of a spec-side assertion
    "sim_recall_at_k" ->
      s"""WITH ex AS (SELECT * FROM (${baseOracles("sim_topk")}) t),
          ap AS (SELECT * FROM (${baseOracles("sim_topk_lsh")}) t)
          SELECT ex.query_id, count(*) AS k_total,
            CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
              AS n_hit,
            round(CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE), 6) AS recall
          FROM ex LEFT JOIN ap
            ON ex.query_id = ap.query_id AND ex.vec_id = ap.vec_id
          GROUP BY ex.query_id""",
    // the per-index-type recall dashboard: each variant's already-exact
    // ranking replay joined against the exact top-k, one row per index
    "sim_recall_table" -> Seq(
        "ivf" -> "sim_topk_ivf", "ivfpq" -> "sim_topk_ivfpq",
        "lsh" -> "sim_topk_lsh", "lsh_multiprobe" -> "sim_topk_lsh_multiprobe",
        "sq8" -> "sim_topk_sq")
      .map { case (name, key) =>
        s"""SELECT '$name' AS index_type,
              CAST(count(*) AS BIGINT) AS k_total,
              CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS n_hit,
              round(CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE), 6) AS mean_recall
            FROM (SELECT * FROM (${baseOracles("sim_topk")}) t) ex
            LEFT JOIN (SELECT * FROM (${baseOracles(key)}) t) ap
              ON ex.query_id = ap.query_id AND ex.vec_id = ap.vec_id"""
      }.mkString(" UNION ALL "))
}
