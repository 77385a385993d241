package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.text.Text

/** Document deduplication family (driver-extension mandate — no reference
  * counterpart; see SURVEY.md §7 step 7): exact, n-gram Jaccard,
  * MinHash+LSH, and SimHash, over the `documents` table.
  *
  * Scale design notes (100 TB posture):
  *  - exact: one hash-groupBy window — the canonical pick is a window min,
  *    no driver state.
  *  - n-gram Jaccard: inverted-index self-join on shingles — only pairs
  *    sharing ≥1 shingle are ever materialized (never the n² cross join).
  *    At web scale you'd additionally drop ultra-high-df "stop shingles"
  *    before the join (skew cap); the fixture vocabulary doesn't need it.
  *  - MinHash: 64 hash functions = 64 deterministic xxhash64 seeds, banded
  *    16×4; candidate pairs come from band-bucket equality (shuffle on the
  *    band key), then are verified with an exact per-pair array intersect —
  *    the verify join touches only candidates, not the corpus square.
  *  - SimHash: per-document array fold (no shuffle at all for the sketch);
  *    the pair scan here is a small nested-loop — the scale path is
  *    pigeonhole banding of the 60 bits (k+1 bands ⇒ any pair within
  *    hamming k shares a band), same LSH join shape as MinHash.
  *
  * All hash functions are deterministic (xxhash64 seeds / md5), so results
  * are reproducible run-to-run and, for md5-based ones, replayable in the
  * DuckDB oracle.
  */
object Dedup {

  /** Word 3-gram shingle set, distinct, built in-row (no explode) by the
    * native [[graft.functions.ArrayExprs.WordShingles]] expression — the
    * tokenizer tree is evaluated once per row (the previous declarative
    * form referenced it through every element_at and CollapseProject
    * duplicated it into each).
    */
  def shingles(text: Column): Column =
    graft.functions.ArrayExprs.wordShingles(Text.tokenize(text), 3)

  /** Cross-query memo (the shared [[graft.Caches.memoized]], keyed on
    * the session object, dir and key): the shingle scan feeds
    * dedup_ngram_jaccard, dedup_minhash AND dedup_groups, and the
    * MinHash pair graph feeds the latter two — a full registry run
    * should pay for each once.
    */
  private def memoized(spark: SparkSession, dir: String, key: String)
                      (build: => DataFrame): DataFrame =
    graft.Caches.memoized(spark, dir, s"dedup:$key")(build)

  private def docShingles(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, dir, "shingles") {
      // from the shared per-run tokenize memo (r11 ask 3): this build
      // keeps only the shingle construction
      Text.tokensBase(spark, dir)
        .select(col("doc_id"),
          graft.functions.ArrayExprs.wordShingles(col("tokens"), 3).as("sh"))
        .filter(size(col("sh")) > 0)
    }

  /** The ONE memoized builder of a shingle inverted index: from a
    * (doc_id, sh) frame, the rows (doc_id, s, sl, n) — s = xxhash64 and
    * sl = length of each shingle, n = size(sh), the doc's FULL shingle
    * count taken before any cap (the Jaccard denominator, so consumers
    * never join the per-doc counts back in).
    *
    * With a `cap`, the build drops the "stop shingles" — every key whose
    * document frequency exceeds the cap — and caches only the kept rows
    * (the postings-build stop-word cut: retrieval only reads). The cap
    * is applied ONCE, here, not per rep on each self-join side: at the
    * ×10 tier the kept rows are ~2% of the full index, so the cache is
    * that much smaller and no consumer re-aggregates df. The memo key
    * carries the cap (`<key>_cap<cap>`) on top of the caller's corpus
    * key (which names the replica count), so every (corpus, cap) is its
    * own entry.
    *
    * PRE-PLACED on the join key (r14 optimization): the memo's
    * repartition advertises hash(s, sl) through the truncated leaf
    * (GraftExpr.truncated rewrites the build's partitioning onto the
    * cached plan), so every consumer's self-join sides plan ZERO
    * exchanges over the index. One builder serves all three tiers: the
    * fixture corpus ([[docShingleIndex]], [[ngramJaccardPairs]]), the
    * skew corpus ([[skewIndex]], [[ngramSkew]]) and the ×10 corpus
    * ([[ngramCappedBig]]).
    *
    * Keyed on (xxhash64, length) of the shingle, not the string: smaller
    * shuffle rows and cheaper key compares. A spurious intersection would
    * need two distinct shingles in one corpus to collide on BOTH the
    * 64-bit hash and their length — the length guard keeps the collision
    * odds negligible even at 100 TB shingle cardinality, where hash-only
    * keying's ~|shingles|²/2⁶⁴ birthday bound starts to bite.
    */
  private def shingleIndex(spark: SparkSession, dir: String, key: String,
                           cap: Option[Long] = None)(sh: => DataFrame): DataFrame =
    memoized(spark, dir, key + cap.fold("")(c => s"_cap$c")) {
      indexOn(sh, cap, spark.sessionState.conf.numShufflePartitions)
    }

  /** The unmemoized body of [[shingleIndex]] over `parts` partitions. */
  private[graft] def indexOn(sh: DataFrame, cap: Option[Long], parts: Int): DataFrame = {
    val ex = sh
      .select(col("doc_id"), explode(col("sh")).as("s"), size(col("sh")).as("n"))
      .select(col("doc_id"), xxhash64(col("s")).as("s"), length(col("s")).as("sl"), col("n"))
    val kept = cap.fold(ex) { c =>
      // df per key by a map-side partial aggregate (only per-task key
      // counts shuffle), then the hot keys drop out in a map-side ANTI
      // join BEFORE the placement shuffle, so only kept rows shuffle.
      // Every row's key is in the df table, so "key ∉ hot" ≡ "df ≤ cap".
      // Forced broadcast: the build side is the df spectrum's head above
      // the cap, |hot| ≤ |index| / cap keys of 12 bytes (26.5k keys
      // against a 2.65M-row index at the ×10 sf0.1 tier). The form that
      // scales past a broadcast budget places the full index first and
      // anti-joins per partition — measured 0.98 s vs 0.57 s per ×10
      // build, because all 2.65M rows then cross the shuffle.
      // NB: a USING-column join moves the keys to the front — re-select
      // into the (doc_id, s, sl, n) order the positional toDF renames
      // of [[jaccardFromIndex]] expect.
      val hot = ex.groupBy(col("s"), col("sl")).agg(count(lit(1)).as("df"))
        .where(col("df") > c).select(col("s"), col("sl"))
      ex.join(broadcast(hot), Seq("s", "sl"), "left_anti")
        .select(col("doc_id"), col("s"), col("sl"), col("n"))
    }
    // EXPLICIT partition count (r15 fix): a bare repartition(cols) is
    // AQE-coalescible, and the coalesced read reports
    // CoalescedHashPartitioning — which GraftExpr.truncated can only
    // map to UnknownPartitioning (advertising plain hash(k, n) over
    // merged-adjacent buckets would mis-co-partition consumers), so
    // the memo silently lost its placement and every consumer
    // re-exchanged the index per rep. Pinning numPartitions to the
    // session's shuffle-partition conf (scale-adaptive, never a
    // constant) keeps the final stage a plain HashPartitioning that
    // survives truncation.
    kept.repartition(parts, col("s"), col("sl"))
  }

  /** The fixture corpus's shingle index (see [[shingleIndex]]), full
    * (shared by ngram_jaccard and overlap_pairs) or capped (ngram_capped).
    */
  private def docShingleIndex(spark: SparkSession, dir: String,
                              cap: Option[Long] = None): DataFrame =
    shingleIndex(spark, dir, "ngram_ex", cap)(docShingles(spark, dir))

  /** Exact dedup: md5 content fingerprint; canonical = min doc_id per
    * fingerprint. Output keeps every doc so the query is non-empty even on
    * a dup-free corpus.
    */
  def exact(spark: SparkSession, dir: String): DataFrame =
    // shared by dedup_exact and pipeline_curate: one fp-window shuffle
    // per run (the ≥2-consumer memo rule)
    memoized(spark, dir, "exact") {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
      Tables.documents(spark, dir)
        .select(col("doc_id"), md5(col("text")).as("fp"))
        .withColumn("canonical_id", min(col("doc_id")).over(w))
        .withColumn("group_size", count(lit(1)).over(w))
    }

  /** Exact dedup under TEXT NORMALIZATION — the standard
    * normalize-before-fingerprint step a crawler pipeline runs ahead of
    * [[exact]]: lowercase, collapse every whitespace run to one space,
    * trim. Catches the trivial variants byte-exact dedup misses
    * (re-wrapped, case-mangled, padding-whitespace copies) while the
    * normalization is simple enough that both engines replay it
    * byte-identically. Output carries the groups under BOTH
    * fingerprints so the widening is visible as data: every
    * norm-group is a union of raw-groups, never the reverse
    * (normalization is a function of the raw text), asserted in spec.
    *
    * PURE over the real corpus (r12 ADVICE): the whitespace-mangled gate
    * fixture lives ONLY in the dedup_exact_norm registry binding (and its
    * oracle's matching injection CTE) — an earlier revision routed this
    * production entry point through [[normFixture]], silently replacing
    * ~6% of every caller's documents with synthetic boilerplate.
    */
  def exactNormalized(spark: SparkSession, dir: String): DataFrame =
    exactNormalizedOn(Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  /** The gate-registered form: [[exactNormalizedOn]] over the planted
    * whitespace/case fixture, mirroring the oracle's injection CTE.
    */
  private[graft] def exactNormalizedGate(spark: SparkSession, dir: String): DataFrame =
    exactNormalizedOn(normFixture(spark, dir))

  /** Whitespace/case-mangled gate fixture for [[exactNormalized]] (the
    * pii_scan injected-span technique): doc_ids divisible by 17 become
    * copies of one boilerplate template that differ ONLY in case
    * (÷34 → uppercase), trailing space runs, and planted form-feed /
    * VERTICAL-TAB bytes — so the explicit `[ \t\n\r\f\x0B]+` class is
    * hash-exercised by the gate (Java's \s includes \x0B, RE2's does
    * not; a regression to \s flips the planted docs' nfp and the group
    * rows), not merely present in the source. Replayed verbatim by the
    * oracle's injection CTE. Pure per-row projection.
    */
  private[graft] def normFixture(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"),
      when(pmod(col("doc_id"), lit(17)) === 0,
        concat(
          when(pmod(col("doc_id"), lit(34)) === 0,
            lit("SHARED\u000BBOILER\t\tPLATE "))
            .otherwise(lit("shared\u000Bboiler\t\tplate ")),
          pmod(col("doc_id"), lit(3)).cast("string"),
          expr("repeat(' ', CAST(doc_id % 4 AS INT))"),
          when(pmod(col("doc_id"), lit(2)) === 0, lit("\f\u000B"))
            .otherwise(lit(""))))
        .otherwise(col("text")).as("text"))

  /** The fixture-tier line-dedup stats table, memoized like its siblings
    * contamination/boilerplate (corpus-wide membership index + per-doc
    * stats = build-time corpus prep): consumed by the dedup_lines gate
    * AND the pipeline_curate_lines composition in one registry run —
    * unmemoized, both re-ran the full explode + hot-line aggregate per
    * bench rep.
    */
  def dedupLines(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, dir, "lines_fixture")(dedupLinesOn(linesFixture(spark, dir)))

  /** C4/RefinedWeb-style LINE-level dedup (r13 verdict task 4) — the
    * substring-granularity step between document dedup ([[exact]]) and
    * passage dedup ([[dupPassages]]): any exact line occurring in
    * ≥ `minDocs` DISTINCT documents is removed from every document
    * (navigation headers, cookie banners, boilerplate footers — the
    * C4 "discard any line seen more than once" rule at document-set
    * granularity). Output per doc: total lines, removed lines, and the
    * md5 of the surviving text (kept lines rejoined in original order)
    * — the rewrite a curation pipeline would persist.
    *
    * Plan shape: one explode keyed by (doc_id, pos); the hot-line set is
    * a count-distinct-docs aggregate (one shuffle keyed on the line)
    * joined back as a membership probe; reconstruction is one doc-keyed
    * aggregate with an in-group sort by pos. At 100 TB the membership
    * key becomes (xxhash64(line), length) exactly as [[boilerplateUncached]]
    * does — the fixture ships the string key so the oracle replays
    * verbatim — and ultra-hot lines (df ≫ minDocs) cost nothing extra:
    * the aggregate is per distinct line, never per pair.
    */
  def dedupLinesOn(docs: DataFrame, minDocs: Int = 2): DataFrame = {
    val lines = docs.select(col("doc_id"),
      posexplode(split(col("text"), "\n", -1)).as(Seq("pos", "line")))
    val hot = lines.select(col("doc_id"), col("line")).distinct()
      .groupBy(col("line")).agg(count(lit(1)).as("nd"))
      .where(col("nd") >= minDocs)
    lines.join(hot, Seq("line"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        count(col("nd")).as("n_removed"),
        // collect_list skips nulls, so only KEPT lines enter; the struct
        // sort restores original order (pos is unique per doc)
        md5(array_join(
          transform(
            array_sort(collect_list(when(col("nd").isNull,
              struct(col("pos"), col("line"))))),
            x => x.getField("line")),
          "\n")).as("kept_md5"))
  }

  /** DuckDB replay of [[dedupLinesOn]] over [[linesFixture]] — shared by
    * the dedup_lines gate and the pipeline_curate_lines composition.
    */
  private[graft] lazy val linesOracleSql: String =
    """WITH docs AS (
         SELECT doc_id,
                'graft shared header' || chr(10)
                || replace(text, ' table ', chr(10))
                || chr(10) || 'footer mark ' || CAST(doc_id % 5 AS VARCHAR) AS text
         FROM documents),
       l AS (SELECT doc_id,
                    generate_subscripts(string_split(text, chr(10)), 1) AS pos,
                    unnest(string_split(text, chr(10))) AS line
             FROM docs),
       hot AS (SELECT line FROM (SELECT DISTINCT doc_id, line FROM l)
               GROUP BY line HAVING count(*) >= 2)
       SELECT l.doc_id, CAST(count(*) AS BIGINT) AS n_lines,
              CAST(count(hot.line) AS BIGINT) AS n_removed,
              md5(coalesce(string_agg(CASE WHEN hot.line IS NULL THEN l.line END,
                                      chr(10) ORDER BY l.pos), '')) AS kept_md5
       FROM l LEFT JOIN hot ON l.line = hot.line
       GROUP BY l.doc_id"""

  /** Planted multi-line gate fixture for [[dedupLinesOn]] (the
    * [[normFixture]] technique — the raw fixture corpus has no
    * newlines): every doc gains a corpus-wide shared header line, a
    * mod-5 shared footer line, and interior line structure from
    * splitting on the frequent ` table ` token — so the gate exercises
    * all three regimes (always-removed, group-removed, mostly-kept).
    * Replayed verbatim by the oracle's injection CTE. Production
    * callers use [[dedupLinesOn]] directly over real multi-line text.
    */
  private[graft] def linesFixture(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"),
      concat(lit("graft shared header\n"),
        expr("replace(text, ' table ', char(10))"),
        lit("\nfooter mark "),
        pmod(col("doc_id"), lit(5)).cast("string")).as("text"))

  private[graft] def exactNormalizedOn(docs: DataFrame): DataFrame = {
    val wN = org.apache.spark.sql.expressions.Window.partitionBy(col("nfp"))
    docs
      .select(col("doc_id"), md5(col("text")).as("fp"),
        // explicit whitespace class, NOT \s: Java regex \s includes
        // vertical tab, RE2's (the DuckDB oracle's) \s does not — the
        // class below pins identical semantics in both engines (the
        // oracle uses the same literal)
        md5(trim(regexp_replace(lower(col("text")), "[ \\t\\n\\r\\f\\x0B]+", " "))).as("nfp"))
      .withColumn("canonical_id", min(col("doc_id")).over(wN))
      .withColumn("group_size", count(lit(1)).over(wN))
  }

  /** Exact n-gram Jaccard near-dup pairs via shingle inverted index:
    * explode distinct shingles, self-join on shingle, count shared, then
    * |A∩B| / (|A|+|B|−|A∩B|) ≥ minJaccard.
    *
    * @param maxShingleDf optional "stop shingle" cap — the documented
    *   100 TB skew guard: a shingle occurring in more than this many
    *   documents is dropped from the inverted index when the capped
    *   index memo is built ([[shingleIndex]]), BEFORE any self-join
    *   (boilerplate headers/footers otherwise put ~df² candidate rows
    *   through one hot key). Capped shingles still count toward each
    *   doc's |A| via the index's n, so Jaccard becomes a conservative
    *   UNDER-count for pairs whose overlap was mostly boilerplate —
    *   exactly the near-dup definition a training-data pipeline wants.
    *   Off (None) for dedup_ngram_jaccard (exact-Jaccard oracle); ON and
    *   hash-gated as dedup_ngram_capped (cap = [[StopShingleDf]], the
    *   oracle replays the capped index), with the undercount property
    *   additionally asserted pairwise in DedupSpec.
    */
  def ngramJaccardPairs(spark: SparkSession, dir: String, minJaccard: Double = 0.2,
                        maxShingleDf: Option[Long] = None): DataFrame =
    jaccardFromIndex(docShingleIndex(spark, dir, maxShingleDf))
      .select(col("d1"), col("d2"), pairJaccard.as("jaccard"))
      .where(col("jaccard") >= minJaccard)

  /** ASYMMETRIC near-dup pairs by overlap coefficient
    * |A∩B| / min(|A|,|B|) — the subset-inclusion class symmetric Jaccard
    * structurally misses: a short document quoted inside a long one has
    * overlap ≈ 1 but Jaccard ≈ |A|/|B| → 0 as the size ratio grows.
    * Same inverted-index machinery as [[ngramJaccardPairs]]
    * (equi-join on (xxhash64, length), never n²; the stop-shingle df cap
    * applies identically at scale); both scores emitted so the gap the
    * operator exists for is visible per pair.
    */
  def overlapPairs(spark: SparkSession, dir: String, minOverlap: Double = 0.9): DataFrame =
    jaccardFromIndex(docShingleIndex(spark, dir))
      .select(col("d1"), col("d2"),
        round(col("inter").cast("double") /
          least(col("n1"), col("n2")).cast("double"), 6).as("overlap"),
        pairJaccard.as("jaccard"))
      .where(col("overlap") >= minOverlap)

  /** Round-6 Jaccard of a [[jaccardFromIndex]] row: |A∩B| / (|A|+|B|−|A∩B|). */
  private[graft] val pairJaccard: Column =
    round(col("inter").cast("double") /
      (col("n1") + col("n2") - col("inter")).cast("double"), 6)

  /** The ONE inverted-index pair core of every tier: from a
    * [[shingleIndex]] `ex` (doc_id, s, sl, n), full or capped, every doc
    * pair sharing ≥1 indexed shingle key as (d1, d2, inter, n1, n2) —
    * shared key count and both docs' FULL shingle counts, unfiltered.
    * The counts ride on the index rows, so the pair count groups by
    * (d1, d2, n1, n2) and no per-doc count table is joined back in; a
    * cap was already applied when the index memo was built. Callers add
    * only their own score, filter or summary aggregate.
    *
    * The self-join builds per-partition hash maps: both sides are the
    * index memo, pre-placed on (s, sl), so a shuffle-hash join needs no
    * exchange and no sort, and its build side is |index| / partitions
    * at every tier. Unhinted, the planner sort-merges any index above
    * the broadcast threshold (the skew tier's capped index: both
    * corpus-sized sides sorted per rep) and broadcasts the rest.
    */
  private[graft] def jaccardFromIndex(ex: DataFrame): DataFrame =
    ex.toDF("d1", "s", "sl", "n1")
      .join(ex.toDF("d2", "s2", "sl2", "n2").hint("shuffle_hash"),
        col("s") === col("s2") && col("sl") === col("sl2"))
      .where(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2"), col("n1"), col("n2"))
      .agg(count(lit(1)).as("inter"))
      .select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2"))

  private val NumHashes = 64
  private val Bands = 16
  private val RowsPerBand = 4 // P(miss | j=0.9) = (1-0.9^4)^16 ≈ 4e-8

  /** MinHash signature: sig[i] = min over shingles of xxhash64 with seed
    * i — one native pass over the shingle array
    * ([[graft.functions.ArrayExprs.MinHashSig]]) instead of 64
    * interpreted transform+array_min passes.
    */
  def minhashSignature(sh: Column): Column =
    graft.functions.ArrayExprs.minhashSig(sh, NumHashes)

  /** (doc_id, band, key) LSH bucket rows for a shingle frame — the
    * banded-signature derivation shared by [[minhashPairs]] (self-join),
    * [[incremental]] (batch⋈corpus join), and the streaming-curation
    * index updater ([[graft.streaming.Streaming]]), which appends each
    * micro-batch's kept-doc band rows to the live index.
    */
  private[graft] def bandBuckets(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), minhashSignature(col("sh")).as("sig"))
      .select(col("doc_id"), explode(transform(sequence(lit(0), lit(Bands - 1)),
        b => struct(b.as("band"),
          xxhash64(slice(col("sig"), b * RowsPerBand + 1, lit(RowsPerBand))).as("key"))))
        .as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))

  /** The ONE LSH candidate + exact-verify block: DISTINCT band-bucket
    * candidate pairs (d1 < d2) of a (doc_id, band, key) table, joined
    * back to both docs' sets in `sets` (doc_id, array), each with its
    * exact, unrounded set Jaccard — (d1, d2, j). Shared by
    * [[minhashPairs]] (rounds and filters), [[minhashBigPortable]]
    * (aggregates it per rep — the tier measures this join) and
    * [[bigPortablePairs]] (filters it once into the curate composition's
    * pair graph), so a threshold or join-shape change can never apply to
    * one and silently miss another.
    */
  private def candJaccard(sets: DataFrame, bands: DataFrame): DataFrame = {
    val cand = bands.toDF("d1", "band", "key")
      .join(bands.toDF("d2", "band2", "key2"),
        col("band") === col("band2") && col("key") === col("key2"))
      .where(col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
    cand
      .join(sets.toDF("d1", "h1"), "d1")
      .join(sets.toDF("d2", "h2"), "d2")
      .select(col("d1"), col("d2"),
        (size(array_intersect(col("h1"), col("h2"))).cast("double") /
          size(array_union(col("h1"), col("h2"))).cast("double")).as("j"))
  }

  /** MinHash+LSH near-dup pairs: band the signature, bucket-join candidate
    * pairs, verify with exact Jaccard ≥ minJaccard. With the 16×4 banding,
    * recall at j≥0.9 is 1−4e-8 — the declared oracle (all exact-Jaccard
    * pairs) is safe for the fixture corpus, whose planted dups are ≥0.9.
    */
  def minhashPairs(spark: SparkSession, dir: String, minJaccard: Double = 0.5): DataFrame = {
    val sh = docShingles(spark, dir)
    candJaccard(sh, bandBuckets(sh))
      .select(col("d1"), col("d2"), round(col("j"), 6).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** The big-tier corpus prep, shared by [[minhashBigPortable]],
    * [[ngramCappedBig]] and the ×10 curate composition: the ×replicas
    * inflated corpus, tokenized and shingled. Memoized like the
    * fixture-tier docShingles (same semantics the bench documents: rep 1
    * carries the build, the median measures the steady state): the
    * 50k-doc tokenize+shingle scan is corpus prep, not LSH machinery, and
    * each tier references it several times — uncached it re-ran three
    * times per invocation (6.9 s of a 14.9 s cold total at sf0.1, measured
    * while the inflated corpus still ran in one task; see
    * [[graft.Tables.replicate]]). The per-rep measurement keeps the
    * tier-specific work.
    */
  private[graft] def bigShingles(spark: SparkSession, dir: String, replicas: Int): DataFrame =
    memoized(spark, dir, s"big_shingles_$replicas") {
      // derives from the SHARED tokenized scale-tier memo (one 10×
      // tokenize pass serves this scan and the IR big index builds —
      // r10 ask 6, tightened by r11 ask 3: the previous shared TEXT
      // memo still made each consumer re-tokenize); this build keeps
      // only the shingle pass itself
      Text.tokensInflated(spark, dir, replicas)
        .select(col("doc_id"),
          graft.functions.ArrayExprs.wordShingles(col("tokens"), 3).as("sh"))
        .filter(size(col("sh")) > 0)
    }

  /** Mod-p universal-hash constants for the PORTABLE big-tier MinHash
    * family ([[graft.functions.ArrayExprs.MinHashPermSig]]): p = 2^31−1
    * keeps every product below 2^62, so DuckDB's checked BIGINT
    * arithmetic replays the signature, band keys and all, without
    * overflow — the property that turns the big tier from rows-only
    * into oracle-hash-gated.
    */
  private val PortP = 2147483647L
  private val PortM = 1000003L

  /** Fully-parenthesized Horner fold of a band's RowsPerBand signature
    * values into one mod-p band key — emitted IDENTICALLY (token for
    * token, modulo list-index syntax) into the Spark lambda and the
    * DuckDB oracle, so both engines run the same arithmetic.
    */
  private def hornerKey(elem: Int => String): String =
    (2 to RowsPerBand).foldLeft(elem(1)) { (acc, k) =>
      s"(($acc) * $PortM + ${elem(k)}) % $PortP"
    }

  /** Distinct 60-bit md5 shingle hashes of the ×replicas corpus: feeds
    * the signature AND both exact-verify sides (set Jaccard is
    * hash-invariant, and any 60-bit collision is applied identically by
    * the oracle, which computes the same md5 values — so the gates stay
    * exact, not approximate). Shared by [[minhashBigPortable]] and
    * [[bigPortablePairs]].
    */
  private def bigH60(spark: SparkSession, dir: String, replicas: Int): DataFrame =
    memoized(spark, dir, s"big_h60_$replicas") {
      bigShingles(spark, dir, replicas).select(col("doc_id"),
        graft.functions.ArrayExprs.md5Long60Array(col("sh")).as("hl"))
    }

  /** Portable mod-p band keys of the ×replicas corpus (16×4 Horner fold
    * over the [[graft.functions.ArrayExprs.MinHashPermSig]] signature) —
    * the LSH candidate-join key table. Shared like [[bigH60]].
    */
  private def bigPermBands(spark: SparkSession, dir: String, replicas: Int): DataFrame = {
    val keyExpr = hornerKey(k => s"element_at(sig, b * $RowsPerBand + $k)")
    memoized(spark, dir, s"big_permbands_$replicas") {
      bigH60(spark, dir, replicas).select(col("doc_id"),
          graft.functions.ArrayExprs.minhashPermSig(col("hl"), NumHashes).as("sig"))
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(0, ${Bands - 1}), " +
            s"b -> struct(b AS band, $keyExpr AS key))")).as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
        // pre-placed on the candidate-join key (the ngram_ex pattern,
        // r14); explicit count so AQE can't coalesce the placement away
        // (r15, see shingleIndex)
        .repartition(spark.sessionState.conf.numShufflePartitions,
          col("band"), col("key"))
    }
  }

  /** VERIFIED near-dup pair set of the ×replicas corpus under the
    * portable family: LSH band candidates, exact set-Jaccard ≥
    * minJaccard on the 60-bit hash sets. The pair-graph input to
    * [[graft.analysis.Curation.curateBig]]'s component stage; memoized
    * because the banding memos already carry the heavy state and the
    * pair set itself is small.
    */
  private[graft] def bigPortablePairs(spark: SparkSession, dir: String,
                                      replicas: Int = 10,
                                      minJaccard: Double = 0.5): DataFrame =
    memoized(spark, dir, s"big_portable_pairs_${replicas}_$minJaccard") {
      candJaccard(bigH60(spark, dir, replicas), bigPermBands(spark, dir, replicas))
        .where(col("j") >= minJaccard)
        .select(col("d1"), col("d2"))
    }

  /** Measurement tier for the MinHash+LSH pipeline (the pr_toprank_10k
    * pattern) — the registered `dedup_minhash_big`: the documents corpus
    * inflated ×`replicas` with perturbed copies (replica r > 0 appends
    * one distinct token, so each group of 10 forms a genuine near-dup
    * cluster), pushed through the same banding geometry (16×4 of 64),
    * candidate bucket-join and exact set-Jaccard verify as
    * dedup_minhash, at 10× the docs and ~45× the true pair count of the
    * fixture tier. Output is the one-row measurement summary
    * (n_docs, n_candidates, n_pairs) — corpus size, LSH candidate count
    * (the quantity the banding exists to bound), verified pair count —
    * not the pair set, so the bench measures the join, not a giant
    * result write.
    *
    * Every hash is an md5-derived PORTABLE form: base shingle hash =
    * 60-bit md5 nibble slice (the [[simhash]] pattern), signature =
    * mod-p permutation family over it, band key = mod-p Horner over the
    * band slice. The seeded-xxhash64 family ([[minhashPairs]]) stays the
    * production form (better diffusion, one hash per element×seed, no
    * base-hash collision layer) and is hash-gated at fixture scale
    * through dedup_minhash; this tier exists so the at-scale LSH JOIN
    * SHAPE itself sits behind the DuckDB hash gate — the whole pipeline
    * (inflation arithmetic → shingles → md5 base hashes → permutations
    * → bands → bucket join → verify) replays as a chained CTE, like
    * dedup_ngram_skew, where the ×10 pair SET's exact-Jaccard oracle
    * would be quadratic.
    */
  def minhashBigPortable(spark: SparkSession, dir: String, replicas: Int = 10,
                         minJaccard: Double = 0.5): DataFrame = {
    val sh = bigShingles(spark, dir, replicas)
    val verified = candJaccard(
      bigH60(spark, dir, replicas), bigPermBands(spark, dir, replicas))
      .agg(count(lit(1)).as("n_candidates"),
        count(when(col("j") >= minJaccard, 1)).as("n_pairs"))
    sh.agg(count(lit(1)).as("n_docs")).crossJoin(verified)
  }

  /** ×10 measurement tier for the CAPPED n-gram Jaccard index (the
    * dedup_ngram_capped pipeline at the scaling-slope gate): the same
    * inflated corpus as [[minhashBigPortable]] pushed through the
    * identical [[shingleIndex]] + [[jaccardFromIndex]] machinery — the
    * capped index memo built straight from [[bigShingles]] (df cut once,
    * at build; no full ×10 index is cached), then the shingle-key
    * self-join over the kept rows with their per-doc-count denominators
    * — with the cap scaled ×replicas: inflation multiplies every
    * shingle's df by ~replicas (each source doc's shingles recur across
    * its whole near-dup family), so an unscaled cap would discard the content
    * keys themselves instead of the hot tail. Output is the
    * [[minhashBigPortable]] one-row summary (n_docs, n_candidates,
    * n_pairs): pairs sharing ≥1 kept shingle, and pairs verified on the
    * round-6 Jaccard grid — the bench measures the index join, not a
    * giant pair write. Hash-gated: inflation, tokenize+shingle, cap,
    * join, and Jaccard replay as a chained CTE ([[cappedJoinCtes]];
    * the oracle intersects raw shingle strings where this side joins
    * (xxhash64, length) keys — identical sets modulo a 64-bit+length
    * collision, the documented [[shingleIndex]] trade).
    */
  def ngramCappedBig(spark: SparkSession, dir: String, replicas: Int = 10,
                     minJaccard: Double = 0.2,
                     cap: Long = StopShingleDf * 10): DataFrame = {
    val sh = bigShingles(spark, dir, replicas)
    val ex = shingleIndex(spark, dir, s"big_ngram_ex_$replicas", Some(cap))(sh)
    val verified = jaccardFromIndex(ex)
      .select(pairJaccard.as("j"))
      .agg(count(lit(1)).as("n_candidates"),
        count(when(col("j") >= minJaccard, 1)).as("n_pairs"))
    sh.agg(count(lit(1)).as("n_docs")).crossJoin(verified)
  }

  /** Boilerplate-skewed measurement tier for the stop-shingle cap: real
    * corpora are not uniformly perturbed — a few shared templates (site
    * footers, license banners, sponsor tags) put identical shingles into
    * thousands of documents, and an UNCAPPED inverted-index self-join
    * puts C(df, 2) candidate rows through each such key. This tier
    * inflates the corpus ×`replicas` (near-dup families, the
    * [[minhashBigPortable]] pattern) and then appends: template A to
    * every even source doc, template B to every fifth, and one of 200
    * sponsor-tag variants to all of them — giving a df spectrum with a
    * hot head (df in the thousands at sf0.1, far above `cap`), a mid
    * tail (sponsor groups, df ≈ 3·n_docs/200, below `cap`), and the
    * content base (df ≈ replicas).
    *
    * Output is ONE summary row that shows the cap doing its job:
    *  - cand_uncapped — Σ C(df,2) over ALL shingle keys: the exact row
    *    count the uncapped self-join WOULD produce, computed analytically
    *    from the df table (running that join is precisely the mistake
    *    the cap exists to avoid — at sf0.1 it is ~450M rows vs ~3M
    *    capped, and at 100 TB it is the job-killer);
    *  - cand_capped — the same sum restricted to df ≤ cap, i.e. the rows
    *    the capped join actually processes;
    *  - n_hot_keys — how many keys the cap removed;
    *  - n_pairs — verified ≥ minJaccard pairs from REALLY RUNNING the
    *    capped pipeline ([[jaccardFromIndex]] over the capped index memo
    *    `skew_ex_<replicas>_cap<cap>`), proving the near-dup families
    *    still surface once boilerplate mass is gone.
    *
    * The stats row aggregates df over the FULL index ([[skewIndex]]);
    * the pairs read the capped memo, whose build applied the same cap
    * once — so no per-rep anti-join runs.
    *
    * Hash-gated, not rows-only: the whole construction (inflation
    * arithmetic, templates, df stats, capped join) replays as a chained
    * CTE in the oracle at the t2 gate's corpus size.
    */
  def ngramSkew(spark: SparkSession, dir: String, replicas: Int = 3,
                cap: Long = SkewCap, minJaccard: Double = 0.2): DataFrame = {
    val sh = skewShingles(spark, dir, replicas)
    val dft = skewIndex(spark, dir, replicas)
      .groupBy(col("s"), col("sl")).agg(count(lit(1)).as("df"))
    val stats = dft.agg(
      count(lit(1)).as("n_shingle_keys"),
      count(when(col("df") > cap, 1)).as("n_hot_keys"),
      sum(expr("df * (df - 1) DIV 2")).as("cand_uncapped"),
      sum(when(col("df") <= cap, expr("df * (df - 1) DIV 2"))
        .otherwise(lit(0L))).as("cand_capped"))
    val pairs = jaccardFromIndex(
        shingleIndex(spark, dir, s"skew_ex_$replicas", Some(cap))(sh))
      .where(pairJaccard >= minJaccard)
      .agg(count(lit(1)).as("n_pairs"))
    sh.agg(count(lit(1)).as("n_docs")).crossJoin(stats).crossJoin(pairs)
  }

  /** The skew corpus's shingle sets — memoized corpus prep shared by
    * [[ngramSkew]] and the AQE skew-join cross-check spec.
    */
  private[graft] def skewShingles(spark: SparkSession, dir: String,
                                  replicas: Int = 3): DataFrame =
    memoized(spark, dir, s"skew_shingles_$replicas") {
      skewCorpus(spark, dir, replicas)
        .select(col("doc_id"), shingles(col("text")).as("sh"))
        .filter(size(col("sh")) > 0)
    }

  /** The skew corpus's full [[shingleIndex]] — feeds the df stats row
    * of [[ngramSkew]] and the AQE cross-check spec.
    */
  private[graft] def skewIndex(spark: SparkSession, dir: String,
                               replicas: Int = 3): DataFrame =
    shingleIndex(spark, dir, s"skew_ex_$replicas")(skewShingles(spark, dir, replicas))

  /** The skewed corpus: ×replicas near-dup inflation plus deterministic
    * boilerplate appends keyed on the SOURCE doc_id (so replicas of one
    * document share their boilerplate — the realistic shape). All
    * boilerplate words are lowercase-alphabetic so they survive the
    * tokenizer unchanged in both engines; the sponsor tag is a two-letter
    * chr() code (digits would be stripped by the edge-trim).
    */
  private def skewCorpus(spark: SparkSession, dir: String, replicas: Int): DataFrame =
    Tables.replicate(Tables.documents(spark, dir).select(col("doc_id"), col("text")), replicas)
      .select((col("doc_id") * replicas + col("r")).as("doc_id"),
        concat(
          when(col("r") === 0, col("text"))
            .otherwise(concat(col("text"), lit(" zz"), expr("repeat('x', r)"))),
          when(pmod(col("doc_id"), lit(2)) === 0, lit(BoilerA)).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5)) === 0, lit(BoilerB)).otherwise(lit("")),
          lit(" sponsored by partner "),
          expr("chr(97 + (doc_id % 200) DIV 26) || chr(97 + (doc_id % 200) % 26)"),
          lit(" network")).as("text"))

  private val BoilerA =
    " subscribe to our newsletter for weekly updates unsubscribe anytime via the preferences page"
  private val BoilerB =
    " all rights reserved contents copyright of the original publisher redistribution prohibited"

  /** dedup_ngram_skew cap: sits ABOVE the mid-tail sponsor groups
    * (df ≈ 3·n_docs/200 — 75 at sf0.1) and far BELOW the template head
    * (df ≈ 1.5·n_docs — thousands at sf0.1), so the cap removes exactly
    * the boilerplate mass and keeps every content/near-dup key.
    */
  val SkewCap = 100L

  private val SimBits = 60 // 15 hex chars of md5 → fits a signed long

  /** 60-bit SimHash per document, frequency-weighted over tokens (token
    * hash = md5 hex substring — reproducible in SQL engines), computed by
    * the native [[graft.functions.ArrayExprs.SimHash60]] expression (one
    * md5 per token; the declarative fold recomputed it per token×bit).
    * Tie (bit-sum 0) ⇒ bit 0.
    */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    // memoized like the shingle scan: the sketch (one md5 per token) feeds
    // dedup_simhash AND both sides of the pair self-join — without the
    // memo the tokenize+md5 pass ran twice per pairs query
    memoized(spark, dir, "simhash") {
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          graft.functions.ArrayExprs.simhash60(Text.tokenize(col("text"))).as("simhash"))
    }

  private val HamBands = 10 // maxHamming 9 ⇒ 10 disjoint 6-bit blocks

  /** Registered band-bucket df cap for [[simhashPairs]]: ABOVE the
    * largest (band, value) bucket at every fixture tier (sf0.01 max 213,
    * sf0.1 max ~2.3k), so the gated result stays EXACT while the guard
    * machinery itself runs in every plan (r12 verdict task 2 — the
    * guard must live in code, not commentary). A real corpus sets this
    * to its boilerplate tolerance; [[simhashCapped]] measures a cap
    * that genuinely prunes.
    */
  val SimhashBucketCap = 4000L

  /** Cap for the MEASURED tier (dedup_simhash_capped): below the
    * fixture's max bucket (213 at sf0.01), so the gate hash-verifies the
    * guard actually dropping buckets, not idling.
    */
  val SimhashCappedTier = 100L

  /** SimHash near-dup pairs: hamming distance ≤ maxHamming — EXACT, via
    * pigeonhole banding: split the 60 bits into maxHamming+1 disjoint
    * blocks; any pair within hamming ≤ maxHamming agrees on ≥1 whole
    * block, so candidates = pairs sharing (block index, block value) —
    * an equi-join on the block key instead of the n² nested loop — then
    * verified with the real hamming distance. Same result set, and the
    * join shape survives a 1000× corpus.
    *
    * HOT-BUCKET GUARD: pairs are enumerated inside each (band, value)
    * bucket by the native [[graft.functions.ArrayExprs.HammingPairs]]
    * loop over a `collect_list` aggregate — one shuffle of the 10·n
    * block rows, survivors-only output (the bucket self-JOIN form
    * materialized every candidate as a join row first: 15M rows ≈ 4.6 s
    * at sf0.1) — which lands each bucket in ONE aggregate row. A
    * corpus-scale boilerplate bucket would make that row O(bucket)
    * memory and O(bucket²) CPU in a single task, so buckets with
    * df > bucketCap are dropped BEFORE the aggregate (count + semi-join,
    * the winnowPairs dfCap pattern): the aggregate row is bounded at
    * bucketCap by construction (spec-asserted with a planted hot
    * bucket). Same trade as every df cap here: pairs whose ONLY
    * agreeing band is dropped are lost — boilerplate clusters a
    * near-dup pipeline caps deliberately.
    */
  def simhashPairs(spark: SparkSession, dir: String, maxHamming: Int = 9,
                   bucketCap: Long = SimhashBucketCap): DataFrame =
    simhashPairsOn(simhash(spark, dir), maxHamming, bucketCap)

  /** [[simhashPairs]] over an explicit (doc_id, simhash) frame — the
    * core the planted-hot-bucket spec drives directly.
    */
  private[graft] def simhashPairsOn(sim: DataFrame, maxHamming: Int,
                                    bucketCap: Long): DataFrame = {
    val kept = keptBlocks(sim, maxHamming, bucketCap)
    kept
      .groupBy(col("blk"), col("bval"))
      .agg(collect_list(struct(col("doc_id"), col("simhash"))).as("ds"))
      .select(explode(
        graft.functions.ArrayExprs.hammingPairs(col("ds"), maxHamming)).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"), col("p.hamming").as("hamming"))
      .distinct()
  }

  /** Band-block rows of a (doc_id, simhash) frame with the df cap
    * applied: explode the 10 6-bit blocks, count each (band, value)
    * bucket, and semi-join away the over-cap buckets so no downstream
    * aggregate ever sees them.
    */
  private[graft] def keptBlocks(sim: DataFrame, maxHamming: Int,
                                bucketCap: Long): DataFrame = {
    require(maxHamming == HamBands - 1, "banding fixed at 10×6 bits")
    val blocks = sim.select(col("doc_id"), col("simhash"),
      explode(expr(s"transform(sequence(0, ${HamBands - 1}), " +
        "b -> struct(b AS blk, shiftright(simhash, b*6) & 63 AS bval))")).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.blk").as("blk"), col("bk.bval").as("bval"))
    val ok = blocks.groupBy(col("blk"), col("bval"))
      .agg(count(lit(1)).as("df")).where(col("df") <= bucketCap)
      .select(col("blk"), col("bval"))
    blocks.join(ok, Seq("blk", "bval"), "left_semi")
  }

  /** Measured capped tier — the dedup_ngram_skew discipline for the
    * simhash family: run [[simhashPairsOn]]'s exact machinery with a cap
    * that genuinely prunes at fixture scale, and report the guard doing
    * its job as a hash-gated one-row summary: total buckets, buckets
    * dropped by the cap, the largest SURVIVING bucket (= the proven
    * bound on any pair-enumeration aggregate row), and the pair count
    * that remains. The oracle replays simhash, banding, cap, and pair
    * verification end to end.
    */
  def simhashCapped(spark: SparkSession, dir: String, maxHamming: Int = 9,
                    bucketCap: Long = SimhashCappedTier): DataFrame = {
    val sim = simhash(spark, dir)
    val blocks = sim.select(col("doc_id"),
      explode(expr(s"transform(sequence(0, ${HamBands - 1}), " +
        "b -> struct(b AS blk, shiftright(simhash, b*6) & 63 AS bval))")).as("bk"))
      .select(col("bk.blk").as("blk"), col("bk.bval").as("bval"))
    val dfStats = blocks.groupBy(col("blk"), col("bval"))
      .agg(count(lit(1)).as("df"))
      .agg(count(lit(1)).as("n_buckets"),
        count(when(col("df") > bucketCap, 1)).as("n_buckets_dropped"),
        max(when(col("df") <= bucketCap, col("df"))).as("max_kept_bucket"))
    val pairs = simhashPairsOn(sim, maxHamming, bucketCap)
      .agg(count(lit(1)).as("n_pairs"))
    dfStats.crossJoin(pairs)
  }

  /** [[minhashPairs]] behind the cross-query memo: dedup_minhash and
    * dedup_groups both consume the pair graph, one LSH join per run.
    */
  def minhashPairsShared(spark: SparkSession, dir: String, minJaccard: Double = 0.5): DataFrame =
    memoized(spark, dir, s"minhash_pairs_$minJaccard")(minhashPairs(spark, dir, minJaccard))

  /** Converged labels behind the cross-query memo: dedup_groups AND
    * pipeline_curate both consume the component labels, so the
    * label-propagation loop (actions included) runs ONCE
    * per (session, dir) registry run — without this, each caller re-ran
    * the whole convergence loop and the bench charged it to whichever
    * query arrived first.
    */
  def dupGroups(spark: SparkSession, dir: String, minJaccard: Double = 0.5): DataFrame =
    memoized(spark, dir, s"groups_$minJaccard")(dupGroupsUncached(spark, dir, minJaccard))

  /** Near-dup group resolution: connected components over the
    * MinHash-pair graph, labels = min doc_id of the component (canonical
    * doc), via the shared [[graft.graph.Components]] alternating
    * large-star/small-star module — O(log n) rounds independent of
    * component diameter (the 100 TB fix for chained-duplicate paths),
    * one driver scalar per round. All shuffles key on doc id.
    */
  private def dupGroupsUncached(spark: SparkSession, dir: String, minJaccard: Double): DataFrame =
    graft.graph.Components.labels(
      Tables.documents(spark, dir).select(col("doc_id")),
      minhashPairsShared(spark, dir, minJaccard).select(col("d1"), col("d2")),
      // near-dup pair graphs are tiny relative to the corpus (planted
      // dups only); per-round exchanges at session width are pure
      // scheduling overhead — at a 100 TB pair graph pass None
      partitions = Some(8))
      .select(col("doc_id"), col("label").as("canonical_id"))

  /** Duplicate-cluster size histogram — the dedup-quality metric a
    * pipeline tracks over time (how much of the corpus sits in clusters
    * of size 2, 3, …; size 1 = unique docs). Two keyed aggregates over
    * the memoized component labels; the oracle nests the dedup_groups
    * recursive-reachability replay and histograms it.
    */
  def groupSizeHistogram(spark: SparkSession, dir: String): DataFrame =
    dupGroups(spark, dir)
      .groupBy(col("canonical_id")).agg(count(lit(1)).as("group_size"))
      .groupBy(col("group_size")).agg(count(lit(1)).as("n_groups"))

  /** Canonical-representative selection — the step a real dedup pipeline
    * runs AFTER grouping: a near-dup cluster keeps its best-quality
    * member, not an arbitrary one (min-doc_id canonicals throw away the
    * cleanest copy whenever it isn't the oldest). Joins the memoized
    * component labels with the ta_quality heuristic score and picks the
    * per-group argmax, tie-broken to the lowest doc_id via a single
    * struct-max aggregate (max over (score, −doc_id) is highest score
    * then lowest id — no window sort). Output is full-corpus: every doc
    * with its group, the group's chosen representative, and a keep flag.
    *
    * Scale: labels and scores join on doc_id (one keyed shuffle each);
    * the argmax is a mergeable aggregate moving O(groups) rows; the
    * rejoin keys on the group label. Nothing is ever ordered globally.
    * Scores are exact-decimal-derived doubles (ta_quality's contract),
    * so the cross-engine argmax comparison is deterministic.
    */
  def keepBest(spark: SparkSession, dir: String): DataFrame = {
    val joined = dupGroups(spark, dir)
      .join(graft.analysis.TextAnalysis.qualityScore(spark, dir)
        .select(col("doc_id"), col("score")), "doc_id")
    val best = joined.groupBy(col("canonical_id"))
      .agg(max(struct(col("score"), (-col("doc_id")).as("neg_id"))).as("b"))
      .select(col("canonical_id"), (-col("b.neg_id")).as("best_doc"))
    joined.join(best, "canonical_id")
      .select(col("doc_id"), col("canonical_id"), col("best_doc"),
        (col("doc_id") === col("best_doc")).as("keep"))
  }

  /** Benchmark-contamination check — the training-data hygiene operator:
    * for every training document, the fraction of its word-3-gram
    * shingles that appear anywhere in the held-out eval set (here: the
    * md5-bucket "test" split of [[graft.operators.Skew.hashSplit]], so
    * membership is content-stable and oracle-replayable). The GPT-style
    * n-gram-overlap decontamination shape.
    *
    * Scale posture: eval benchmarks are tiny next to a 100 TB corpus, so
    * the distinct eval shingle keys are broadcast — the corpus-side scan
    * never shuffles; per-doc counts aggregate on doc_id only. Shingles
    * join on (xxhash64, length) like the Jaccard index (smaller rows,
    * negligible collision odds); the oracle replays in string space.
    */
  def contamination(spark: SparkSession, dir: String): DataFrame =
    // shared by dedup_contamination and pipeline_curate: the eval-key
    // broadcast + per-doc overlap aggregate run once per registry run
    memoized(spark, dir, "contamination")(contaminationUncached(spark, dir))

  private def contaminationUncached(spark: SparkSession, dir: String): DataFrame =
    contaminationOn(docShingles(spark, dir))

  /** [[contamination]] over an arbitrary (doc_id, sh) shingle frame —
    * the frame-parameterized core the ×10 composition tier
    * ([[graft.analysis.Curation.curateBig]]) drives with the inflated
    * shingle scan.
    */
  private[graft] def contaminationOn(shingles: DataFrame): DataFrame = {
    val bucket = expr(
      "pmod(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10), 100)")
    val tagged = shingles.withColumn("bucket", bucket)
    val evalKeys = tagged.where(col("bucket") >= 90)
      .select(explode(col("sh")).as("s"))
      .select(xxhash64(col("s")).as("s"), length(col("s")).as("sl"))
      .distinct()
    val train = tagged.where(col("bucket") < 90)
    val dirty = train.select(col("doc_id"), explode(col("sh")).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("s"), length(col("g")).as("sl"))
      .join(broadcast(evalKeys), Seq("s", "sl"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dirty"))
    train.select(col("doc_id"), size(col("sh")).cast("long").as("n_sh"))
      .join(dirty, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"),
        coalesce(col("n_dirty"), lit(0L)).as("n_dirty"),
        round(coalesce(col("n_dirty"), lit(0L)).cast("double") /
          col("n_sh").cast("double"), 6).as("dirty_frac"))
  }

  /** Passage-level exact dedup: word 8-gram passages appearing in two or
    * more DISTINCT documents — the substring-granularity counterpart of
    * document-level dedup (repeated boilerplate/quotation passages are
    * exactly what suffix-array corpus dedup removes; fixed-length n-gram
    * fingerprints are its standard scalable approximation). Per doc the
    * passage set is DISTINCT (one native shingle pass), so the aggregate
    * counts documents directly; one shuffle keyed on the passage.
    *
    * At 100 TB the same plan keys the aggregate on (xxhash64(passage),
    * length) — the Jaccard-index trick — and joins one example string
    * back for reporting; boilerplate-hot passages get the stop-shingle
    * df cap. Fixture scale ships the direct string key so the oracle
    * replays verbatim.
    */
  def dupPassages(spark: SparkSession, dir: String, n: Int = 8, minDocs: Int = 2): DataFrame =
    docPassages(spark, dir, n)
      .groupBy(col("passage"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .where(col("n_docs") >= minDocs)

  /** Memoized corpus prep (r10 verdict ask 6 — the boilerplate build was
    * the #2 ledger row largely from re-running this explode): the 8-gram
    * passage relation is referenced by [[dupPassages]] per rep AND twice
    * inside the [[boilerplate]] build (hot aggregate + membership probe);
    * one tokenize+shingle pass now serves all of them.
    */
  private def docPassages(spark: SparkSession, dir: String, n: Int): DataFrame =
    memoized(spark, dir, s"passages_$n") {
      // from the shared per-run tokenize memo (r11 ask 3)
      Text.tokensBase(spark, dir)
        .select(col("doc_id"),
          explode(graft.functions.ArrayExprs.wordShingles(col("tokens"), n))
            .as("passage"))
    }

  /** Variable-length passage dedup via CONTENT-DEFINED chunking (r7
    * verdict ask 7): [[dupPassages]] fingerprints every sliding 8-gram —
    * shift-invariant but |doc| index rows per doc; the fixed-cost
    * alternative (position-tiled blocks) is |doc|/8 rows but a prefix
    * shift misaligns every block. CDC is both: chunk boundaries are the
    * md5-gear of adjacent token PAIRS ([[graft.functions.ArrayExprs.CdcChunks]],
    * gear ≡ 0 mod `divisor`), so chunks re-align to content after any
    * offset shift at ~|doc|/divisor index rows. Aggregate shape is
    * [[dupPassages]] verbatim: per-doc distinct chunks, one shuffle
    * keyed on the chunk (at 100 TB: keyed on (xxhash64, length), same
    * note as dupPassages).
    */
  def cdcPassages(spark: SparkSession, dir: String,
                  divisor: Int = 8, minDocs: Int = 2): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(graft.functions.ArrayExprs.cdcChunks(Text.tokenize(col("text")), divisor))
          .as("passage"))
      .groupBy(col("passage"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .where(col("n_docs") >= minDocs)

  /** Per-document boilerplate fraction — the quality-filter signal the
    * passage aggregate exists to feed: of a document's distinct word
    * 8-gram passages, the share that also appears in ≥ `minDocs` distinct
    * documents (templated headers/footers/quotations score high; original
    * prose scores 0). Docs with fewer than n tokens have no passages and
    * are absent, matching [[dupPassages]].
    *
    * Plan shape (audited): the hot-passage set is an aggregate that
    * BROADCASTS to the membership probe — the corpus side never shuffles
    * for it (the [[contamination]] shape); the only exchanges are the
    * hot aggregate's own passage-keyed shuffle and the final doc_id
    * count pair. If the hot set outgrows broadcast at corpus scale the
    * join degrades gracefully to a passage-keyed shuffle join — still
    * keyed, never quadratic. The 6-dp ratio uses the [[contamination]]
    * rounding form (proven fp-portable under the hash gate). At 100 TB
    * the passage column keys on (xxhash64, length) exactly as documented
    * on [[dupPassages]].
    */
  def boilerplate(spark: SparkSession, dir: String, n: Int = 8, minDocs: Int = 2): DataFrame =
    // memoized like contamination: consumed by dedup_boilerplate,
    // pipeline_curate AND pipeline_source_report in one registry run
    memoized(spark, dir, s"boilerplate_${n}_$minDocs")(
      boilerplateUncached(spark, dir, n, minDocs))

  private def boilerplateUncached(spark: SparkSession, dir: String,
                                  n: Int, minDocs: Int): DataFrame = {
    // the hot aggregate and membership probe key on (xxhash64, length)
    // instead of the passage STRING — the exact keying the dupPassages
    // scaladoc prescribes for 100 TB, adopted here because this build
    // only needs per-doc counts, never the passage text: the hot shuffle
    // moves 16-byte keys instead of ~100-byte 8-gram strings. Collisions
    // would need equal xxhash64 at equal length (vanishing; and the
    // string-keyed oracle would fail the gate loudly if one ever landed)
    val pass = docPassages(spark, dir, n)
      .select(col("doc_id"), xxhash64(col("passage")).as("ph"),
        length(col("passage")).as("pl"))
    val hot = pass.groupBy(col("ph"), col("pl")).agg(count(lit(1)).as("nd"))
      .where(col("nd") >= minDocs)
    pass.join(hot, Seq("ph", "pl"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_passages"), count(col("nd")).as("n_boiler"))
      .select(col("doc_id"), col("n_passages"), col("n_boiler"),
        round(col("n_boiler").cast("double") / col("n_passages").cast("double"), 6)
          .as("boiler_frac"))
  }

  /** Incremental dedup — the production ingestion shape: a NEW batch of
    * documents (the md5-bucket ≥ 90 split, content-stable like
    * [[contamination]]'s eval set) deduplicated against the EXISTING
    * corpus (bucket < 90) without ever re-deduplicating the corpus
    * against itself. A batch doc is dropped when its content fingerprint
    * already exists in the corpus (exact) or a corpus doc verifies at
    * Jaccard ≥ minJaccard among its LSH band-bucket candidates (near).
    *
    * Scale posture: this is the shape that makes 100 TB ingestion
    * tractable — per increment the corpus side contributes only its
    * (fp) and (band, key) index rows (both persistable artifacts of the
    * previous run), every join is an equi-join keyed on fp / band
    * bucket / doc id, and the exact-verify join touches candidates
    * only. Cost scales with batch × collision rate, not corpus².
    *
    * `bloomExact = true` routes the exact-fingerprint membership check
    * through a bloom of the corpus fingerprints (the op_bloom_join
    * runtime-filter composition): at 100 TB the corpus fp relation is
    * batch-side-dwarfing, and the bloom — a persistable artifact of the
    * previous run, O(bits) regardless of corpus size — lets the
    * overwhelmingly-novel batch skip the membership shuffle entirely;
    * only bloom HITS (true dups + the bounded FP fraction) reach the
    * exact semi-join, which removes false positives, so the output is
    * identical to the exact form and shares its oracle.
    */
  def incremental(spark: SparkSession, dir: String, minJaccard: Double = 0.5,
                  bloomExact: Boolean = false): DataFrame =
    incrementalOn(spark, dir, corpusFpsFrame(spark, dir),
      corpusBandsFrame(spark, dir), corpusShFrame(spark, dir),
      minJaccard, bloomExact)

  /** [[incremental]] with the corpus-side index served from PERSISTED
    * Parquet artifacts (r8): the fp set, band table, and corpus shingle
    * sets — the "persistable artifacts of the previous run" the
    * incremental contract always described — are now genuinely written
    * once and reloaded as fresh scans, so the ingestion batch provably
    * runs against stored index bytes, never a live corpus re-scan.
    * Identical output, same oracle.
    */
  def incrementalPersisted(spark: SparkSession, dir: String,
                           minJaccard: Double = 0.5): DataFrame =
    incrementalOn(spark, dir,
      graft.Caches.parquetArtifact(spark, dir, "dedup/corpus_fps")(
        corpusFpsFrame(spark, dir)),
      graft.Caches.parquetArtifact(spark, dir, "dedup/corpus_bands")(
        corpusBandsFrame(spark, dir)),
      graft.Caches.parquetArtifact(spark, dir, "dedup/corpus_shingles")(
        corpusShFrame(spark, dir)),
      minJaccard, bloomExact = false)

  private val bucketExpr =
    "pmod(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10), 100)"

  /** The corpus-side fp set — split membership is a pure function of
    * doc_id (content-stable md5 bucket), so the filter is narrow.
    * `private[graft]`: the streaming-curation sink
    * ([[graft.streaming.Streaming]]) serves the same index to its
    * micro-batches.
    */
  // The three corpus-index relations are MEMOIZED (the ≥2-consumer
  // rule): each serves dedup_incremental{,_bloom,_persisted}, st_curate
  // AND st_curate_seq in one registry run — unmemoized, the band index
  // recomputed the 60-hash MinHash signatures of the whole corpus once
  // per consumer.
  private[graft] def corpusFpsFrame(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, dir, "incr_fps")(
      Tables.documents(spark, dir)
        .select(md5(col("text")).as("fp"), expr(bucketExpr).as("bucket"))
        .where(col("bucket") < 90).select(col("fp")).distinct())

  /** Corpus shingle sets (doc_id, sh) — narrow filter on the memoized
    * shingle scan; the candidate-verify side of the corpus index.
    */
  private[graft] def corpusShFrame(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, dir, "incr_sh")(
      docShingles(spark, dir).withColumn("bucket", expr(bucketExpr))
        .where(col("bucket") < 90).drop("bucket"))

  /** The corpus LSH band index (doc_id, band, key). */
  private[graft] def corpusBandsFrame(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, dir, "incr_bands")(
      bandBuckets(corpusShFrame(spark, dir)))

  /** Shingle frame straight from an arbitrary (doc_id, text) frame — the
    * un-memoized twin of [[docShingles]] for inputs that exist only for
    * one pass (a streaming micro-batch, where memoizing by (session, dir)
    * would serve batch 0's shingles to every later batch).
    */
  private[graft] def shinglesOn(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.ArrayExprs.wordShingles(
          Text.tokenize(col("text")), 3).as("sh"))
      .filter(size(col("sh")) > 0)

  /** The batch-side slice of the live table (md5 bucket ≥ 90) — the
    * "new data" both [[incremental]] and the streaming-curation spec
    * ingest, exposed so the spec can stream EXACTLY the rows the
    * hash-gated batch form processes.
    */
  private[graft] def ingestBatchFrame(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), expr(bucketExpr).as("bucket"))
      .where(col("bucket") >= 90)

  /** The ingestion core over EXPLICIT corpus-index relations —
    * `corpusFps` (fp), `corpusBands` (doc_id, band, key), `corpusSh`
    * (doc_id, sh) — shared by the in-session forms and the
    * persisted-artifact form. The batch side always derives from the
    * live table (it IS the new data).
    */
  private def incrementalOn(spark: SparkSession, dir: String,
                            corpusFps: DataFrame, corpusBands: DataFrame,
                            corpusSh: DataFrame, minJaccard: Double,
                            bloomExact: Boolean): DataFrame = {
    // batch shingles ride the memoized corpus-wide shingle scan (narrow
    // bucket filter) — the batch is a slice of the live table here, so
    // the scan is shared with every other dedup consumer in the run
    val batchSh = docShingles(spark, dir).withColumn("bucket", expr(bucketExpr))
      .where(col("bucket") >= 90).drop("bucket")
    incrementalBatchOn(ingestBatchFrame(spark, dir), batchSh,
      corpusFps, corpusBands, corpusSh, minJaccard, bloomExact)
  }

  /** The ingestion core over an EXPLICIT batch — `batchDocs` (doc_id,
    * text) and its shingle frame `batchSh` (doc_id, sh) — against the
    * corpus-index relations. [[incrementalOn]] feeds it the bucket-split
    * slices; the streaming-curation sink feeds it one micro-batch at a
    * time ([[graft.streaming.Streaming]]'s foreachBatch), which is why
    * the batch side is a parameter and not a scan of the live table.
    */
  private[graft] def incrementalBatchOn(batchDocs: DataFrame, batchSh: DataFrame,
                                        corpusFps: DataFrame, corpusBands: DataFrame,
                                        corpusSh: DataFrame, minJaccard: Double,
                                        bloomExact: Boolean): DataFrame = {
    val batch = batchDocs
    val batchFps = batch.select(col("doc_id"), md5(col("text")).as("fp"))
    val exactProbe =
      if (bloomExact)
        graft.operators.RuntimeFilter.bloomPruned(
          batchFps, "fp", corpusFps, "fp", estItems = 100000L)
      else batchFps
    val exactDup = exactProbe
      .join(corpusFps, Seq("fp"), "left_semi")
      .select(col("doc_id"), lit(true).as("exact_dup"))

    val cand = bandBuckets(batchSh).toDF("doc_id", "band", "key")
      .join(corpusBands.toDF("cid", "band2", "key2"),
        col("band") === col("band2") && col("key") === col("key2"))
      .select(col("doc_id"), col("cid")).distinct()
    val nearDup = cand
      .join(batchSh.toDF("doc_id", "sh1"), "doc_id")
      .join(corpusSh.toDF("cid", "sh2"), "cid")
      .where(round(size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
        size(array_union(col("sh1"), col("sh2"))).cast("double"), 6) >= minJaccard)
      .select(col("doc_id")).distinct()
      .withColumn("near_dup", lit(true))

    batch.select(col("doc_id"))
      .join(exactDup, Seq("doc_id"), "left")
      .join(nearDup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("exact_dup"), lit(false)).as("exact_dup"),
        coalesce(col("near_dup"), lit(false)).as("near_dup"))
      .withColumn("keep", !col("exact_dup") && !col("near_dup"))
  }

  private val tokSql =
    graft.text.Text.TokSql

  // Shared oracle CTE: distinct word-3-gram shingles per doc of a
  // (doc_id, text) source.
  private def shSql(docs: String = "documents"): String =
    s"""sh AS (
          SELECT doc_id, ${graft.OracleSql.shingle3("w")} AS s
          FROM (SELECT doc_id, $tokSql AS w FROM $docs)
          WHERE len(w) >= 3)"""

  /** The dedup_groups replay (recursive min-label reachability over the
    * ≥0.5-jaccard pair graph) — shared verbatim by the dedup_groups row
    * and the group-size histogram's nested subquery.
    */
  private val groupsOracle: String =
    s"""WITH RECURSIVE ${shSql()},
        pairs AS (${jaccardPairsSql(0.5)}),
        edges AS (SELECT d1 AS a, d2 AS b FROM pairs
                  UNION ALL SELECT d2, d1 FROM pairs),
        ${graft.OracleSql.minLabelReach("documents", "doc_id", "edges")}
        SELECT v AS doc_id, min(r) AS canonical_id FROM reach GROUP BY v"""

  private def jaccardOracle(minJ: Double): String =
    s"""WITH ${shSql()}
        ${jaccardPairsSql(minJ)}"""

  /** Every doc pair `(d1 < d2, jaccard)` of a shingle-set CTE
    * `sh(doc_id, s)` whose round-6 set Jaccard is at least `minJ`: the
    * exact all-pairs replay under the n-gram, groups and curation oracles.
    */
  private[graft] def jaccardPairsSql(minJ: Double): String =
    s"""SELECT d1, d2, jaccard FROM (
          SELECT a.doc_id AS d1, b.doc_id AS d2,
                 round(len(list_intersect(a.s, b.s))::DOUBLE /
                       len(list_distinct(a.s || b.s)), 6) AS jaccard
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        WHERE jaccard >= $minJ"""

  /** Full replay of [[ngramSkew]]: the inflation + boilerplate corpus
    * rebuilt in SQL (identical arithmetic and word-for-word templates),
    * shingled, then the df stats computed analytically and the capped
    * join ([[cappedJoinCtes]]) run for real — every number in the one
    * summary row is hash-compared. Sums over BIGINT go HUGEINT in DuckDB,
    * hence the explicit casts; `//` is DuckDB's integer division (Spark
    * `DIV`).
    */
  private def skewOracle(minJ: Double, cap: Long, replicas: Int): String =
    s"""WITH inflated AS (
          SELECT doc_id,
                 text ||
                 (CASE WHEN src_id % 2 = 0 THEN '$BoilerA' ELSE '' END) ||
                 (CASE WHEN src_id % 5 = 0 THEN '$BoilerB' ELSE '' END) ||
                 ' sponsored by partner ' ||
                 chr(CAST(97 + (src_id % 200) // 26 AS INTEGER)) ||
                 chr(CAST(97 + (src_id % 200) % 26 AS INTEGER)) || ' network' AS text
          FROM ${graft.OracleSql.inflatedDocs(replicas)}),
        ${shSql("inflated")},
        ${cappedJoinCtes(cap)},
        stats AS (
          SELECT CAST(count(*) AS BIGINT) AS n_shingle_keys,
                 CAST(count(CASE WHEN df > $cap THEN 1 END) AS BIGINT) AS n_hot_keys,
                 CAST(sum(df * (df - 1) // 2) AS BIGINT) AS cand_uncapped,
                 CAST(sum(CASE WHEN df <= $cap THEN df * (df - 1) // 2
                               ELSE 0 END) AS BIGINT) AS cand_capped
          FROM dft),
        p AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM v WHERE j >= $minJ),
        d AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM sh)
        SELECT n_docs, n_shingle_keys, n_hot_keys, cand_uncapped, cand_capped, n_pairs
        FROM d, stats, p"""

  /** The shared CTE chain of the portable-family big tier — the
    * inflated corpus ([[graft.OracleSql.inflatedDocs]]), tokenize+shingle,
    * 60-bit md5 base hashes, mod-p permutation signature, Horner band
    * keys, and the DISTINCT band-candidate join — reused verbatim by
    * [[minhashBigOracle]] and the pipeline_curate_big oracle
    * (Curation.scala), so the two gates can never drift apart on the LSH
    * replay.
    */
  private[graft] def portableBandCtes(replicas: Int): String = {
    val sigExpr =
      s"""[list_min(list_transform(hl, h ->
            ((((i+1) * 2654435761) % $PortP) * (h % $PortP)
              + ((i+1) * 97531) % $PortP) % $PortP))
          for i in generate_series(0, ${NumHashes - 1})]"""
    val keyExpr = hornerKey(k => s"sg[b * $RowsPerBand + $k]")
    s"""inflated AS (SELECT doc_id, text FROM ${graft.OracleSql.inflatedDocs(replicas)}),
        ${shSql("inflated")},
        hs AS (
          SELECT doc_id, list_distinct(list_transform(s,
                   g -> CAST('0x' || substr(md5(g), 2, 15) AS BIGINT))) AS hl
          FROM sh),
        sigs AS (SELECT doc_id, $sigExpr AS sg FROM hs),
        bands AS (
          SELECT doc_id, b, $keyExpr AS key
          FROM sigs, generate_series(0, ${Bands - 1}) AS t(b)),
        cand AS (
          SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
          FROM bands x JOIN bands y
            ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id)"""
  }

  /** Full replay of [[minhashBigPortable]] as a chained CTE: the ×10
    * inflation arithmetic, tokenize+shingle, 60-bit md5 base hashes,
    * the 64-permutation mod-p signature, 16×4 Horner band keys, the
    * band bucket-join with d1 < d2 + DISTINCT, and the exact
    * set-Jaccard verify — every count in the one summary row is
    * hash-compared. The Horner key expression is emitted by the SAME
    * [[hornerKey]] builder the Spark lambda uses.
    */
  private def minhashBigOracle(minJ: Double, replicas: Int): String = {
    s"""WITH ${portableBandCtes(replicas)},
        ver AS (
          SELECT len(list_intersect(h1.hl, h2.hl))::DOUBLE /
                 len(list_distinct(h1.hl || h2.hl)) AS j
          FROM cand JOIN hs h1 ON cand.d1 = h1.doc_id
                    JOIN hs h2 ON cand.d2 = h2.doc_id)
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM sh) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_candidates,
               CAST(count(CASE WHEN j >= $minJ THEN 1 END) AS BIGINT) AS n_pairs
        FROM ver"""
  }

  /** Full replay of [[ngramCappedBig]]: the ×10 inflated corpus,
    * tokenize+shingle, then the [[cappedJoinCtes]] chain (df cap,
    * inverted-index self-join on the raw shingle string, round-6
    * Jaccard), all folded to the one summary row.
    */
  private def ngramCappedBigOracle(minJ: Double, cap: Long, replicas: Int): String =
    s"""WITH ${shSql(graft.OracleSql.inflatedDocs(replicas))},
        ${cappedJoinCtes(cap)}
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM sh) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_candidates,
               CAST(count(CASE WHEN j >= $minJ THEN 1 END) AS BIGINT) AS n_pairs
        FROM v"""

  /** Replay of [[ngramJaccardPairs]] WITH the stop-shingle df cap: the
    * inverted index drops shingles with df > cap before the self-join
    * (intersections undercount), while denominators keep the full
    * per-doc shingle counts — the conservative-undercount semantics the
    * cap promises.
    */
  private def cappedJaccardOracle(minJ: Double, cap: Long): String =
    s"""WITH ${shSql()},
        ${cappedJoinCtes(cap)}
        SELECT d1, d2, j AS jaccard FROM v WHERE j >= $minJ"""

  /** The distinct 8-token passages of each doc of a `(doc_id, toks)`
    * relation with at least 8 tokens — the passage table of the passage,
    * boilerplate and curation-pipeline replays.
    */
  private[graft] def passagesSql(toks: String): String =
    s"""SELECT doc_id,
               unnest(list_distinct([array_to_string(toks[i:i+7], ' ')
                      for i in generate_series(1, len(toks) - 7)])) AS passage
        FROM $toks WHERE len(toks) >= 8"""

  /** The simhash replay as CTEs: `hs` (each doc's 60-bit md5 token
    * hashes, duplicates kept) and `sim(doc_id, simhash)` (bit j set iff
    * the ±1 vote of bit j over the doc's hashes is positive) — shared by
    * the three simhash oracles.
    */
  private lazy val simhashCtes =
    s"""hs AS (
          SELECT doc_id, list_transform($tokSql,
            w -> CAST('0x' || substr(md5(w), 2, 15) AS BIGINT)) AS hl
          FROM documents),
        sim AS (
          SELECT doc_id, CAST(list_sum(
            [CASE WHEN list_sum(list_transform(hl,
                    h -> ((h // (2**j)::BIGINT) % 2) * 2 - 1)) > 0
                  THEN (2**j)::BIGINT ELSE 0 END
             for j in generate_series(0, ${SimBits - 1})]) AS BIGINT) AS simhash
          FROM hs)"""

  /** The capped inverted-index self-join over a shingle-set CTE
    * `sh(doc_id, s)`, as CTEs: `ex` (one row per doc shingle), `dft`
    * (shingle df), `keep`/`exk` (shingles with df ≤ `cap`), `i` (pair
    * intersections over the kept shingles), `n` (full per-doc shingle
    * counts) and `v(d1, d2, j)`, the round-6 Jaccard of every candidate
    * pair — the replay of [[jaccardFromIndex]] shared by the capped, skew
    * and ×10 capped oracles.
    */
  private def cappedJoinCtes(cap: Long): String =
    s"""ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
        dft AS (SELECT g, count(*) AS df FROM ex GROUP BY g),
        keep AS (SELECT g FROM dft WHERE df <= $cap),
        exk AS (SELECT doc_id, g FROM ex JOIN keep USING (g)),
        i AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_int
              FROM exk a JOIN exk b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id),
        n AS (SELECT doc_id, len(s) AS n_sh FROM sh),
        v AS (SELECT d1, d2, round(n_int::DOUBLE / (n1.n_sh + n2.n_sh - n_int), 6) AS j
              FROM i JOIN n n1 ON i.d1 = n1.doc_id JOIN n n2 ON i.d2 = n2.doc_id)"""

  /** Longest duplicated substring over the corpus (dedup_longest_dup) —
    * the EXACT query the fixed-length passage dedup ([[dupPassages]])
    * approximates, and the one a suffix array over the concatenated
    * corpus answers directly (the substring-dedup construction of
    * "Deduplicating Training Data Makes Language Models Better", Lee
    * et al. 2021). Spark-first re-expression: binary search on the
    * MONOTONE predicate "some substring of length L occurs ≥ 2 times"
    * (a duplicate of length L contains duplicates of every shorter
    * length), each probe one distributed pass:
    *
    *   explode L-grams → groupBy xxhash64(gram), count ≥ 2 (8-byte
    *   shuffle keys, not L-byte strings) → semi-join the collision
    *   buckets back and re-group by the GRAM ITSELF — a 64-bit
    *   collision can never fabricate a duplicate, so the answer is
    *   exact while only collision-bucket members ever shuffle as
    *   strings.
    *
    * O(log maxDocLen) probes total — bounded by DOCUMENT length, not
    * corpus size — each linear in corpus chars, vs the suffix array's
    * one global O(n log n) sort: the probe form needs no
    * order-preserving corpus-wide index and every stage is a plain
    * hash shuffle. Overlapping occurrences count, mirroring
    * suffix-array semantics ("mmmm" contains "mmm" twice). Output: the
    * top `topN` duplicated substrings at the maximal length as
    * (len, substring, n_occ, n_docs), ordered n_occ desc then
    * substring asc — deterministic, hash-gated against a DuckDB
    * recursive-CTE binary-search replay.
    */
  def longestDupSubstring(spark: SparkSession, dir: String, topN: Int = 20): DataFrame =
    longestDupOn(
      memoized(spark, dir, "lds_docs")(
        Tables.documents(spark, dir).select(col("doc_id"), col("text"))),
      topN,
      // stable ledger key for the fixture path (r15): the identityHashCode
      // fallback changes across releaseAll(), so the bench's quiet-retime
      // pass could never match this row — the one build whose wall rides
      // the DRIVER-SEQUENTIAL probe ladder, which queues behind the
      // saturated prebuild pool and published 85 s for a ~2 s ladder
      keyTag = Some(dir))

  /** Core over an arbitrary (doc_id, text) frame — spec-tested on
    * planted corpora (overlap semantics, tie order) independently of
    * the fixture.
    */
  private[graft] def longestDupOn(docs: DataFrame, topN: Int = 20,
                                  keyTag: Option[String] = None): DataFrame = {
    def grams(l: Int): DataFrame =
      docs.where(length(col("text")) >= l)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(1), length(col("text")) - l + 1)).as("pos"))
        .select(col("doc_id"), expr(s"substring(text, pos, $l)").as("sub"))
    // duplicated l-grams with exact counts (the output pass)
    def dupGrams(l: Int): DataFrame = {
      val g = grams(l)
      val dupH = g.groupBy(xxhash64(col("sub")).as("h"))
        .agg(count(lit(1)).as("c")).where(col("c") >= 2)
        .select(col("h"))
      g.withColumn("h", xxhash64(col("sub")))
        .join(dupH, Seq("h"), "left_semi")
        .groupBy(col("sub"))
        .agg(count(lit(1)).as("n_occ"),
          countDistinct(col("doc_id")).as("n_docs"))
        .where(col("n_occ") >= 2)
    }
    // existence probe (r15 build-cost cut, guide §1.2): a duplicated
    // l-gram implies a duplicated 64-bit hash, so an EMPTY hash-collision
    // table refutes "some l-substring occurs ≥ 2 times" after ONE narrow
    // pass (gram explode + 8-byte shuffle keys). Only when collisions
    // exist does the probe pay the second, string-carrying verify pass
    // (a 64-bit collision can fabricate a candidate hash, never a real
    // duplicate — same exactness argument as the output pass). Before,
    // every probe ran dupGrams(l).isEmpty: TWO gram explosions plus a
    // full-string semi-join shuffle even for probes doomed to fail, and
    // about half of a binary search's probes fail. Probe answers are
    // UNCHANGED for every l, so the search protocol and the memoized
    // length are identical.
    def hasDup(l: Int): Boolean = {
      val g = grams(l)
      val dupH = g.groupBy(xxhash64(col("sub")).as("h"))
        .agg(count(lit(1)).as("c")).where(col("c") >= 2)
        .select(col("h"))
      if (dupH.isEmpty) false
      else !g.withColumn("h", xxhash64(col("sub")))
        .join(dupH, Seq("h"), "left_semi")
        .groupBy(col("sub")).agg(count(lit(1)).as("n_occ"))
        .where(col("n_occ") >= 2)
        .isEmpty
    }
    // bracket: [longest exactly-duplicated full text, longest text].
    // The lower-bound seed is one NARROW pass (md5 of each text, no gram
    // explosion): an identical-twin document of length n IS a duplicated
    // n-substring, and on dedup-shaped corpora that bound lands close to
    // the answer, collapsing the search to a handful of probes at large
    // L (where grams-per-doc ≈ len−L+1 is small) instead of paying the
    // corpus-chars-sized probes at small L. No L=1 guard probe: if the
    // corpus has no duplicate at all, every probe fails, lo stays 1, and
    // dupGrams(1) below is itself the (empty) answer — the guard would
    // be the single most expensive pass (|corpus chars| 1-grams) spent
    // on the rarest outcome.
    // The binary search is CORPUS PREP (a scalar property of the corpus,
    // like the dup-group labels): each probe explodes every ≥mid-length
    // substring of every doc, and re-running the whole ~log₂(hi−lo)
    // probe ladder per bench rep measured ~1.3 s of the query's 1.9 s
    // (r14 optimization). The found length is memoized as a 1-row frame
    // — probe cost lands on the `build:dedup:lds_len_*` ledger row —
    // and the per-rep query is the one dupGrams(L) pass that produces
    // the output. The search protocol itself is unchanged.
    val spark = docs.sparkSession
    // callers with a content-stable tag (the registry path) get a stable
    // ledger key; ad-hoc spec frames fall back to identity, where retime
    // matching doesn't matter (no bench ledger in tests)
    val lenKey = keyTag match {
      case Some(tag) => s"lds_len_${java.security.MessageDigest.getInstance("MD5")
        .digest(tag.getBytes).map("%02x".format(_)).mkString.take(12)}"
      case None => s"lds_len_${System.identityHashCode(docs)}"
    }
    val lenRow = graft.Caches.memoized(spark, "", lenKey) {
      val bounds = docs.groupBy(md5(col("text")).as("fp"))
        .agg(count(lit(1)).as("c"), max(length(col("text"))).as("l"))
        .agg(max(when(col("c") >= 2, col("l"))).as("lo"), max(col("l")).as("hi"))
        .head()
      if (bounds.isNullAt(1)) { // empty corpus
        spark.range(1).select(lit(-1).as("len"))
      } else {
        var lo = if (bounds.isNullAt(0)) 1 else math.max(1, bounds.getInt(0))
        var hi = bounds.getInt(1)
        while (lo < hi) {
          val mid = (lo + hi + 1) / 2
          if (hasDup(mid)) lo = mid else hi = mid - 1
        }
        spark.range(1).select(lit(lo).as("len"))
      }
    }
    val lo = lenRow.head().getInt(0)
    if (lo < 0) { // empty corpus
      docs.select(lit(0).as("len"), col("text").as("substring"),
        lit(0L).as("n_occ"), lit(0L).as("n_docs")).limit(0)
    } else {
      dupGrams(lo)
        .select(lit(lo).as("len"), col("sub").as("substring"),
          col("n_occ"), col("n_docs"))
        .orderBy(col("n_occ").desc, col("substring"))
        .limit(topN)
    }
  }

  /** The registered cap for dedup_ngram_capped: at sf0.01 the corpus has
    * 615 shingles with df > 3 (max df 7), so the cap genuinely prunes
    * the hot end of the index while the planted near-dup pairs (which
    * share mostly df-2 shingles) survive.
    */
  val StopShingleDf = 3L

  /** Near-dup pairs by SHARED WINNOWING FINGERPRINTS (the MOSS pair
    * report): docs sharing ≥ minShared of ta_winnow's window-min
    * fingerprints. Winnowing's guarantee makes this the
    * substring-overlap detector among the pair generators (any common
    * run of ≥ k+w−1 tokens must share a fingerprint, so long quotes
    * can't hide between fixed strides); the join is the standard
    * fingerprint inverted index — never n² — with a df cap as the
    * boilerplate-fingerprint skew guard (the dedup_ngram_capped
    * discipline), and the fingerprint table is the shared ta:winnow
    * memo.
    */
  def winnowPairs(spark: SparkSession, dir: String,
                  minShared: Int = 3, dfCap: Int = 50): DataFrame = {
    val fps = graft.analysis.TextAnalysis.winnow(spark, dir)
      .select(col("doc_id"), col("fp")).distinct()
    val hot = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .where(col("df") > dfCap).select(col("fp"))
    val cold = fps.join(hot, Seq("fp"), "left_anti")
    cold.select(col("doc_id").as("d1"), col("fp"))
      .join(cold.select(col("doc_id").as("d2"), col("fp")), Seq("fp"))
      .where(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_winnow_pairs" -> ((s, d) => winnowPairs(s, d)),
    "dedup_exact"         -> ((s, d) => exact(s, d)),
    "dedup_exact_norm"    -> ((s, d) => exactNormalizedGate(s, d)),
    "dedup_ngram_jaccard" -> ((s, d) => ngramJaccardPairs(s, d)),
    // the 100 TB skew guard ON and oracle-gated: stop shingles with
    // df > StopShingleDf leave the inverted index before the self-join
    "dedup_ngram_capped"  -> ((s, d) =>
      ngramJaccardPairs(s, d, maxShingleDf = Some(StopShingleDf))),
    "dedup_minhash"       -> ((s, d) => minhashPairsShared(s, d)),
    // boilerplate-skew tier: the cap measured doing its job (hash-gated
    // one-row summary; cand_uncapped is analytic — see ngramSkew)
    "dedup_ngram_skew"    -> ((s, d) => ngramSkew(s, d)),
    // measurement tier at 10× corpus, HASH-GATED via the portable md5
    // mod-p family (chained-CTE oracle); the xxhash64 production family
    // is gated at fixture scale as dedup_minhash — see minhashBigPortable
    "dedup_minhash_big"   -> ((s, d) => minhashBigPortable(s, d)),
    // scaling-slope tier: the capped inverted-index Jaccard at ×10,
    // cap scaled with the inflation (see ngramCappedBig)
    "dedup_ngram_capped_big" -> ((s, d) => ngramCappedBig(s, d)),
    "dedup_simhash"       -> ((s, d) => simhash(s, d)),
    "dedup_simhash_pairs" -> ((s, d) => simhashPairs(s, d)),
    // the hot-bucket guard measured doing its job: cap below the
    // fixture's max bucket, one-row summary (see simhashCapped)
    "dedup_simhash_capped" -> ((s, d) => simhashCapped(s, d, bucketCap = SimhashCappedTier)),
    "dedup_groups"        -> ((s, d) => dupGroups(s, d)),
    "dedup_group_sizes"   -> ((s, d) => groupSizeHistogram(s, d)),
    "dedup_keep_best"     -> ((s, d) => keepBest(s, d)),
    "dedup_contamination" -> ((s, d) => contamination(s, d)),
    "dedup_incremental"   -> ((s, d) => incremental(s, d)),
    // the corpus index (fp set, band table, shingle sets) served from
    // reloaded Parquet artifacts — identical output, same oracle
    "dedup_incremental_persisted" -> ((s, d) => incrementalPersisted(s, d)),
    // the bloom-runtime-filter composition; output-identical by the
    // zero-false-negative + exact-verify contract, so it shares the
    // exact form's oracle below
    "dedup_incremental_bloom" -> ((s, d) => incremental(s, d, bloomExact = true)),
    "dedup_passages"      -> ((s, d) => dupPassages(s, d)),
    // C4-style line-level dedup over the planted multi-line fixture
    // (see linesFixture — the raw corpus has no newlines); the stats
    // table is the shared memo (see dedupLines)
    "dedup_lines"         -> ((s, d) => dedupLines(s, d)),
    "dedup_cdc_passages"  -> ((s, d) => cdcPassages(s, d)),
    "dedup_overlap_pairs" -> ((s, d) => overlapPairs(s, d)),
    "dedup_boilerplate"   -> ((s, d) => boilerplate(s, d)),
    // exact longest duplicated substring via binary-searched gram
    // probes — the suffix-array query, re-expressed as log(docLen)
    // hash-shuffle passes (see longestDupSubstring)
    "dedup_longest_dup"   -> ((s, d) => longestDupSubstring(s, d)),
  )

  val oracles: Map[String, String] = Map(
    "dedup_winnow_pairs" ->
      s"""WITH fpt AS (SELECT DISTINCT doc_id, fp FROM
            (${graft.analysis.TextAnalysis.winnowOracleSql})),
          hot AS (SELECT fp FROM fpt GROUP BY fp HAVING count(*) > 50),
          cold AS (SELECT * FROM fpt WHERE fp NOT IN (SELECT fp FROM hot))
          SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_shared
          FROM cold a JOIN cold b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
          HAVING count(*) >= 3""",
    "dedup_exact" ->
      """SELECT doc_id, md5(text) AS fp,
                min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
                count(*) OVER (PARTITION BY md5(text)) AS group_size
         FROM documents""",
    // normalized fingerprint: lowercase, collapse whitespace runs, trim —
    // DuckDB needs the 'g' flag for replace-all (Spark's default); the
    // whitespace class is pinned explicitly (same literal as the Spark
    // side) because Java's \s and RE2's \s disagree on vertical tab.
    // The injection CTE replays [[normFixture]]: planted vertical-tab
    // (chr(11)) / form-feed / tab / case variants whose nfp values flow
    // through the hash gate, so a whitespace-class regression fails
    // loudly instead of latently
    "dedup_exact_norm" ->
      """WITH docs AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 17 = 0 THEN
                    (CASE WHEN doc_id % 34 = 0
                          THEN 'SHARED' || chr(11) || 'BOILER' || chr(9) || chr(9) || 'PLATE '
                          ELSE 'shared' || chr(11) || 'boiler' || chr(9) || chr(9) || 'plate ' END)
                    || CAST(doc_id % 3 AS VARCHAR)
                    || repeat(' ', CAST(doc_id % 4 AS INTEGER))
                    || CASE WHEN doc_id % 2 = 0 THEN chr(12) || chr(11) ELSE '' END
                  ELSE text END AS text
           FROM documents)
         SELECT doc_id, md5(text) AS fp,
                md5(trim(regexp_replace(lower(text), '[ \t\n\r\f\x0B]+', ' ', 'g'))) AS nfp,
                min(doc_id) OVER (PARTITION BY md5(trim(regexp_replace(lower(text), '[ \t\n\r\f\x0B]+', ' ', 'g')))) AS canonical_id,
                count(*) OVER (PARTITION BY md5(trim(regexp_replace(lower(text), '[ \t\n\r\f\x0B]+', ' ', 'g')))) AS group_size
         FROM docs""",
    "dedup_ngram_jaccard" -> jaccardOracle(0.2),
    "dedup_ngram_capped"  -> cappedJaccardOracle(0.2, StopShingleDf),
    "dedup_ngram_skew"    -> skewOracle(0.2, SkewCap, 3),
    "dedup_minhash"       -> jaccardOracle(0.5),
    "dedup_minhash_big"   -> minhashBigOracle(0.5, 10),
    "dedup_ngram_capped_big" -> ngramCappedBigOracle(0.2, StopShingleDf * 10, 10),
    // connected components over the ≥0.5-jaccard pair graph via a
    // recursive CTE; canonical = min reachable doc_id
    "dedup_groups" -> groupsOracle,
    "dedup_group_sizes" ->
      s"""WITH lab AS ($groupsOracle)
          SELECT group_size, count(*) AS n_groups FROM (
            SELECT canonical_id, count(*) AS group_size
            FROM lab GROUP BY canonical_id)
          GROUP BY group_size""",
    // keep-best replay: quality score from the ta_quality oracle, argmax
    // = max score then min doc_id among the max-score rows
    "dedup_keep_best" ->
      s"""WITH lab AS ($groupsOracle),
          q AS (SELECT doc_id, score
                FROM (${graft.analysis.TextAnalysis.oracles("ta_quality")})),
          j AS (SELECT lab.doc_id, lab.canonical_id, q.score
                FROM lab JOIN q USING (doc_id)),
          mx AS (SELECT canonical_id, max(score) AS ms FROM j
                 GROUP BY canonical_id),
          best AS (SELECT j.canonical_id, min(j.doc_id) AS best_doc
                   FROM j JOIN mx ON j.canonical_id = mx.canonical_id
                                 AND j.score = mx.ms
                   GROUP BY j.canonical_id)
          SELECT j.doc_id, j.canonical_id, b.best_doc,
                 (j.doc_id = b.best_doc) AS keep
          FROM j JOIN best b USING (canonical_id)""",
    "dedup_simhash" ->
      s"""WITH $simhashCtes
          SELECT doc_id, simhash FROM sim""",
    "dedup_simhash_pairs" ->
      s"""WITH $simhashCtes
          SELECT a.doc_id AS d1, b.doc_id AS d2,
                 bit_count(xor(a.simhash, b.simhash)) AS hamming
          FROM sim a JOIN sim b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 9""",
    // full replay of the CAPPED simhash tier: simhash → 10×6-bit band
    // blocks → bucket df cap → candidate pairs within kept buckets →
    // hamming verify, reduced to the one-row guard summary
    "dedup_simhash_capped" ->
      s"""WITH $simhashCtes,
          blocks AS (
            SELECT doc_id, simhash, j AS blk,
                   (simhash // (2**(6*j))::BIGINT) % 64 AS bval
            FROM sim, generate_series(0, ${HamBands - 1}) t(j)),
          bdf AS (SELECT blk, bval, count(*) AS df
                  FROM blocks GROUP BY blk, bval),
          kept AS (SELECT b.doc_id, b.simhash, b.blk, b.bval
                   FROM blocks b JOIN bdf USING (blk, bval)
                   WHERE bdf.df <= $SimhashCappedTier),
          pr AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                 FROM kept a JOIN kept b
                   ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id
                 WHERE bit_count(xor(a.simhash, b.simhash)) <= 9)
          SELECT (SELECT count(*) FROM bdf) AS n_buckets,
                 (SELECT count(*) FROM bdf WHERE df > $SimhashCappedTier)
                   AS n_buckets_dropped,
                 (SELECT max(df) FROM bdf WHERE df <= $SimhashCappedTier)
                   AS max_kept_bucket,
                 (SELECT count(*) FROM pr) AS n_pairs""",
    "dedup_contamination" ->
      s"""WITH ${shSql()},
          b AS (SELECT doc_id, s,
                  ${graft.OracleSql.md5Bucket()}
                    AS bucket
                FROM sh),
          ek AS (SELECT DISTINCT unnest(s) AS g FROM b WHERE bucket >= 90),
          tr AS (SELECT doc_id, unnest(s) AS g FROM b WHERE bucket < 90),
          d AS (SELECT tr.doc_id, count(*) AS n_dirty
                FROM tr JOIN ek ON tr.g = ek.g GROUP BY tr.doc_id),
          base AS (SELECT doc_id, len(s) AS n_sh FROM b WHERE bucket < 90)
          SELECT base.doc_id, n_sh,
            coalesce(n_dirty, 0) AS n_dirty,
            round(coalesce(n_dirty, 0)::DOUBLE / n_sh, 6) AS dirty_frac
          FROM base LEFT JOIN d ON base.doc_id = d.doc_id""",
    // near replayed as ALL batch×corpus exact-Jaccard pairs (same declared
    // LSH-recall contract as dedup_minhash); exact as fp membership.
    // FIXTURE CONSTRAINT (as for dedup_minhash): the query verifies only
    // LSH band-collision candidates while this oracle enumerates every
    // pair at J ≥ 0.5 — the 1−4e-8 recall bound of the 16×4 banding holds
    // at j ≥ 0.9, so the hash gate relies on the fixture's planted dups
    // being ≥ 0.9 (they are); a future planted pair with J in [0.5, 0.9)
    // would flip this row red without any code change.
    "dedup_overlap_pairs" ->
      s"""WITH ${shSql()}
          SELECT d1, d2, overlap, jaccard FROM (
            SELECT a.doc_id AS d1, b.doc_id AS d2,
                   round(len(list_intersect(a.s, b.s))::DOUBLE /
                         least(len(a.s), len(b.s)), 6) AS overlap,
                   round(len(list_intersect(a.s, b.s))::DOUBLE /
                         len(list_distinct(a.s || b.s)), 6) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
          WHERE overlap >= 0.9""",
    "dedup_incremental" -> incrementalOracle,
    "dedup_incremental_persisted" -> incrementalOracle,
    // output-identical by construction (bloom admits every true dup, the
    // exact semi-join removes false positives) — the SAME replay
    "dedup_incremental_bloom" -> incrementalOracle,
  ) ++ oraclesTail

  /** The incremental-ingestion CTE chain (batch / corpus split, exact
    * fp membership, LSH-verified near-dup) WITHOUT its final SELECT —
    * shared by [[incrementalOracle]] and the streaming-curation oracle
    * ([[graft.streaming.Streaming]], st_curate), which appends a quality
    * CTE before its own projection. One definition, per the
    * OracleFragmentsSpec discipline.
    */
  private[graft] lazy val incrementalCteBody: String =
      s"""${shSql()},
          b AS (SELECT doc_id,
                  ${graft.OracleSql.md5Bucket()}
                    AS bucket
                FROM documents),
          batch AS (SELECT doc_id FROM b WHERE bucket >= 90),
          corpus AS (SELECT doc_id FROM b WHERE bucket < 90),
          fp AS (SELECT doc_id, md5(text) AS fp FROM documents),
          ex AS (SELECT DISTINCT f1.doc_id FROM fp f1
                 JOIN batch USING (doc_id)
                 JOIN fp f2 ON f1.fp = f2.fp
                 JOIN corpus c ON f2.doc_id = c.doc_id),
          nr AS (SELECT DISTINCT a.doc_id
                 FROM sh a
                 JOIN batch USING (doc_id)
                 JOIN sh c ON round(len(list_intersect(a.s, c.s))::DOUBLE /
                                    len(list_distinct(a.s || c.s)), 6) >= 0.5
                 JOIN corpus co ON c.doc_id = co.doc_id)"""

  private lazy val incrementalOracle: String =
      s"""WITH $incrementalCteBody
          SELECT batch.doc_id,
                 ex.doc_id IS NOT NULL AS exact_dup,
                 nr.doc_id IS NOT NULL AS near_dup,
                 ex.doc_id IS NULL AND nr.doc_id IS NULL AS keep
          FROM batch LEFT JOIN ex ON batch.doc_id = ex.doc_id
                     LEFT JOIN nr ON batch.doc_id = nr.doc_id"""

  private lazy val oraclesTail: Map[String, String] = Map(
    // CDC replay: boundary flag per adjacent token pair (same md5-gear
    // formula as the native expression), chunk id = running sum of cuts
    // strictly before each position, chunk string = in-order string_agg,
    // then the dupPassages aggregate over per-doc DISTINCT chunks.
    "dedup_cdc_passages" ->
      s"""WITH tk AS (SELECT doc_id, $tokSql AS toks FROM documents),
          pos AS (
            SELECT doc_id, i, toks[i] AS tok,
                   CASE WHEN i >= 2 AND
                        ('0x' || substr(md5(toks[i-1] || ' ' || toks[i]), 1, 8))::BIGINT
                          % 8 = 0
                        THEN 1 ELSE 0 END AS bnd
            FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
                  FROM tk)),
          asn AS (
            SELECT doc_id, i, tok,
                   coalesce(sum(bnd) OVER (PARTITION BY doc_id ORDER BY i
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
            FROM pos),
          chunks AS (
            SELECT DISTINCT doc_id, passage FROM (
              SELECT doc_id, c, string_agg(tok, ' ' ORDER BY i) AS passage
              FROM asn GROUP BY doc_id, c))
          SELECT passage, count(*) AS n_docs, min(doc_id) AS first_doc
          FROM chunks GROUP BY passage HAVING count(*) >= 2""",
    "dedup_passages" ->
      s"""WITH sh8 AS (${passagesSql(s"(SELECT doc_id, $tokSql AS toks FROM documents)")})
          SELECT passage, count(*) AS n_docs, min(doc_id) AS first_doc
          FROM sh8 GROUP BY passage HAVING count(*) >= 2""",
    // line-level dedup: the injection CTE replays [[linesFixture]]
    // (header / mod-5 footer / ` table `-split interior lines); the
    // string_agg ORDER BY pos mirrors the Spark struct-sort, and the
    // coalesce('') keeps an all-lines-removed doc at md5('') in both
    // engines (string_agg of zero rows is NULL, array_join of [] is '')
    "dedup_lines" -> linesOracleSql,
    "dedup_boilerplate" ->
      s"""WITH sh8 AS (${passagesSql(s"(SELECT doc_id, $tokSql AS toks FROM documents)")}),
          hot AS (
            SELECT passage FROM sh8 GROUP BY passage HAVING count(*) >= 2)
          SELECT sh8.doc_id,
                 CAST(count(*) AS BIGINT) AS n_passages,
                 CAST(count(hot.passage) AS BIGINT) AS n_boiler,
                 round(CAST(count(hot.passage) AS DOUBLE) / count(*), 6)
                   AS boiler_frac
          FROM sh8 LEFT JOIN hot ON sh8.passage = hot.passage
          GROUP BY sh8.doc_id""",
    // Binary-search replay of longestDupSubstring: the recursive CTE
    // carries the (lo, hi) bracket, each step probes mid = ⌈(lo+hi)/2⌉
    // with a correlated EXISTS over the exploded mid-grams (grouped by
    // the gram itself, so both engines answer the same exact predicate),
    // and the monotone predicate makes the converged lo independent of
    // probe order — the only value that must match the Spark loop.
    "dedup_longest_dup" ->
      """WITH RECURSIVE bs(lo, hi) AS (
           SELECT 1, (SELECT max(length(text))::INT FROM documents)
           UNION ALL
           SELECT CASE WHEN t.ex THEN t.mid ELSE t.lo END,
                  CASE WHEN t.ex THEN t.hi ELSE t.mid - 1 END
           FROM (
             SELECT b.lo, b.hi, (b.lo + b.hi + 1) // 2 AS mid,
               EXISTS (
                 SELECT 1 FROM (
                   SELECT substr(d.text, p.pos::INT, (b.lo + b.hi + 1) // 2) AS sub
                   FROM documents d,
                        LATERAL (SELECT unnest(generate_series(
                          1, length(d.text) - (b.lo + b.hi + 1) // 2 + 1)) AS pos) p
                   WHERE length(d.text) >= (b.lo + b.hi + 1) // 2
                 ) g GROUP BY g.sub HAVING count(*) >= 2 LIMIT 1
               ) AS ex
             FROM bs b WHERE b.lo < b.hi
           ) t
         ),
         best AS (SELECT max(lo) AS len FROM bs WHERE lo = hi)
         SELECT b.len AS len, g.sub AS substring,
                count(*) AS n_occ, count(DISTINCT g.doc_id) AS n_docs
         FROM best b,
              LATERAL (
                SELECT d.doc_id, substr(d.text, p.pos::INT, b.len) AS sub
                FROM documents d,
                     LATERAL (SELECT unnest(generate_series(
                       1, length(d.text) - b.len + 1)) AS pos) p
                WHERE length(d.text) >= b.len
              ) g
         GROUP BY b.len, g.sub HAVING count(*) >= 2
         ORDER BY n_occ DESC, substring LIMIT 20""",
  )
}
