package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analytics suite: the reference's a0–a2 surface (word/prefix counts,
  * bigram relative frequency, pairs/stripes PMI) over the `documents`
  * fixture table.
  *
  * All token manipulation stays inside codegen'd array expressions — no
  * UDFs, no extra shuffles for bigram construction (the reference needs a
  * custom partitioner + secondary sort for the same result,
  * `ComputeBigramRelativeFrequencyPairs.scala:28-35,70`; here it's a window
  * over the aggregated counts).
  */
object Text {

  /** Explicit whitespace class shared by the Spark tokenizer and every
    * DuckDB oracle replay: Java regex `\s` includes vertical tab `\x0B`,
    * RE2's (`[\t\n\f\r ]`) does not, so a document containing a VT would
    * tokenize differently per engine if either side spelled `\s` (the
    * r10 ADVICE finding — exactNormalized got the pin first; this
    * generalizes it to the tokenizer itself). [[WsRegex]] is the
    * Java/Spark spelling, [[WsSql]] the RE2/DuckDB one — the same
    * character set, token for token. Identical behavior to `\s` on the
    * Spark side (the class IS Java's \s), so no fixture hash moves.
    */
  val WsRegex = "[ \\t\\n\\r\\f\\x0B]+"
  val WsSql   = """[ \t\n\r\f\x0B]+"""

  /** THE DuckDB-side tokenizer, twin of [[tokenize]] — one definition
    * (previously copied verbatim into ten modules' oracle builders, any
    * of which could drift alone).
    */
  val TokSql: String =
    s"""list_filter(list_transform(string_split_regex(text, '$WsSql'),
       w -> regexp_replace(lower(w), '(^[^a-z]+|[^a-z]+$$)', '', 'g')),
       w -> w <> '')"""

  /** Reference tokenizer (`util/Tokenizer.scala:8-12`, cloned at
    * `WordCount.java:47-49`): whitespace-split, lowercase, strip leading/
    * trailing non-`[a-z]`, drop empties.
    */
  def tokenize(c: Column): Column =
    filter(
      transform(split(lower(c), WsRegex),
        w => regexp_replace(w, "(^[^a-z]+|[^a-z]+$)", "")),
      w => length(w) > 0)

  /** Tokenized ×`replicas` scale-tier corpus — the ONE tokenize pass
    * shared by every big-tier index build (the IR positional index and
    * the dedup shingle scan previously each re-tokenized the inflated
    * TEXT memo: 2 × a 50k-doc tokenize per run, r11 verdict ask 3).
    * Token-level inflation is EXACTLY [[graft.Tables.documentsInflated]]
    * ∘ [[tokenize]]: the text perturbation appends ` zz` + `x`×r — a
    * leading space then pure `[a-z]` — so under the reference tokenizer
    * (whitespace-split, strip non-letter edges, drop empties) replica
    * r > 0 gains exactly the single token `zz` + `x`×r and every base
    * token is untouched; replica 0 is the base token list verbatim.
    * Pinned by a spec (token-level ≡ tokenize(text-level) on the
    * fixture) AND by the ir_*_big hash gates, whose DuckDB oracles
    * still replay the TEXT-level inflation end to end.
    */
  def tokensInflated(spark: SparkSession, dir: String, replicas: Int): DataFrame =
    // only the BASE tokenize is memoized: caching the ×10 token arrays
    // would add a 50k-array-row cache materialization (measured at 4 s
    // when the whole inflated corpus still ran in one task) to save an
    // explode + array-concat that is cheap to recompute per consumer
    // (each consumer's own memo materializes its derived index anyway)
    Tables.replicate(tokensBase(spark, dir), replicas)
      .select((col("doc_id") * replicas + col("r")).as("doc_id"),
        when(col("r") === 0, col("tokens"))
          .otherwise(concat(col("tokens"),
            array(concat(lit("zz"), expr("repeat('x', r)")))))
          .as("tokens"))

  /** The fixture corpus tokenized once — base of [[tokensInflated]] and
    * of the dedup shingle/passage scans (one tokenize pass per run for
    * every build-side consumer; query-side operators like wordCount keep
    * tokenizing from the scan, because there the tokenizer IS the
    * measured work).
    */
  private[graft] def tokensBase(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.memoized(spark, dir, "corpus:tokens_base") {
      Tables.documents(spark, dir)
        .select(col("doc_id"), tokenize(col("text")).as("tokens"))
    }

  /** PMI-mapper token set (`PairsPMI.java:53-63`): first 100 non-empty
    * tokens of the line, distinct in first-occurrence order.
    */
  def tokenizeDistinctCapped(c: Column, cap: Int = 100): Column =
    array_distinct(slice(tokenize(c), 1, cap))

  /** a0 WordCount (`WordCount.java:90-106,165`): token → occurrence count.
    * Partial aggregation (the reference's in-mapper combiner,
    * `WordCount.java:56-87`) is Catalyst's partial HashAggregate.
    */
  def wordCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(tokenize(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** a0 PrefixCount (`PrefixCount.java:45-56`): 2-char prefix of each token
    * (tokens of length 1 count as themselves).
    */
  def prefixCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(tokenize(col("text"))).as("word"))
      .select(when(length(col("word")) > 1, substring(col("word"), 1, 2))
        .otherwise(col("word")).as("prefix"))
      .groupBy(col("prefix")).agg(count(lit(1)).as("cnt"))

  /** a2 bigram relative frequency
    * (`ComputeBigramRelativeFrequencyPairs.scala:55-95`, stripes twin
    * `ComputeBigramRelativeFrequencyStripes.scala:38-69`):
    * P(w2|w1) = count(w1,w2) / count(w1,*).
    *
    * Bigrams are built per document with an array transform (the
    * reference's `sliding(2)`), so the only shuffles are the pair-count
    * aggregation and the window by w1 — the marginal `(w,"*")` sentinel
    * rows and secondary sort disappear entirely.
    */
  def bigramRelFreq(spark: SparkSession, dir: String): DataFrame =
    bigrams(Tables.documents(spark, dir).select(tokenize(col("text")).as("toks")))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
      .withColumn("relfreq",
        round(col("cnt").cast("double") /
          sum(col("cnt")).over(org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))), 6))

  /** The adjacent-token pairs (w1, w2) of each row's token array `toks`,
    * one row per bigram, carrying the `keep` columns along: the one
    * bigram expansion behind [[bigramRelFreq]] and the Kneser-Ney
    * models. [[bigramsSql]] is its DuckDB twin.
    */
  private[graft] def bigrams(toks: DataFrame, keep: String*): DataFrame =
    toks
      .select(keep.map(col) :+ explode(expr(
        """CASE WHEN size(toks) < 2 THEN array()
           ELSE transform(sequence(0, size(toks)-2),
                          i -> struct(toks[i] AS w1, toks[i+1] AS w2)) END"""))
        .as("bg"): _*)
      .select(keep.map(col) ++ Seq(col("bg.w1").as("w1"), col("bg.w2").as("w2")): _*)

  /** DuckDB twin of [[bigrams]] over a relation `src` whose token list
    * column is `w`.
    */
  private[graft] def bigramsSql(src: String, keep: String*): String =
    s"""SELECT ${(keep :+ "w[i] AS w1").mkString(", ")}, w[i+1] AS w2
        FROM $src, unnest(generate_series(1, len(w)-1)) AS t(i)"""

  /** a1 pairs/stripes PMI (`CooccurrencePairs.java:56-133`,
    * `PairsPMI.java:53-73`): directed pairs of distinct-per-doc tokens,
    * co-occurrence threshold, PMI = log10(count(x,y)/(c(x)·c(y))·N) where
    * c(w) = #docs containing w and N = #docs with ≥1 token.
    *
    * The reference is a 2-job MR pipeline with a DistributedCache side-file
    * of word counts; here the side-file is just a join against the
    * word-count aggregate, and N rides along as a lazy broadcast cross
    * join (no driver-side collect — scale-safe).
    */
  def pmiPairs(spark: SparkSession, dir: String, minCooccur: Int = 10): DataFrame =
    cooccurrence(spark, dir, minCooccur)
      .select(col("w1"), col("w2"), col("npairs"),
        round(log10(col("npairs").cast("double") /
          (col("cx") * col("cy")).cast("double") * col("n").cast("double")), 6).as("pmi"))

  /** The co-occurrence front half shared by [[pmiPairs]] and
    * [[llrPairs]]: one row per directed pair (w1, w2) seen in at least
    * `minCooccur` documents, with its document count `npairs`, the
    * document counts `cx`, `cy` of w1 and w2, and `n`, the number of
    * documents with a token. [[cooccurrenceSql]] is its DuckDB twin.
    */
  private def cooccurrence(spark: SparkSession, dir: String, minCooccur: Int): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), tokenizeDistinctCapped(col("text")).as("tok"))
      .filter(size(col("tok")) > 0)
    val dw = graft.Caches.memoized(spark, dir, "text:pmi_dw")(
      toks.select(col("doc_id"), explode(col("tok")).as("w")))
    val n  = toks.agg(count(lit(1)).as("n"))
    val wc = dw.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val pairs = dw.as("a").join(dw.as("b"), "doc_id")
      .where(col("a.w") =!= col("b.w"))
      .select(col("a.w").as("w1"), col("b.w").as("w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("npairs"))
      .where(col("npairs") >= minCooccur)
    pairs
      .join(wc.withColumnRenamed("w", "w1").withColumnRenamed("c", "cx"), "w1")
      .join(wc.withColumnRenamed("w", "w2").withColumnRenamed("c", "cy"), "w2")
      .crossJoin(broadcast(n))
  }

  /** xlogx with the conventional 0·ln0 = 0 — emitted as SQL TEXT so the
    * Spark expression and the DuckDB oracle parse the exact same formula
    * (identical operation order ⇒ identical IEEE doubles; the ln-on-
    * exact-integers contract bm25/PMI already rely on).
    */
  private def xlx(k: String): String =
    s"(CASE WHEN ($k) = 0 THEN 0.0 ELSE CAST($k AS DOUBLE) * ln(CAST($k AS DOUBLE)) END)"

  /** Dunning log-likelihood-ratio collocation scoring (Dunning 1993) —
    * the robust companion to [[pmiPairs]]: PMI over-ranks rare pairs
    * (a 10-10-10 coincidence gets a huge score); LLR tests the 2×2
    * document-cooccurrence contingency against independence, so scores
    * are comparable across frequency bands. Same candidate machinery as
    * PMI (distinct-capped tokens, doc-level cooccurrence, HAVING ≥ 10);
    * the contingency cells are exact integers and the 9-term xlogx sum
    * is one fixed-order double expression shared textually with the
    * oracle ([[xlx]]), then 6-dp rounded.
    */
  private[graft] val llrSql: String =
    s"""round(2.0 * (${xlx("k11")} + ${xlx("k12")} + ${xlx("k21")} + ${xlx("k22")}
        - ${xlx("k11 + k12")} - ${xlx("k21 + k22")}
        - ${xlx("k11 + k21")} - ${xlx("k12 + k22")} + ${xlx("nn")}), 6)"""

  def llrPairs(spark: SparkSession, dir: String, minCooccur: Int = 10): DataFrame =
    cooccurrence(spark, dir, minCooccur)
      .select(col("w1"), col("w2"), col("npairs"),
        col("npairs").as("k11"),
        (col("cx") - col("npairs")).as("k12"),
        (col("cy") - col("npairs")).as("k21"),
        (col("n") - col("cx") - col("cy") + col("npairs")).as("k22"),
        col("n").as("nn"))
      .select(col("w1"), col("w2"), col("npairs"), expr(llrSql).as("llr"))

  /** Canonical string form of a stripe map: `k:v,k:v,...` with entries in
    * the map's (key-sorted) order and values pinned through DECIMAL(18,6)
    * so both engines print identical digits. The map itself stays in the
    * plan — A6's map-merge semantics are still exercised — but the
    * registered output column is an atomic STRING the driver's
    * pandas-based row sort can hash (a top-level MAP cell is unhashable
    * there; see PlanAuditSpec's atomic-output lint).
    */
  private def stripeString(m: Column): Column =
    concat_ws(",", transform(map_entries(m),
      e => concat(e.getField("key"), lit(":"),
        e.getField("value").cast("decimal(18,6)").cast("string"))))

  /** Stripes form of the PMI table (`StripesPMI.java:44-143` — a1 ships
    * pairs and stripes variants of the same computation): one row per w1
    * with a w2→pmi map, serialized canonically via [[stripeString]]. Same
    * content as [[pmiPairs]] — the map is built from entries sorted by key
    * on both engines, so the serialized stripes compare deterministically.
    */
  def pmiStripes(spark: SparkSession, dir: String, minCooccur: Int = 10): DataFrame =
    stripes(pmiPairs(spark, dir, minCooccur), "pmi")

  /** Stripes form of the bigram table
    * (`ComputeBigramRelativeFrequencyStripes.scala:52-69`): one row per w1
    * with a w2→relfreq map — the reference's literal output shape (its
    * reducer emits one HashMapWritable per key). Oracle-gated as a
    * registry query: both engines assemble the map from entries sorted by
    * key (Spark `sort_array` before `map_from_entries`, DuckDB
    * `list_sort` before `map_from_entries`), so entry order — the one
    * engine-specific degree of freedom in a MAP value — is pinned, and the
    * map is serialized to an atomic string via [[stripeString]] so the
    * rows hash-compare exactly at the driver gate.
    */
  def bigramStripes(spark: SparkSession, dir: String): DataFrame =
    stripes(bigramRelFreq(spark, dir), "relfreq")

  /** The stripes tail of [[pmiStripes]] and [[bigramStripes]]: per w1,
    * the w2 → `v` map built from key-sorted entries, serialized by
    * [[stripeString]]. [[stripesSql]] is its DuckDB twin.
    */
  private def stripes(pairs: DataFrame, v: String): DataFrame =
    pairs
      .groupBy(col("w1"))
      .agg(map_from_entries(sort_array(collect_list(struct(col("w2"), col(v)))))
        .as("stripe_map"))
      .select(col("w1"), stripeString(col("stripe_map")).as("stripe"))

  private val tokSql =
    graft.text.Text.TokSql

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_wordcount"      -> ((s, d) => wordCount(s, d)),
    "text_prefixcount"    -> ((s, d) => prefixCount(s, d)),
    "text_bigram_relfreq" -> ((s, d) => bigramRelFreq(s, d)),
    "text_bigram_stripes" -> ((s, d) => bigramStripes(s, d)),
    "text_pmi_pairs"      -> ((s, d) => pmiPairs(s, d)),
    "text_llr_pairs"      -> ((s, d) => llrPairs(s, d)),
    "text_pmi_stripes"    -> ((s, d) => pmiStripes(s, d)),
  )

  /** DuckDB twin of [[cooccurrence]], as CTEs ending in `co`
    * (w1, w2, npairs, cx, cy, n).
    */
  private def cooccurrenceSql: String =
    s"""toks AS (SELECT doc_id, list_distinct(($tokSql)[1:100]) AS tok FROM documents),
        dw AS (SELECT doc_id, unnest(tok) AS w FROM toks WHERE len(tok) > 0),
        n AS (SELECT count(*) AS n FROM toks WHERE len(tok) > 0),
        wc AS (SELECT w, count(*) AS c FROM dw GROUP BY w),
        pairs AS (SELECT a.w AS w1, b.w AS w2, count(*) AS npairs
                  FROM dw a JOIN dw b USING (doc_id)
                  WHERE a.w <> b.w GROUP BY 1, 2 HAVING count(*) >= 10),
        co AS (SELECT w1, w2, npairs, cx, cy, n FROM pairs
               JOIN (SELECT w AS w1, c AS cx FROM wc) USING (w1)
               JOIN (SELECT w AS w2, c AS cy FROM wc) USING (w2), n)"""

  private def pmiPairsSql: String =
    s"""WITH $cooccurrenceSql
        SELECT w1, w2, npairs,
               round(log10(CAST(npairs AS DOUBLE) / CAST(cx * cy AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pmi
        FROM co"""

  private def bigramRelFreqSql: String =
    s"""WITH toks AS (SELECT $tokSql AS w FROM documents),
        bg AS (${bigramsSql("toks")}),
        cnts AS (SELECT w1, w2, count(*) AS cnt FROM bg GROUP BY w1, w2)
        SELECT w1, w2, cnt,
               round(CAST(cnt AS DOUBLE) / sum(cnt) OVER (PARTITION BY w1), 6) AS relfreq
        FROM cnts"""

  /** DuckDB twin of [[stripes]] over the pair relation `rel`: entries
    * sorted by key, the map built in-plan, then serialized to a
    * canonical `k:v,...` string (values via DECIMAL(18,6)) — the driver
    * gate can only hash atomic cells.
    */
  private def stripesSql(rel: String, v: String): String =
    s"""m AS (SELECT w1, map_from_entries(list_sort(list(row(w2, $v)))) AS stripe_map
              FROM $rel GROUP BY w1)
        SELECT w1, array_to_string(
                 list_transform(map_entries(stripe_map),
                   e -> e.key || ':' || CAST(CAST(e.value AS DECIMAL(18,6)) AS VARCHAR)),
                 ',') AS stripe
        FROM m"""

  val oracles: Map[String, String] = Map(
    "text_wordcount" ->
      s"""SELECT word, count(*) AS cnt
          FROM (SELECT unnest($tokSql) AS word FROM documents)
          GROUP BY word""",
    "text_prefixcount" ->
      s"""SELECT CASE WHEN length(word) > 1 THEN word[1:2] ELSE word END AS prefix,
                 count(*) AS cnt
          FROM (SELECT unnest($tokSql) AS word FROM documents)
          GROUP BY 1""",
    "text_bigram_relfreq" -> bigramRelFreqSql,
    "text_pmi_pairs" -> pmiPairsSql,
    "text_llr_pairs" ->
      s"""WITH $cooccurrenceSql,
          cells AS (
            SELECT w1, w2, npairs,
                   npairs AS k11, cx - npairs AS k12, cy - npairs AS k21,
                   n - cx - cy + npairs AS k22, n AS nn
            FROM co)
          SELECT w1, w2, npairs, $llrSql AS llr FROM cells""",
    "text_bigram_stripes" -> s"WITH rel AS ($bigramRelFreqSql), ${stripesSql("rel", "relfreq")}",
    "text_pmi_stripes" -> s"WITH pmi AS ($pmiPairsSql), ${stripesSql("pmi", "pmi")}",
  )
}
