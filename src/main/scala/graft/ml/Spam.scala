package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** a6 spam classifier: online SGD logistic regression + ensemble
  * (`TrainSpamClassifier.scala`, `ApplySpamClassifier.scala`,
  * `ApplyEnsembleSpamClassifier.scala`).
  *
  * Training is order-dependent and sequential by construction (the
  * reference runs `groupByKey(1)` and folds in-memory,
  * `TrainSpamClassifier.scala:68-85`); the Spark-native equivalent is one
  * partition + sortWithinPartitions + a mapPartitions fold — pinning both
  * the partition count and a deterministic row order. The reference's
  * `--shuffle` uses unseeded `Math.random` (`:52`); we replace it with a
  * deterministic md5 key so results are reproducible (SURVEY §5
  * determinism rule). Scoring (J7) is set-oriented: explode features,
  * join the weight table (at most [[BatchLogit.NumFeatures]] rows, so
  * broadcast), aggregate per doc. One hash family (md5) and one
  * arithmetic (exact decimal) throughout, the ones the DuckDB oracles
  * replay.
  *
  * Instances derive from the documents fixture: label = doc contains the
  * token "spark" (a learnable signal), features = per-occurrence token
  * hashes (the reference's feature-id lists are given in its input files;
  * hashing is the standard replacement).
  */
object Spam {
  /** Parse the reference's instance-line format
    * (`TrainSpamClassifier.scala:43-55`): whitespace-separated
    * `docid {spam|ham} f1 f2 ...` with integer feature ids. Output
    * (docid, label, features); a non-numeric docid becomes the first 15
    * hex digits of its md5 (a non-negative long). Exploding `features`
    * gives the (docid, label, feature) frame [[trainSeqOn]] folds.
    */
  def parseInstances(lines: DataFrame): DataFrame =
    lines
      .select(split(trim(col("value")), "\\s+").as("f"))
      .filter(size(col("f")) >= 2)
      .select(
        expr("""coalesce(try_cast(f[0] AS BIGINT),
          CAST(conv(substring(md5(f[0]), 1, 15), 16, 10) AS BIGINT))""").as("docid"),
        when(col("f").getItem(1) === "spam", 1).otherwise(0).as("label"),
        expr("transform(slice(f, 3, size(f) - 2), x -> CAST(x AS INT))").as("features"))

  /** [[trainSeq]] behind the memo, keyed on the full fold parameters:
    * spam_train_seq, spam_apply_seq and (per shard) spam_ensemble_seq
    * share the bounded-prefix folds the same way.
    */
  def trainSeqShared(spark: SparkSession, dir: String, maxDocid: Long = SeqDocs,
                     shardMod: Int = -1, shuffleSeed: Option[Long] = None): DataFrame =
    graft.Caches.memoized(spark, dir,
      s"ml:spam_seq:$maxDocid:$shardMod:${shuffleSeed.getOrElse(-1L)}")(
      trainSeq(spark, dir, maxDocid, shardMod, shuffleSeed))

  /** Bound on the docids [[trainSeq]] folds over — small enough that the
    * per-instance recurrence unrolls into one chained-CTE oracle, large
    * enough that weight trajectories genuinely interact across steps.
    */
  val SeqDocs = 40L

  /** Seed for the oracle-backed O4 shuffled-order fold (spam_train_seq_shuffled). */
  val ShuffleSeed = 42L

  /** The order-dependent sequential SGD fold of the fixture corpus,
    * UNDER A HARD SQL ORACLE: [[trainSeqOn]] over the
    * [[BatchLogit.occurrences]] rows (md5-derived feature ids —
    * SQL-replayable) with docid < `maxDocid` and, for `shardMod >= 0`,
    * docid % 3 = shardMod (the ensemble's disjoint shards). The default
    * bound [[SeqDocs]] is the unrolled chained-CTE oracle's size;
    * `Long.MaxValue` folds the full corpus (spam_train) under the
    * recursive-CTE oracle.
    */
  def trainSeq(spark: SparkSession, dir: String, maxDocid: Long = SeqDocs,
               shardMod: Int = -1, shuffleSeed: Option[Long] = None): DataFrame = {
    val shardFilter =
      if (shardMod < 0) lit(true) else pmod(col("docid"), lit(3)) === shardMod
    trainSeqOn(BatchLogit.occurrences(spark, dir)
      .filter(col("docid") < maxDocid && shardFilter), shuffleSeed)
  }

  /** The sequential SGD fold (`TrainSpamClassifier.scala:68-85`) over a
    * (docid: long, label: int, feature: long) occurrence frame: score
    * each instance with the current weights, sigmoid, update every
    * feature occurrence by (label − prob)·δ; returns the weight table
    * (feature, weight). It runs in the exact-decimal fp-portability
    * protocol of [[BatchLogit]] so the DuckDB replay is bit-identical:
    *
    *  - occurrences are compressed to per-instance (feature, cnt)
    *    multiplicities;
    *  - weights live on an exact decimal grid (scale 9 = prob scale 6 ×
    *    δ scale 3); score_d = Σ cnt·w(f) is an exact order-free decimal
    *    sum; prob = round(sigmoid(score as double), 6) — the one double
    *    step, on a bit-identical input (the ml_batch_gd green contract);
    *  - update: w(f) += cnt · (label − prob) · δ, exact decimal;
    *  - instances fold in ascending docid order (or the seeded md5 order
    *    below): one partition, sorted — the A13 physical shape.
    */
  def trainSeqOn(occurrences: DataFrame, shuffleSeed: Option[Long] = None): DataFrame = {
    val spark = occurrences.sparkSession
    import spark.implicits._
    val occ = occurrences
      .groupBy(col("docid"), col("label"), col("feature"))
      .agg(count(lit(1)).as("cnt"))
    // O4 seeded shuffle, oracle-replayable: the order key is the repo's
    // cross-engine md5 convention so the chained-CTE oracle reorders by
    // the IDENTICAL hash (reference `TrainSpamClassifier.scala:51-61` —
    // unseeded Math.random there, deterministic seed per SURVEY §5).
    val ordKey = shuffleSeed match {
      case Some(s) => expr(
        s"conv(substring(md5(concat('$s:', CAST(docid AS STRING))), 1, 8), 16, 10)")
        .cast("long")
      case None => col("docid")
    }
    occ.withColumn("k", ordKey)
      .repartition(1).sortWithinPartitions(col("k"), col("docid"), col("feature"))
      .mapPartitions { rows =>
        val Half = BigDecimal.RoundingMode.HALF_UP
        val Delta = BigDecimal("0.002")
        val w = scala.collection.mutable.HashMap.empty[Long, BigDecimal]
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        var curDoc = Long.MinValue
        var curLabel = 0
        def flush(): Unit = if (buf.nonEmpty) {
          val score = buf.foldLeft(BigDecimal(0)) { case (a, (f, c)) =>
            a + w.getOrElse(f, BigDecimal(0)) * BigDecimal(c)
          }
          val prob = BigDecimal(1.0 / (1.0 + math.exp(-score.toDouble)))
            .setScale(6, Half)
          val inc = (BigDecimal(curLabel) - prob) * Delta
          buf.foreach { case (f, c) =>
            w.update(f, w.getOrElse(f, BigDecimal(0)) + inc * BigDecimal(c))
          }
          buf.clear()
        }
        rows.foreach { r =>
          val d = r.getAs[Long]("docid")
          if (d != curDoc) { flush(); curDoc = d; curLabel = r.getAs[Int]("label") }
          buf += ((r.getAs[Long]("feature"), r.getAs[Long]("cnt")))
        }
        flush()
        w.iterator.map { case (f, wt) => (f, wt.toDouble) }
      }
      .toDF("feature", "weight")
  }

  /** Distributed scoring with the [[trainSeq]] model, fully hash-gated:
    * the J7 explode⋈weights⋈agg shape of the reference's
    * `ApplySpamClassifier.scala:48-65`, run over the FULL corpus (the
    * scoring side is set-oriented — only the trained fold needed the
    * docid bound) in the exact-decimal protocol. Weights rebuilt as
    * DECIMAL(18,9) (their doubles sit on the 1e-9 grid, so the cast
    * recovers the exact decimal in both engines); score_d =
    * Σ cnt·coalesce(w, 0) is an exact order-free decimal sum; spam iff
    * score > 0.
    */
  def applySeq(spark: SparkSession, dir: String, maxDocid: Long = SeqDocs): DataFrame = {
    val w = trainSeqShared(spark, dir, maxDocid)
      .select(col("feature"), col("weight").cast("decimal(18,9)").as("w"))
    BatchLogit.occurrences(spark, dir)
      .groupBy(col("docid"), col("label"), col("feature"))
      .agg(count(lit(1)).as("cnt"))
      .join(broadcast(w), Seq("feature"), "left_outer")
      .groupBy(col("docid"), col("label"))
      // cnt must be a NARROW decimal: a bare LONG × DECIMAL(18,9) hits
      // Spark's precision-38 cap and silently truncates the product
      // scale to 8 digits (adjustPrecisionScale), drifting scores off
      // the oracle by 1e-9-scale amounts
      .agg(sum(col("cnt").cast("decimal(6,0)") * coalesce(col("w"),
        lit(java.math.BigDecimal.ZERO).cast("decimal(18,9)"))).as("score_d"))
      .select(col("docid"), col("label"),
        col("score_d").cast("double").as("score"),
        when(col("score_d") > 0, "spam").otherwise("ham").as("predicted"))
  }

  /** The leakage-free holdout, scored by the [[trainSeqShared]] model in
    * exact DECIMAL — the shared front half of [[rocAuc]] and
    * [[calibration]]: (docid, label, score_d).
    */
  def holdoutScored(spark: SparkSession, dir: String): DataFrame = {
    val w = trainSeqShared(spark, dir)
      .select(col("feature"), col("weight").cast("decimal(18,9)").as("w"))
    val holdout = BatchLogit.occurrences(spark, dir)
      .filter(col("docid") >= SeqDocs &&
        graft.operators.Skew.hashBucket(col("docid")) >= 90)
      .groupBy(col("docid"), col("label"), col("feature"))
      .agg(count(lit(1)).as("cnt"))
    holdout
      .join(broadcast(w), Seq("feature"), "left_outer")
      .groupBy(col("docid"), col("label"))
      .agg(sum(col("cnt").cast("decimal(6,0)") * coalesce(col("w"),
        lit(java.math.BigDecimal.ZERO).cast("decimal(18,9)"))).as("score_d"))
  }

  /** Classifier QUALITY metric — the reference's grading currency: a6 is
    * scored on 1-ROCA% (area above the ROC curve, in percent;
    * `assignment6.md:3-29` grades x/y/britney/fusion on exactly this).
    * Every other spam row pins fold/score ARITHMETIC; this one measures
    * whether the classifier actually discriminates.
    *
    * Protocol: the [[trainSeq]] model (docid < [[SeqDocs]], the hash-gated
    * fold) scores the HELD-OUT docs — md5-bucket "test" split of
    * [[graft.operators.Skew.hashSplit]] (bucket ≥ 90), restricted to
    * docid ≥ [[SeqDocs]] so no training doc leaks into evaluation — in
    * the [[applySeq]] exact-decimal shape. AUC then comes from the
    * Mann-Whitney rank identity computed entirely in INTEGER arithmetic
    * (fp-portable by construction):
    *
    *   AUC = Σ_s n_pos(s) · (2·cum_neg_below(s) + n_neg(s)) / (2·P·N)
    *
    * where s ranges over DISTINCT decimal scores ascending — ties get the
    * standard half credit via the `+ n_neg(s)` term. One grouped count per
    * score, one running sum over the (tiny) per-score frame, one global
    * fold; the only doubles are the final two divisions, on bit-identical
    * integer inputs in both engines. 1-ROCA% = (1 − AUC)·100.
    */
  def rocAuc(spark: SparkSession, dir: String): DataFrame = {
    val scored = holdoutScored(spark, dir)
    val perScore = scored.groupBy(col("score_d"))
      .agg(sum(col("label")).cast("long").as("np"),
        sum(lit(1) - col("label")).cast("long").as("nn"))
    // unpartitioned window over the per-score frame: cardinality is
    // bounded by the holdout size (distinct decimal scores), so the
    // single-task sort is a few hundred rows even at sf0.1 — the one
    // allowlisted unbounded case in PlanAuditSpec's window lint
    val below = org.apache.spark.sql.expressions.Window.orderBy(col("score_d"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    perScore
      .withColumn("cum_nn", coalesce(sum(col("nn")).over(below), lit(0L)))
      .agg(sum(col("np")).cast("long").as("n_pos"),
        sum(col("nn")).cast("long").as("n_neg"),
        sum(col("np") * (lit(2L) * col("cum_nn") + col("nn"))).cast("long").as("num2"))
      .select(col("n_pos"), col("n_neg"),
        round(col("num2").cast("double") /
          (lit(2L) * col("n_pos") * col("n_neg")).cast("double"), 6).as("auc"))
      .withColumn("roca_pct", round((lit(1.0) - col("auc")) * 100, 4))
  }

  /** Confusion matrix + metrics at the TOP-K operating point — the third
    * leg of the evaluation family ([[rocAuc]] ranks, calibration checks
    * probability honesty, this reports the operating point a filter with
    * a review budget deploys at): flag the k highest-margin docs
    * (deterministic docid tie-break), then tp/fp/fn/tn and
    * precision@k / recall@k / F1. The margin-≥0 point is degenerate on
    * this holdout (every doc scores positive — measured tn = fn = 0), so
    * the budgeted point is both the realistic one and the one that
    * exercises all four cells. Flagging is `orderBy.limit(k)`
    * (TakeOrderedAndProject, the bm25 discipline) + a docid semi-join —
    * no global window; counts from exact decimal comparisons; F1 =
    * 2tp/(2tp+fp+fn) as one double expression, 6-dp rounded.
    */
  def confusion(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val scored = holdoutScored(spark, dir)
    val flagged = scored.orderBy(col("score_d").desc, col("docid")).limit(k)
      .select(col("docid"), lit(1L).as("flag"))
    scored.join(flagged, Seq("docid"), "left_outer")
      .select(col("label"), coalesce(col("flag"), lit(0L)).as("flag"))
      .agg(
        sum(when(col("label") === 1 && col("flag") === 1, 1L).otherwise(0L)).as("tp"),
        sum(when(col("label") === 0 && col("flag") === 1, 1L).otherwise(0L)).as("fp"),
        sum(when(col("label") === 1 && col("flag") === 0, 1L).otherwise(0L)).as("fn"),
        sum(when(col("label") === 0 && col("flag") === 0, 1L).otherwise(0L)).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        round(col("tp").cast("double") / (col("tp") + col("fp")).cast("double"), 6)
          .as("precision"),
        round(col("tp").cast("double") / (col("tp") + col("fn")).cast("double"), 6)
          .as("recall"),
        round((lit(2L) * col("tp")).cast("double") /
          (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double"), 6).as("f1"))
  }

  /** Reliability diagram over the same holdout scores — the standard
    * companion of [[rocAuc]] (AUC ranks; calibration asks whether the
    * sigmoid of the raw margin is honest as a probability): sigmoid
    * probs rounded to 6 dp, 10 equal-width bins (prob 1.0 clamped into
    * bin 9), per bin the count, mean predicted prob (6-dp DECIMAL sum —
    * order-free) and empirical positive rate. Integer/shared-grid inputs
    * throughout, so the oracle replays every bin bit-for-bit.
    */
  def calibration(spark: SparkSession, dir: String): DataFrame = {
    val prob = round(lit(1.0) / (lit(1.0) + exp(-col("score_d").cast("double"))), 6)
    holdoutScored(spark, dir)
      .select(col("label"), prob.as("prob"))
      .select(col("label"), col("prob").cast("decimal(9,6)").as("prob_d"),
        least(floor(col("prob") * 10), lit(9)).cast("long").as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("prob_d")).cast("double") / count(lit(1)), 6).as("mean_prob"),
        round(sum(col("label")).cast("double") / count(lit(1)), 6).as("pos_rate"))
  }

  /** A14 ensemble combine, hash-gated: three [[trainSeq]] models on the
    * DISJOINT docid%3 shards of the bounded prefix
    * (`ApplyEnsembleSpamClassifier.scala:76-108` protocol), each scoring
    * the FULL corpus in the [[applySeq]] exact-decimal shape; combined
    * by score average and sign vote. Per-model scores are cast to
    * DECIMAL(18,9) before combining (exact — |score| ≪ 10⁹; a
    * DECIMAL(38,9) addition would overflow precision 38 and silently
    * lose scale), so votes and the avg sign are decimal-exact; only the
    * reported avg_score divides in double, on identical inputs.
    */
  def ensembleSeq(spark: SparkSession, dir: String, maxDocid: Long = SeqDocs): DataFrame = {
    val zero9 = lit(java.math.BigDecimal.ZERO).cast("decimal(18,9)")
    // One scoring aggregate for all three models: each occurrence row
    // picks up its weight in every shard model through a chain of
    // left-outer broadcast joins, then one groupBy sums all three. The
    // chain is exact — it neither drops nor duplicates an occurrence —
    // because each trainSeqShared table has ONE row per feature (trainSeqOn
    // emits its weight HashMap). Σ over occurrences of w equals the
    // oracle's Σ over distinct (docid, feature) of cnt·w: decimal sums
    // are exact and order-free.
    val joined = (0 until 3).foldLeft(BatchLogit.occurrences(spark, dir)) { (occ, m) =>
      val w = trainSeqShared(spark, dir, maxDocid, shardMod = m)
        .select(col("feature"), col("weight").cast("decimal(18,9)").as(s"w_$m"))
      occ.join(broadcast(w), Seq("feature"), "left_outer")
    }
    val scores = (0 until 3).map(m =>
      sum(coalesce(col(s"w_$m"), zero9)).cast("decimal(18,9)").as(s"s_$m"))
    def sign(c: org.apache.spark.sql.Column) =
      when(c > 0, 1).when(c < 0, -1).otherwise(0)
    val total = col("s_0") + col("s_1") + col("s_2")
    joined.groupBy(col("docid"), col("label"))
      .agg(scores.head, scores.tail: _*)
      .select(col("docid"), col("label"),
        (total.cast("double") / lit(3.0)).as("avg_score"),
        when(total > 0, "spam").otherwise("ham").as("predicted_avg"),
        when(sign(col("s_0")) + sign(col("s_1")) + sign(col("s_2")) > 0, "spam")
          .otherwise("ham").as("predicted_vote"))
  }

  private val tokSql =
    graft.text.Text.TokSql

  /** DuckDB replay of [[trainSeq]]: the per-instance recurrence unrolled
    * as one MATERIALIZED CTE per docid step (the ta_bpe_train technique).
    * Types are pinned so every decimal op stays exact (DuckDB silently
    * falls back to DOUBLE past precision 38): cnt DECIMAL(4,0), w
    * DECIMAL(18,9), prob DECIMAL(9,6), inc DECIMAL(12,9).
    *
    * This is the shared CTE chain: no "WITH" prefix and no final SELECT,
    * so callers can splice several chains (distinct `sfx`) into one
    * statement; `shardMod >= 0` restricts the fold to docid % 3 =
    * shardMod (the ensemble's disjoint shards). The fixed step count
    * exceeds the shard's instance count (or the corpus is smaller than
    * [[SeqDocs]]) — absent steps degrade to no-ops via the coalesce
    * guards.
    */
  private def trainSeqCtes(steps: Int, numFeatures: Int,
                           sfx: String = "", shardMod: Int = -1,
                           shuffleSeed: Option[Long] = None): String = {
    val shard = if (shardMod < 0) "TRUE" else s"doc_id % 3 = $shardMod"
    // Replays [[trainSeq]]'s seeded order bit-for-bit: same md5 prefix,
    // same radix conversion, doc_id tiebreak.
    val ord = shuffleSeed match {
      case Some(s) =>
        s"('0x' || substr(md5('$s:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT, doc_id"
      case None => "doc_id"
    }
    val sb = new StringBuilder(
      instOccSql(sfx, numFeatures, s"doc_id < $steps AND $shard", ord) + s""",
          w${sfx}0 AS MATERIALIZED (
            SELECT DISTINCT feature, CAST(0 AS DECIMAL(18,9)) AS w FROM occ$sfx)""")
    for (i <- 1 to steps) sb ++=
      s""",
          w$sfx$i AS MATERIALIZED (
            SELECT ww.feature,
                   CAST(ww.w + coalesce(o.cnt, CAST(0 AS DECIMAL(4,0))) * coalesce(
                     (SELECT CAST((CAST(i2.label AS DECIMAL(2,0)) -
                              CAST(round(1.0 / (1.0 + exp(-CAST(coalesce(
                                (SELECT sum(o2.cnt * w2.w)
                                 FROM occ$sfx o2 JOIN w$sfx${i - 1} w2 USING (feature)
                                 WHERE o2.rn = $i), 0) AS DOUBLE))), 6) AS DECIMAL(9,6)))
                            * CAST(0.002 AS DECIMAL(4,3)) AS DECIMAL(12,9))
                      FROM inst$sfx i2 WHERE i2.rn = $i),
                     CAST(0 AS DECIMAL(12,9))) AS DECIMAL(18,9)) AS w
            FROM w$sfx${i - 1} ww
            LEFT JOIN (SELECT feature, cnt FROM occ$sfx WHERE rn = $i) o USING (feature))"""
    sb.toString
  }

  /** The training instances of the documents passing `where`, numbered
    * in `ord` order (`inst$sfx`: rn, docid, label), and each instance's
    * feature counts (`occ$sfx`: rn, feature, cnt) — the fold input of
    * both the unrolled and the recursive training chains.
    */
  private def instOccSql(sfx: String, numFeatures: Int, where: String, ord: String): String =
    s"""inst$sfx AS MATERIALIZED (
            SELECT row_number() OVER (ORDER BY $ord) AS rn, doc_id AS docid,
                   $labelSql AS label
            FROM (SELECT doc_id, $tokSql AS toks FROM documents WHERE $where)),
          occ$sfx AS MATERIALIZED (
            SELECT i.rn, f.feature, CAST(count(*) AS DECIMAL(4,0)) AS cnt
            FROM inst$sfx i JOIN (
              SELECT doc_id AS docid, unnest(${featuresSql(numFeatures)}) AS feature
              FROM (SELECT doc_id, $tokSql AS toks FROM documents WHERE $where)) f
              ON i.docid = f.docid
            GROUP BY i.rn, f.feature)"""

  /** The spam label of a `toks` row: 1 iff it holds the token 'spark'. */
  private val labelSql = "CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END"

  /** The hashed features of a `toks` row, one per token: the first 8 hex
    * digits of md5(token) modulo `numFeatures` (BatchLogit's hashing).
    */
  private def featuresSql(numFeatures: Int): String =
    s"list_transform(toks, w -> ('0x' || substr(md5(w), 1, 8))::BIGINT % $numFeatures)"

  /** Per-document feature counts `name`(docid, label, feature, cnt) of
    * the documents `filter` keeps (a WHERE clause, or "" for all) — the
    * scoring side's occurrence table.
    */
  private def scoreOccSql(name: String, numFeatures: Int, filter: String = ""): String =
    s"""$name AS MATERIALIZED (
            SELECT docid, label, feature, CAST(count(*) AS DECIMAL(6,0)) AS cnt
            FROM (SELECT doc_id AS docid, $labelSql AS label,
                         unnest(${featuresSql(numFeatures)}) AS feature
                  FROM (SELECT doc_id, $tokSql AS toks FROM documents $filter))
            GROUP BY docid, label, feature)"""

  /** `wd`: the model `weights`(feature, w) round-tripped through DOUBLE
    * exactly as the Spark side does (grid value → same decimal back),
    * and `sc`(docid, label, score_d): the exact-decimal score of each
    * document of the occurrence table `occ`.
    */
  private def scoreSql(occ: String, weights: String): String =
    s"""wd AS (SELECT feature, CAST(CAST(w AS DOUBLE) AS DECIMAL(18,9)) AS w
                 FROM $weights),
          sc AS (SELECT o.docid, o.label,
                        sum(o.cnt * coalesce(w.w, CAST(0 AS DECIMAL(18,9)))) AS score_d
                 FROM $occ o LEFT JOIN wd w USING (feature)
                 GROUP BY o.docid, o.label)"""

  /** [[applySeq]]'s replay after the training chain `chain` (a WITH
    * prefix ending in the weight table `weights`): every document scored
    * by the one model.
    */
  private def applyOracle(chain: String, weights: String, numFeatures: Int): String =
    chain + s""",
          ${scoreOccSql("occf", numFeatures)},
          ${scoreSql("occf", weights)}
          SELECT docid, label, CAST(score_d AS DOUBLE) AS score,
                 CASE WHEN score_d > 0 THEN 'spam' ELSE 'ham' END AS predicted
          FROM sc"""

  /** [[ensembleSeq]]'s replay after the three shard chains `chains` (a
    * WITH prefix; shard m's weights in `weights(m)`): one scoring
    * aggregate per model over the shared full-corpus occurrence table,
    * then the average and the sign vote.
    */
  private def ensembleOracle(chains: String, weights: Int => String,
                             numFeatures: Int): String = {
    val scoring = (0 until 3).map(m => s""",
          wd$m AS (SELECT feature, CAST(CAST(w AS DOUBLE) AS DECIMAL(18,9)) AS w
                   FROM ${weights(m)}),
          sc$m AS MATERIALIZED (
            SELECT o.docid, o.label,
                   CAST(sum(o.cnt * coalesce(w.w, CAST(0 AS DECIMAL(18,9))))
                        AS DECIMAL(18,9)) AS s_$m
            FROM occf o LEFT JOIN wd$m w USING (feature)
            GROUP BY o.docid, o.label)""").mkString
    def sign(c: String) = s"(CASE WHEN $c > 0 THEN 1 WHEN $c < 0 THEN -1 ELSE 0 END)"
    chains + s""",
          ${scoreOccSql("occf", numFeatures)}$scoring
          SELECT docid, label,
                 CAST(s_0 + s_1 + s_2 AS DOUBLE) / 3.0 AS avg_score,
                 CASE WHEN s_0 + s_1 + s_2 > 0 THEN 'spam' ELSE 'ham' END AS predicted_avg,
                 CASE WHEN ${sign("s_0")} + ${sign("s_1")} + ${sign("s_2")} > 0
                      THEN 'spam' ELSE 'ham' END AS predicted_vote
          FROM sc0 JOIN sc1 USING (docid, label) JOIN sc2 USING (docid, label)"""
  }

  private def trainSeqOracle(steps: Int, numFeatures: Int,
                             shuffleSeed: Option[Long] = None): String =
    "WITH " + trainSeqCtes(steps, numFeatures, shuffleSeed = shuffleSeed) + s"""
          SELECT feature, CAST(w AS DOUBLE) AS weight FROM w$steps"""

  /** RECURSIVE replay of [[trainSeq]] at FULL-CORPUS size — the r7 gap
    * closer: [[trainSeqCtes]] unrolls one CTE per step, which caps the
    * oracle at [[SeqDocs]] instances; this form instead carries the whole
    * weight table through a single `WITH RECURSIVE` iteration (one
    * iteration per instance, step count data-driven via `max(rn)`), so
    * the full-corpus order-dependent fold goes under the DuckDB hash gate
    * with no docid bound. The per-step scalar — score_i = Σ cnt·w over
    * the step's occurrence rows — is a window SUM over the working table
    * LEFT-joined to `occ` at rn = it+1 (DuckDB 1.0 permits window
    * aggregates in the recursive term; verified equal to the unrolled
    * chain at 40 steps). Types pin the identical exact-decimal grid:
    * cnt DECIMAL(4,0), w DECIMAL(18,9), prob DECIMAL(9,6),
    * inc DECIMAL(12,9). Docs with no tokens hold an `inst` row but no
    * `occ` rows: their iteration multiplies inc by coalesce(cnt, 0) = 0 —
    * a no-op, exactly as the Spark fold (which never sees them) behaves.
    */
  private def trainSeqRecCtes(numFeatures: Int, sfx: String = "",
                              shardMod: Int = -1): String = {
    val shard = if (shardMod < 0) "TRUE" else s"doc_id % 3 = $shardMod"
    instOccSql(sfx, numFeatures, shard, "doc_id") + s""",
        wr$sfx(it, feature, w) AS (
          SELECT 0, feature, CAST(0 AS DECIMAL(18,9))
          FROM (SELECT DISTINCT feature FROM occ$sfx)
          UNION ALL
          SELECT it + 1, feature,
            CAST(w + coalesce(cnt, CAST(0 AS DECIMAL(4,0))) *
              CAST((CAST(lbl AS DECIMAL(2,0)) -
                    CAST(round(1.0 / (1.0 + exp(-CAST(scr AS DOUBLE))), 6) AS DECIMAL(9,6)))
                   * CAST(0.002 AS DECIMAL(4,3)) AS DECIMAL(12,9)) AS DECIMAL(18,9))
          FROM (
            SELECT p.it AS it, p.feature AS feature, p.w AS w, o.cnt AS cnt,
                   (SELECT i.label FROM inst$sfx i WHERE i.rn = p.it + 1) AS lbl,
                   coalesce(sum(coalesce(o.cnt, CAST(0 AS DECIMAL(4,0))) * p.w)
                            OVER (), 0) AS scr
            FROM wr$sfx p LEFT JOIN occ$sfx o
              ON o.rn = p.it + 1 AND o.feature = p.feature
            WHERE p.it < (SELECT max(rn) FROM inst$sfx))),
        wf$sfx AS MATERIALIZED (
          SELECT feature, w FROM wr$sfx
          WHERE it = (SELECT max(rn) FROM inst$sfx))"""
  }

  private def trainFullOracle(numFeatures: Int): String =
    "WITH RECURSIVE " + trainSeqRecCtes(numFeatures) + s"""
          SELECT feature, CAST(w AS DOUBLE) AS weight FROM wf"""

  private def applyFullOracle(numFeatures: Int): String =
    applyOracle("WITH RECURSIVE " + trainSeqRecCtes(numFeatures), "wf", numFeatures)

  private def ensembleFullOracle(numFeatures: Int): String =
    ensembleOracle("WITH RECURSIVE " + (0 until 3).map(m =>
        trainSeqRecCtes(numFeatures, sfx = s"m${m}_", shardMod = m)).mkString(",\n          "),
      m => s"wfm${m}_", numFeatures)

  private def applySeqOracle(steps: Int, numFeatures: Int): String =
    applyOracle("WITH " + trainSeqCtes(steps, numFeatures), s"w$steps", numFeatures)

  private def ensembleSeqOracle(steps: Int, numFeatures: Int): String =
    ensembleOracle("WITH " + (0 until 3).map(m =>
        trainSeqCtes(steps, numFeatures, sfx = s"m${m}_", shardMod = m)).mkString(",\n          "),
      m => s"wm${m}_$steps", numFeatures)

  /** Shared oracle front half: train CTEs + holdout scoring, ending at
    * `sc(docid, label, score_d)` — the [[holdoutScored]] replay.
    */
  private def holdoutScoredCtes(steps: Int, numFeatures: Int): String =
    "WITH " + trainSeqCtes(steps, numFeatures) + s""",
          ${scoreOccSql("occh", numFeatures,
            s"WHERE doc_id >= $steps AND ${graft.OracleSql.md5Bucket()} >= 90")},
          ${scoreSql("occh", s"w$steps")}"""

  private def calibrationOracle(steps: Int, numFeatures: Int): String =
    holdoutScoredCtes(steps, numFeatures) + s""",
          pr AS (SELECT label,
                        round(1.0 / (1.0 + exp(-CAST(score_d AS DOUBLE))), 6) AS prob
                 FROM sc),
          bn AS (SELECT label, CAST(prob AS DECIMAL(9,6)) AS prob_d,
                        CAST(least(floor(prob * 10), 9) AS BIGINT) AS bin
                 FROM pr)
          SELECT bin, CAST(count(*) AS BIGINT) AS n,
                 round(CAST(sum(prob_d) AS DOUBLE) / count(*), 6) AS mean_prob,
                 round(CAST(sum(label) AS DOUBLE) / count(*), 6) AS pos_rate
          FROM bn GROUP BY bin"""

  private def confusionOracle(steps: Int, numFeatures: Int, k: Int = 20): String =
    holdoutScoredCtes(steps, numFeatures) + s""",
          fl AS (SELECT label,
                   CASE WHEN row_number() OVER (ORDER BY score_d DESC, docid) <= $k
                        THEN 1 ELSE 0 END AS flag
                 FROM sc),
          cf AS (SELECT
                   CAST(sum(CASE WHEN label = 1 AND flag = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                   CAST(sum(CASE WHEN label = 0 AND flag = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                   CAST(sum(CASE WHEN label = 1 AND flag = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                   CAST(sum(CASE WHEN label = 0 AND flag = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
                 FROM fl)
          SELECT tp, fp, fn, tn,
                 round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) AS precision,
                 round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6) AS recall,
                 round(CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE), 6) AS f1
          FROM cf"""

  /** DuckDB replay of [[rocAuc]]: the [[trainSeqCtes]] chain, the
    * held-out occurrence table (same md5-bucket filter), the exact-decimal
    * scoring aggregate, and the integer Mann-Whitney fold.
    */
  private def rocAucOracle(steps: Int, numFeatures: Int): String =
    holdoutScoredCtes(steps, numFeatures) + s""",
          ps AS (SELECT score_d, CAST(sum(label) AS BIGINT) AS np,
                        CAST(sum(1 - label) AS BIGINT) AS nn
                 FROM sc GROUP BY score_d),
          cm AS (SELECT np, nn,
                        coalesce(sum(nn) OVER (ORDER BY score_d
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_nn
                 FROM ps),
          ag AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
                        CAST(sum(nn) AS BIGINT) AS n_neg,
                        CAST(sum(np * (2 * cum_nn + nn)) AS BIGINT) AS num2
                 FROM cm)
          SELECT n_pos, n_neg, auc, round((1.0 - auc) * 100, 4) AS roca_pct
          FROM (SELECT n_pos, n_neg,
                       round(CAST(num2 AS DOUBLE) /
                             CAST(2 * n_pos * n_neg AS DOUBLE), 6) AS auc
                FROM ag)"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // FULL-CORPUS sequential fold / scoring / ensemble, hash-gated as of
    // round 8: the exact-decimal fold protocol (proven at 40 unrolled-CTE
    // steps by the _seq twins below) run with no docid bound, replayed by
    // a RECURSIVE DuckDB CTE — one iteration per instance, step count
    // data-driven.
    "spam_train"     -> ((s, d) => trainSeqShared(s, d, Long.MaxValue)),
    "spam_apply"     -> ((s, d) => applySeq(s, d, Long.MaxValue)),
    "spam_ensemble"  -> ((s, d) => ensembleSeq(s, d, Long.MaxValue)),
    // Bounded 40-step twins: the same recurrence under the UNROLLED
    // chained-CTE oracle — kept as the independent cross-check of the
    // recursive replay (two oracle constructions, one fold).
    "spam_train_seq" -> ((s, d) => trainSeqShared(s, d)),
    // O4 under the hash gate: identical fold, seeded-shuffle training
    // order — a different weight table than spam_train_seq whenever the
    // hash order differs from docid order (it does for seed 42).
    "spam_train_seq_shuffled" -> ((s, d) => trainSeqShared(s, d, shuffleSeed = Some(ShuffleSeed))),
    "spam_apply_seq" -> ((s, d) => applySeq(s, d)),
    "spam_ensemble_seq" -> ((s, d) => ensembleSeq(s, d)),
    // classifier quality (the reference's 1-ROCA% grading metric) on the
    // held-out hash-split bucket — integer rank arithmetic, hash-gated
    "ml_roc_auc"     -> ((s, d) => rocAuc(s, d)),
    "ml_confusion"   -> ((s, d) => confusion(s, d)),
    "ml_calibration" -> ((s, d) => calibration(s, d)),
  )

  /** Every spam row is hash-gated as of round 8. The full-corpus trio
    * replays through [[trainSeqRecCtes]] (recursive CTE, data-driven step
    * count); the bounded `_seq` twins keep the independent UNROLLED
    * construction of the same recurrence.
    */
  val oracles: Map[String, String] = Map(
    "spam_train" -> trainFullOracle(BatchLogit.NumFeatures),
    "spam_apply" -> applyFullOracle(BatchLogit.NumFeatures),
    "spam_ensemble" -> ensembleFullOracle(BatchLogit.NumFeatures),
    "spam_train_seq" -> trainSeqOracle(SeqDocs.toInt, BatchLogit.NumFeatures),
    "spam_train_seq_shuffled" ->
      trainSeqOracle(SeqDocs.toInt, BatchLogit.NumFeatures, Some(ShuffleSeed)),
    "spam_apply_seq" -> applySeqOracle(SeqDocs.toInt, BatchLogit.NumFeatures),
    "spam_ensemble_seq" -> ensembleSeqOracle(SeqDocs.toInt, BatchLogit.NumFeatures),
    "ml_roc_auc" -> rocAucOracle(SeqDocs.toInt, BatchLogit.NumFeatures),
    "ml_confusion" -> confusionOracle(SeqDocs.toInt, BatchLogit.NumFeatures),
    "ml_calibration" -> calibrationOracle(SeqDocs.toInt, BatchLogit.NumFeatures),
  )
}
