package graft

import org.scalatest.funsuite.AnyFunSuite

/** r13 verdict task 7: shared oracle-SQL fragments must be REFERENCED
  * from [[OracleSql]], never re-inlined — the TokSql consolidation
  * enforced for the next most-copied families. A new inline copy of any
  * of these idioms in a module's oracle string fails here, naming the
  * file, before it can drift from the shared definition.
  */
class OracleFragmentsSpec extends AnyFunSuite {

  private def mainSources: Seq[(String, String)] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    java.nio.file.Files.walk(root).forEach { p =>
      if (p.toString.endsWith(".scala"))
        out += p.toString -> new String(java.nio.file.Files.readAllBytes(p))
    }
    out.toSeq
  }

  private def onlyInOracleSql(fragment: String): Unit = {
    val offenders = mainSources.filter { case (path, text) =>
      text.contains(fragment) && !path.endsWith("OracleSql.scala")
    }.map(_._1)
    assert(offenders.isEmpty,
      s"inline copies of shared oracle fragment '${fragment.take(50)}…' in: " +
        offenders.mkString(", "))
  }

  test("L2-norm idiom lives only in OracleSql") {
    onlyInOracleSql("x -> x::DOUBLE * x::DOUBLE")
  }

  test("md5-bucket idiom lives only in OracleSql") {
    onlyInOracleSql("substring(md5(CAST(doc_id AS VARCHAR))")
  }

  test("trigram-shingle comprehension lives only in OracleSql") {
    // the comprehension form (distinct shingle SET); the positional
    // list_transform trigram in TextAnalysis.fingerprint is a different
    // operator (ordered, duplicates kept) and intentionally not shared
    onlyInOracleSql("[i] || ' ' || w[i+1]")
    onlyInOracleSql("[i] || ' ' || toks[i+1]")
  }

  private def onlyIn(owner: String, fragment: String): Unit = {
    val offenders = mainSources.filter { case (path, text) =>
      text.contains(fragment) && !path.endsWith(owner)
    }.map(_._1)
    assert(offenders.isEmpty,
      s"inline copies of shared oracle fragment '${fragment.take(50)}…' " +
        s"(owner $owner) in: " + offenders.mkString(", "))
  }

  test("quality decimal blend lives only in TextAnalysis.qualityCteSql") {
    // owner-module hoisting (the TokSql precedent): the quality replay
    // is owned by TextAnalysis, referenced by ta_quality and all three
    // curation-pipeline oracles plus st_curate
    onlyIn("TextAnalysis.scala",
      "abs(CAST(stop_ratio AS DECIMAL(8,6)) - CAST(0.1 AS DECIMAL(8,6)))")
  }

  test("incremental-ingestion CTE chain lives only in Dedup") {
    // the batch/corpus/ex/nr chain is owned by Dedup.incrementalCteBody;
    // st_curate's oracle must reference it, not inline a twin
    onlyIn("Dedup.scala", "JOIN corpus co ON c.doc_id = co.doc_id")
  }

  test("min-label reach recursion lives only in OracleSql") {
    // every components replay (Similarity's two embedding dedups,
    // Dedup.groupsOracle, both Curation pipelines, pr_components)
    // references OracleSql.minLabelReach
    onlyInOracleSql("ON reach.r = ")
  }

  private def occurrences(text: String, fragment: String): Int =
    java.util.regex.Pattern.quote(fragment).r.findAllMatchIn(text).size

  private def onceIn(owner: String, fragment: String): Unit = {
    val hits = mainSources.map { case (path, text) => path -> occurrences(text, fragment) }
      .filter(_._2 > 0)
    assert(hits.map(_._1).forall(_.endsWith(owner)) && hits.map(_._2).sum == 1,
      s"'$fragment' must appear once, in $owner; found: " +
        hits.map { case (p, n) => s"$p ($n)" }.mkString(", "))
  }

  test("md5 plane family is rendered once, by Similarity's LSH builder") {
    // lshBandsSql: sim_topk_lsh, _multiprobe, _big, sim_topk_sq and
    // dedup_embedding all splice the one band chain
    onceIn("Similarity.scala", "substr(md5(j::VARCHAR")
  }

  test("Spam's feature hash is rendered once") {
    // Spam.featuresSql: both training chains and every scoring table
    // (BatchLogit keeps its own replay of the same hashing)
    val spam = mainSources.collect { case (p, t) if p.endsWith("ml/Spam.scala") => t }
    assert(spam.size == 1)
    assert(occurrences(spam.head, "substr(md5(w), 1, 8))::BIGINT %") == 1)
  }

  test("BM25 idf is rendered once") {
    // InvertedIndex.bm25ContribSql: ir_bm25 (and its persisted, ×10,
    // rank-eval and hybrid RRF uses) and ir_mlt sum the one contribution
    onceIn("InvertedIndex.scala", "+ 0.5) + 1.0), 6)")
  }

  test("the positional token table is rendered once, by InvertedIndex") {
    // InvertedIndex.positionsSql: ir_phrase, ir_phrase_big, ir_snippet
    // and ir_proximity read the one (doc_id, pos, term) table
    onceIn("InvertedIndex.scala", "unnest(generate_series(1, len(toks))) AS pos")
  }

  test("the ×N corpus inflation lives only in OracleSql") {
    // OracleSql.inflatedDocs: the IR and dedup big-tier replays
    onlyInOracleSql("' zz' || repeat('x'")
  }

  test("the capped shingle self-join is rendered once, by Dedup") {
    // Dedup.cappedJoinCtes: dedup_ngram_capped, _skew and _capped_big
    onceIn("Dedup.scala", "JOIN exk b ON a.g = b.g")
  }

  test("the purchase/click interval join is rendered once, by Streaming") {
    // Streaming.intervalJoinSql: st_interval_join and st_interval_left
    onceIn("Streaming.scala", "c.ts <= p.ts AND c.ts > p.ts - INTERVAL 6 HOUR")
  }

  test("the ×10 inflated events CTE is rendered once, by Streaming") {
    // Streaming.inflatedEventsCte: st_sessions_big and st_sliding_rollup_big
    onceIn("Streaming.scala", "to_days(CAST(r * 7 AS INTEGER))")
  }

  test("the sliding-window rollup is rendered once, by Streaming") {
    // Streaming.slidingRollupSql: st_sliding_rollup and its ×10 tier
    onceIn("Streaming.scala", "// 1800000 - j) * 1800000000 AS start_us")
  }

  test("the st_curate_seq step is rendered once, by Streaming") {
    // Streaming.curateStepCtes: both sequential curation steps
    onceIn("Streaming.scala", ".text) = f.fp")
  }

  test("the co-occurrence pair count is rendered once, by Text") {
    // Text.cooccurrenceSql: text_pmi_pairs, text_llr_pairs, text_pmi_stripes
    onceIn("Text.scala", "WHERE a.w <> b.w GROUP BY 1, 2 HAVING count(*) >= 10")
  }

  test("the bigram expansion is rendered once, by Text") {
    // Text.bigramsSql: the bigram relfreq and stripes oracles and the
    // three Kneser-Ney oracles
    onceIn("Text.scala", "unnest(generate_series(1, len(w)-1)) AS t(i)")
  }

  test("the stripe serialization is rendered once, by Text") {
    // Text.stripesSql: text_bigram_stripes and text_pmi_stripes
    onceIn("Text.scala", "e -> e.key || ':' || CAST(CAST(e.value AS DECIMAL(18,6)) AS VARCHAR)")
  }

  test("the planted phone is rendered once, by Pii") {
    // Pii.injectSql: the fixture and strict injected corpora
    onceIn("Pii.scala", "lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0')")
  }

  test("the funnel purchase stage is rendered once, by Temporal") {
    // Temporal.funnelSql: ev_funnel and ev_funnel_windowed
    onceIn("Temporal.scala", "WHERE event_type = 'purchase' AND t_ms >= c_ms")
  }

  test("the lineitem edge set is rendered once, by PageRank") {
    // PageRank.edgesSql: every graph oracle's edge CTE
    onceIn("PageRank.scala", "FROM lineitem WHERE l_orderkey %")
  }

  test("the shared definitions render the expected SQL") {
    assert(OracleSql.md5Bucket() ===
      "CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100")
    assert(OracleSql.l2norm("e.x") ===
      "sqrt(list_sum(list_transform(e.x, x -> x::DOUBLE * x::DOUBLE)))")
    assert(OracleSql.cos6("a", "b").contains(OracleSql.l2norm("a")))
    assert(OracleSql.shingle3("w").contains("generate_series(1, len(w) - 2)"))
    assert(OracleSql.minLabelReach("n", "id", "ed") ===
      """reach(v, r) AS (
            SELECT id, id FROM n
            UNION
            SELECT reach.v, x.b FROM reach JOIN ed x ON reach.r = x.a)""")
  }
}
