package graft.ir

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.OracleSql
import graft.functions.GroupTopK.rankedTop

/** Hybrid retrieval — Reciprocal Rank Fusion (Cormack, Clarke & Büttcher,
  * SIGIR 2009) of a sparse BM25 ranking and a dense embedding-cosine
  * ranking: `rrf(d) = Σ_legs 1/(K + rank_leg(d))`. This is the standard
  * two-tower retrieval shape of RAG and training-data curation stacks;
  * the reference covers only the sparse leg (`BuildInvertedIndexCompressed
  * .java`, the BM25 scoring assignment), so the fusion is extension
  * surface in the same spirit as the ANN tiers.
  *
  * Scale shape: the sparse leg serves from the memoized term-clustered
  * postings relation ([[InvertedIndex.postingsRelation]]); the dense leg
  * is the bounded exact-cosine probe (the `MaxExactVectors` contract —
  * at 100 TB the dense leg swaps to the IVF/LSH tiers, which return the
  * same (doc_id, rank) relation and fuse identically); the fusion itself
  * joins two ≤topN-row rankings — driver-free and trivially cheap. Every
  * ranking step is the bounded [[graft.functions.GroupTopK.rankedTop]],
  * so no partition-less window ever sees more than topN (legs) / k
  * (fusion) rows.
  *
  * Determinism: both legs round scores to 6 dp with doc-id tiebreaks
  * (the repo-wide portability contract); `1/(K + rank)` on integer ranks
  * is IEEE-exact, so the fused score replays bit-for-bit in the oracle.
  */
object Hybrid {
  /** The canonical fusion constant from the RRF paper (k = 60). */
  val RrfK = 60

  /** Fused top-k: sparse BM25 over `terms` + dense cosine around the
    * `queryVec` embedding (vec_id ≡ doc_id in the fixture: the embeddings
    * table is the documents' embedding column). Either leg may miss a
    * doc — the fusion is a full-outer join and a missing leg contributes
    * zero, exactly the RRF paper's treatment of unranked documents.
    */
  def rrf(spark: SparkSession, dir: String,
          terms: Seq[String] = Seq("spark", "table", "merge"),
          queryVec: Long = 0L, topN: Int = 20, k: Int = 10): DataFrame = {
    val sparse = InvertedIndex.bm25(spark, dir, terms, topN = topN)
      .select(col("doc_id"), col("rank").as("srank"))

    val e = graft.Tables.embeddings(spark, dir)
      .where(col("vec_id") < graft.sim.Similarity.MaxExactVectors)
      .select(col("vec_id"), col("embedding"),
        sqrt(graft.functions.ArrayExprs.floatDot(col("embedding"), col("embedding")))
          .as("norm"))
    val q = e.where(col("vec_id") === queryVec)
      .select(col("embedding").as("qe"), col("norm").as("qn"))
    val cos = e.where(col("vec_id") =!= queryVec)
      .crossJoin(broadcast(q)) // 1-row query embedding (the bm25 stats shape)
      .select(col("vec_id").as("doc_id"),
        round(graft.functions.ArrayExprs.floatDot(col("embedding"), col("qe")) /
          (col("norm") * col("qn")), 6).as("cos"))
    val dense = rankedTop(cos, "cos", "doc_id", topN, "drank")
      .select(col("doc_id"), col("drank"))

    val fused = sparse.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("srank"), col("drank"),
        round(
          coalesce(lit(1.0) / (lit(RrfK) + col("srank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("drank")), lit(0.0)), 9).as("rrf"))
    rankedTop(fused, "rrf", "doc_id", k)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ir_hybrid_rrf" -> ((s, d) => rrf(s, d)),
  )

  val oracles: Map[String, String] = Map(
    // Replays both legs end to end: the ir_bm25 replay itself (its
    // rank <= 20 cut is the sparse leg) and the dense cosine probe around
    // doc 0, then the full-outer RRF fusion with the canonical k=60.
    "ir_hybrid_rrf" ->
      s"""WITH sp AS (
            SELECT doc_id, rank AS srank FROM (${InvertedIndex.bm25OracleSql()})),
          en AS (SELECT vec_id, embedding FROM embeddings
                 WHERE vec_id < ${graft.sim.Similarity.MaxExactVectors}),
          qv AS (SELECT embedding AS qe FROM en WHERE vec_id = 0),
          cs AS (
            SELECT a.vec_id AS doc_id,
                   ${OracleSql.cos6("a.embedding", "q.qe")} AS cos
            FROM en a CROSS JOIN qv q
            WHERE a.vec_id <> 0),
          dn AS (${OracleSql.rankedTop("cs", "ORDER BY cos DESC, doc_id", 20,
                   "doc_id, drank", "drank")}),
          fu AS (
            SELECT doc_id, srank, drank,
                   round(coalesce(CAST(1.0 AS DOUBLE) / (60 + srank), 0.0) +
                         coalesce(CAST(1.0 AS DOUBLE) / (60 + drank), 0.0), 9) AS rrf
            FROM sp FULL OUTER JOIN dn USING (doc_id))
          ${OracleSql.rankedTop("fu", "ORDER BY rrf DESC, doc_id", 10,
            "doc_id, srank, drank, rrf, rank")}""",
  )
}
