package graft

/** Shared DuckDB oracle-SQL idioms (r13 verdict task 7): the fragments
  * that had drifted into verbatim copies across modules' oracle strings
  * — the TokSql-consolidation treatment (text/Text.scala) applied to the
  * next most-copied families (17 inline L2-norm copies, 8 md5-bucket
  * copies, 5 trigram-shingle copies before the hoist), and the recursive
  * min-label reachability of every components replay (6 copies across
  * Similarity, Dedup, Curation and PageRank), the ×N scale-tier corpus
  * ([[inflatedDocs]]: the IR and dedup big-tier replays) and the bounded
  * rank tail of the global rankings ([[rankedTop]]). One definition each;
  * OracleFragmentsSpec asserts modules REFERENCE these instead of
  * inlining twins, so a semantics fix lands everywhere at once.
  */
object OracleSql {

  /** L2 norm of a DuckDB list column — every element cast to DOUBLE
    * (floats and ints widen exactly), summed in list order.
    */
  def l2norm(col: String): String =
    s"sqrt(list_sum(list_transform($col, x -> x::DOUBLE * x::DOUBLE)))"

  /** 6-dp cosine between two list columns — dot product in
    * left-to-right list order, one IEEE division, round 6: the exact
    * idiom every embedding oracle shares with the Spark side's
    * FloatDot/round(…, 6) contract.
    */
  def cos6(a: String, b: String): String =
    s"""round(list_sum(list_transform(list_zip($a, $b),
               p -> p[1]::DOUBLE * p[2]::DOUBLE)) /
             (${l2norm(a)} *
              ${l2norm(b)}), 6)"""

  /** Content-stable md5 integer: the first 8 hex chars of md5(expr) as
    * BIGINT — the basis of every deterministic split/bucket (the
    * ml_hash_split convention; Spark twin:
    * `conv(substring(md5(CAST(expr AS STRING)), 1, 8), 16, 10)`).
    */
  def md5U32(expr: String): String =
    s"CAST('0x' || substring(md5(CAST($expr AS VARCHAR)), 1, 8) AS BIGINT)"

  /** Content-stable bucket in [0, mod). */
  def md5Bucket(expr: String = "doc_id", mod: Int = 100): String =
    s"${md5U32(expr)} % $mod"

  /** Distinct word-trigram shingles of a token-list column — the dedup
    * family's shared shingle builder (Spark twin: ArrayExprs.wordShingles
    * at n = 3).
    */
  def shingle3(toks: String): String =
    s"""list_distinct([$toks[i] || ' ' || $toks[i+1] || ' ' || $toks[i+2]
                       for i in generate_series(1, len($toks) - 2)])"""

  /** Recursive min-label reachability: `reach(v, r)` holds every node r
    * reachable from v (v itself included) over `edges(a, b)` (both
    * directions listed), seeded with every `id` of `nodes` — so
    * `SELECT v, min(r) FROM reach GROUP BY v` labels each node with its
    * component's smallest id, the [[graft.graph.Components]] labels.
    * UNION (not UNION ALL) makes the recursion stop at the fixpoint; the
    * statement needs `WITH RECURSIVE`.
    */
  def minLabelReach(nodes: String, id: String, edges: String): String =
    s"""reach(v, r) AS (
            SELECT $id, $id FROM $nodes
            UNION
            SELECT reach.v, x.b FROM reach JOIN $edges x ON reach.r = x.a)"""

  /** The ×`replicas` inflated `documents` as a FROM item `(doc_id, src_id,
    * text)`: copy r of source doc `src_id` is doc `src_id * replicas + r`,
    * and copies r > 0 append the token `zz` + r×`x` (SQL twin of
    * [[graft.Tables.documentsInflated]]).
    */
  def inflatedDocs(replicas: Int): String =
    s"""(SELECT doc_id * $replicas + r AS doc_id, doc_id AS src_id,
               CASE WHEN r = 0 THEN text
                    ELSE text || ' zz' || repeat('x', CAST(r AS INT)) END AS text
        FROM documents, generate_series(0, ${replicas - 1}) AS t(r))"""

  /** The top `n` rows of the FROM item `from` by `row_number() OVER
    * (window)`, numbered into `rank` and projected to `cols` (Spark twin:
    * [[graft.functions.GroupTopK.rankedTop]]).
    */
  def rankedTop(from: String, window: String, n: Int, cols: String,
                rank: String = "rank"): String =
    s"""SELECT $cols FROM (
          SELECT *, row_number() OVER ($window) AS $rank FROM $from)
        WHERE $rank <= $n"""
}
