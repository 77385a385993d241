package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** k-core decomposition — graph-mining extension beyond the reference's
  * PageRank-only surface (reference graph jobs: `PageRank.java`,
  * `PartitionGraph.java`; no subgraph-mining operator exists there). The
  * k-core is the maximal subgraph in which every node has degree ≥ k,
  * computed by the standard peel: repeatedly delete nodes of degree < k
  * until a fixpoint. It is the workhorse "dense-community vs periphery"
  * split used on web/citation graphs at corpus scale.
  *
  * Graph: the uniform pr_* fixture graph is a near-regular random graph
  * whose binomial degree concentration makes every core all-or-nothing
  * (measured: any k ≤ avg keeps all 1000 nodes, any k ≥ avg(1±2%) peels
  * to empty in ≤ 4 rounds — no k yields structure). The kcore fixture
  * instead maps one endpoint through the harmonic step 1000 div (1+r),
  * giving a power-law-ish hub head (node 1 adjacent to ~half the key
  * range) over a uniform periphery — deterministic arithmetic the oracle
  * replays verbatim, same technique as the dedup_ngram_skew corpus.
  *
  * Threshold: k = ceil(0.6 · avg-degree) — RELATIVE, so the query tracks
  * graph density across scale factors instead of hard-coding a fixture
  * constant (measured: core 176/1001 nodes at sf0.01, 85/1001 at sf0.1;
  * peel depth ≤ 10 rounds across the sweep). k is derived distributively
  * from one (V, E) aggregate row and leaves the cluster as ONE bounded
  * driver scalar (the [[IterativeLoop]] one-scalar-per-round budget).
  *
  * Scale shape: each round is two semi-joins of the edge set against the
  * current survivor set (keyed on the endpoint ids — never a broadcast of
  * a corpus-sized survivor list), one endpoint-explode degree count, one
  * ≥ k filter. Survivor sets shrink monotonically, so the convergence
  * certificate is a count() equality per round (one scalar action, the
  * [[IterativeLoop]] rule). Each round's plan is truncated to a LogicalRDD
  * leaf (the iterative-loop rule: the survivor frame is referenced by two
  * semi-join sides per round, so analyzed plans would grow 2^rounds).
  *
  * Oracle contract: the peel is idempotent after its fixpoint, so a
  * bounded [[MaxRounds]]-step unroll replays a converged run exactly; the
  * loop `require`s convergence within that bound to keep the contract
  * honest (measured depth ≤ 10; bound 12).
  */
object KCore {

  /** Convergence bound: the oracle unrolls exactly this many idempotent
    * peel rounds, so a run that has not converged by then would diverge
    * from the oracle — the loop fails loudly instead.
    */
  val MaxRounds = 12

  /** Hub-skewed undirected fixture graph: canonicalized distinct edges
    * (1000 div (1 + l_orderkey mod 1000)) — (l_partkey mod 1000), self
    * loops dropped. floor(1000.0 / x) over positive sub-2^10 values is
    * exact in double, so Spark and the oracle compute identical keys.
    * Memoized as corpus prep (the triangles `und` contract: the edge set
    * is referenced by both semi-join sides every round).
    */
  def edges(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.memoized(spark, dir, "graph:kcore_und") {
      val raw = Tables.lineitem(spark, dir).select(
        floor(lit(1000.0) / (lit(1L) + pmod(col("l_orderkey"), lit(1000L))))
          .cast("long").as("src"),
        pmod(col("l_partkey"), lit(1000L)).as("dst"))
      raw.where(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
        // explicit count: keep the advertised hash(a) placement
        // AQE-proof (r15, see Dedup.skewShingles for the mechanism)
        .repartition(spark.sessionState.conf.numShufflePartitions, col("a"))
    }

  private def endpoints(und: DataFrame): DataFrame =
    und.select(explode(array(col("a"), col("b"))).as("id"))

  /** Per-node core membership at k = ceil(factor · avg-degree): one row
    * per graph node — (id, in_core, core_deg) where core_deg is the
    * node's degree INSIDE the surviving core (0 outside).
    */
  def kcore(spark: SparkSession, dir: String, factor: Double = 0.6): DataFrame = {
    val und = edges(spark, dir)
    val nodes = endpoints(und).distinct()
    // one bounded driver scalar: the (V, E) aggregate row that fixes k
    val row = und.agg(count(lit(1)).as("e"))
      .crossJoin(nodes.agg(count(lit(1)).as("v"))).head()
    val k = math.ceil(factor * 2.0 * row.getLong(0) / row.getLong(1)).toLong

    // survivors ⊆ previous survivors each round, so count equality is a
    // set-equality certificate;
    // truncation / cache lifecycle / the MaxRounds cap live in
    // [[IterativeLoop]]. State rounds ≥ 1 carry (id, core_deg); the
    // initial all-nodes state enters as core_deg 0 (replaced round 1).
    val init = graft.Caches.register(
      nodes.select(col("id"), lit(0L).as("core_deg")).persist())
    val deg = IterativeLoop.converge[Long](
      init, MaxRounds, "k-core peel", initialProbe = Some(init.count()))(
      (surv, _) => {
        val alive = und
          .join(surv.select(col("id").as("a")), Seq("a"), "left_semi")
          .join(surv.select(col("id").as("b")), Seq("b"), "left_semi")
        endpoints(alive).groupBy(col("id"))
          .agg(count(lit(1)).as("core_deg"))
          .where(col("core_deg") >= k)
      })(
      _.count())(
      (prevCount, nextCount, _, _) => prevCount.contains(nextCount))
    nodes.join(deg, Seq("id"), "left_outer")
      .select(col("id"),
        col("core_deg").isNotNull.as("in_core"),
        coalesce(col("core_deg"), lit(0L)).as("core_deg"))
  }

  /** The [[MaxRounds]]-step unrolled peel as chained CTEs — idempotent
    * after the fixpoint, so it replays the converged loop exactly (the
    * pr_components_10k unroll technique).
    */
  private def kcoreOracle(factor: Double): String = {
    val rounds = (1 to MaxRounds).map { i =>
      val prev = if (i == 1) "n0" else s"s${i - 1}"
      s"""d$i AS MATERIALIZED (
            SELECT id, count(*) AS core_deg FROM (
              SELECT a AS id FROM und
              WHERE a IN (SELECT id FROM $prev) AND b IN (SELECT id FROM $prev)
              UNION ALL
              SELECT b AS id FROM und
              WHERE a IN (SELECT id FROM $prev) AND b IN (SELECT id FROM $prev))
            GROUP BY id),
          s$i AS MATERIALIZED (SELECT id FROM d$i, kk WHERE core_deg >= k)"""
    }.mkString(",\n          ")
    s"""WITH und AS MATERIALIZED (
          SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM (
            SELECT CAST(floor(1000.0 / (1 + l_orderkey % 1000)) AS BIGINT) AS src,
                   l_partkey % 1000 AS dst
            FROM lineitem)
          WHERE src <> dst),
        n0 AS MATERIALIZED (
          SELECT DISTINCT id FROM (
            SELECT a AS id FROM und UNION ALL SELECT b AS id FROM und)),
        kk AS (
          SELECT CAST(ceil($factor * 2.0 * e / v) AS BIGINT) AS k FROM
            (SELECT CAST(count(*) AS DOUBLE) AS e FROM und),
            (SELECT CAST(count(*) AS DOUBLE) AS v FROM n0)),
        $rounds
        SELECT n0.id,
               d.core_deg IS NOT NULL AS in_core,
               COALESCE(d.core_deg, 0) AS core_deg
        FROM n0 LEFT JOIN
          (SELECT d$MaxRounds.id, d$MaxRounds.core_deg FROM d$MaxRounds
           JOIN s$MaxRounds USING (id)) d
        ON n0.id = d.id"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pr_kcore" -> ((s, d) => kcore(s, d))
  )

  val oracles: Map[String, String] = Map(
    "pr_kcore" -> kcoreOracle(0.6)
  )
}
