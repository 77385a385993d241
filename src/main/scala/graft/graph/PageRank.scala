package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** a4 personalized PageRank (`RunPersonalizedPageRankBasic.java`), rebuilt
  * as an iterative DataFrame driver loop.
  *
  * Reference protocol, preserved exactly — in linear FIXED-POINT
  * micro-unit arithmetic (1.0 ≡ 1,000,000; see [[runOnGraph]] for why
  * cross-engine double rounding forced this) instead of log-domain
  * floats — the log domain is a float-underflow workaround, not a
  * semantic; the reference's own output precision is 5 decimals,
  * `ExtractTopPersonalizedPageRankNodes.java:166`):
  *  - multi-source: one rank per source per node; init rank=1 at source
  *    (`BuildPersonalizedPageRankRecords.java:111`);
  *  - per iteration, each node sends rank/outdegree to its neighbors
  *    (half-up integer share); mass sent to dangling ends or nonexistent
  *    nodes vanishes (`:257-265`);
  *  - missing mass m_i = max(0, 1 − Σ received_i) computed globally
  *    (`:458-464`) — here a one-row `agg(sum)` broadcast back (the only
  *    per-iteration global transfer: one long per source);
  *  - re-injection at the source only (`:341-352`):
  *    source: rank = α + (1−α)·(received + missing); others: (1−α)·received.
  *
  * Ranks are flat columns rank_0..rank_{k−1} (k sources is small and
  * fixed), so each iteration is: one shuffle join rank⋈edges on src, one
  * partial+final aggregation by dst, one broadcast-ish left join back to
  * the node set. At 1000 executors the node set and edges would be
  * co-partitioned by id once (`repartition(id)` + cache) and reused every
  * iteration; lineage is cut with localCheckpoint every few iterations
  * (the reference's per-iteration SequenceFile round-trip, S4).
  */
object PageRank {
  val Alpha = 0.15 // RunPersonalizedPageRankBasic.java:366

  /** Deterministic fixture-derived graph: `mod` nodes; distinct edges
    * (l_orderkey%mod → l_partkey%mod), self-loops dropped. Dangling and
    * unreferenced nodes occur naturally. mod=100 is the oracle tier (the
    * 10-iteration chained-CTE replay stays tractable); mod=10000 is the
    * measurement tier — same loop, a working set that actually exercises
    * the per-iteration shuffles (reference a4 ran wiki-scale,
    * `assignment4.md:3-25`).
    */
  def edges(spark: SparkSession, dir: String, mod: Long = 100): DataFrame =
    // memoized per (dir, mod): the derivation is a 600k-row lineitem scan
    // + distinct at sf0.1, and EVERY graph family (pagerank, bfs/sssp,
    // triangles, link prediction, hits, components) re-ran it privately
    // inside its own corpus-prep build. One cached base edge set per mod
    // now feeds them all; downstream memos (und/oriented/hits copies)
    // derive from the cache. The personalized-PageRank LOOP is the one
    // deliberate exception (see [[topK]]): its per-iteration planning
    // measures faster against full-lineage inline prep than against a
    // truncated memo leaf, so it derives from [[edgesUncached]].
    graft.Caches.memoized(spark, dir, s"graph:edges_$mod")(
      edgesUncached(spark, dir, mod))

  private[graft] def edgesUncached(spark: SparkSession, dir: String, mod: Long): DataFrame =
    Tables.lineitem(spark, dir)
      .select(pmod(col("l_orderkey"), lit(mod)).as("src"),
        pmod(col("l_partkey"), lit(mod)).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()

  def nodes(spark: SparkSession, dir: String, mod: Long = 100): DataFrame =
    // memoized like [[edges]]: the union+distinct over the edge cache is
    // corpus prep re-run per consuming query otherwise (triangles, bfs,
    // sssp, components, hits all close over the node set) — ~0.3 s/rep
    // at the 10k tier. The personalized-PageRank loop keeps deriving
    // from [[nodesUncached]] (see [[edges]]' note).
    graft.Caches.memoized(spark, dir, s"graph:nodes_$mod") {
      edges(spark, dir, mod).select(col("src").as("id"))
        .union(edges(spark, dir, mod).select(col("dst").as("id")))
        .distinct()
    }

  private def nodesUncached(spark: SparkSession, dir: String, mod: Long): DataFrame = {
    val e = edgesUncached(spark, dir, mod)
    e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct()
  }

  /** Outdegree per node (dangling nodes absent ⇒ their mass vanishes, as
    * in the reference).
    */
  def outDegrees(spark: SparkSession, dir: String): DataFrame =
    edges(spark, dir).groupBy(col("src")).agg(count(lit(1)).as("outdeg"))

  /** Parse the reference's adjacency-text graph format
    * (`BuildPersonalizedPageRankRecords.java:81-97`: whitespace-separated
    * `nodeid [neighbor...]`, one node per line). Returns (nodes, edges).
    * Only LISTED nodes exist: mass sent to an unlisted neighbor vanishes
    * (`RunPersonalizedPageRankBasic.java:257-265`) — [[runOnGraph]] keeps
    * that semantic because its node set is exactly the listed ids.
    */
  def fromAdjacency(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val lines = spark.read.text(path)
      .select(split(trim(col("value")), "\\s+").as("f"))
      .filter(size(col("f")) > 0 && col("f").getItem(0) =!= "")
    val nodes = lines.select(col("f").getItem(0).cast("long").as("id"))
    val edges = lines
      .select(col("f").getItem(0).cast("long").as("src"),
        explode(expr("slice(f, 2, size(f) - 1)")).as("d"))
      .select(col("src"), col("d").cast("long").as("dst"))
    (nodes, edges)
  }

  /** Run personalized PageRank for the given sources; returns
    * (id, rank_0.., one column per source) as double ranks.
    */
  def run(spark: SparkSession, dir: String, sources: Seq[Long], iterations: Int): DataFrame =
    microsToRanks(
      runOnGraph(nodesUncached(spark, dir, 100), edgesUncached(spark, dir, 100),
        sources, iterations),
      sources)

  /** Convert the loop's micro-unit longs to double ranks: one exact
    * int→double division per column — portable because both engines
    * divide the same exact integers.
    */
  private def microsToRanks(df: DataFrame, sources: Seq[Long]): DataFrame =
    df.select(col("id") +: sources.indices.map(i =>
      (col(s"rank_$i").cast("double") / lit(1000000.0)).as(s"rank_$i")): _*)

  /** Core driver loop over an explicit (nodes, edges) graph. Mass sent to
    * a dst not in `nodes` vanishes and returns via the missing-mass
    * re-injection — the reference's protocol for nonexistent nodes.
    *
    * The loop is fully plan-side: the per-source missing mass is a one-row
    * global aggregate joined back with `crossJoin(broadcast(...))`, not a
    * driver `.head()` — no per-iteration driver-side DATA transfer, no
    * session-conf mutation. Lineage is cut with a LAZY `localCheckpoint`
    * every [[CheckpointEvery]] iterations (see its note for why 1 measured
    * fastest: the twice-referenced `joined` subtree doubles the logical
    * plan per uncut iteration).
    *
    * `partitions`: explicit shuffle width for the per-iteration joins/aggs
    * (`repartition(p, key)` on every exchange, so the session's
    * `spark.sql.shuffle.partitions` is never touched). An iterative loop
    * re-shuffles its (small, fixed-size) rank frame every iteration, so the
    * width must track the WORKING SET, not the session default — 32
    * partitions over a 100-row frame is pure scheduling overhead ×
    * iterations (measured 2× on the bench). Defaults to the session width.
    */
  def runOnGraph(nodesDf: DataFrame, edgesDf: DataFrame,
                 sources: Seq[Long], iterations: Int,
                 partitions: Option[Int] = None): DataFrame = {
    val spark = nodesDf.sparkSession
    val p = partitions.getOrElse(
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val outdeg = edgesDf.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // e is cached partitioned by DST — the key of the per-iteration
    // receive AGGREGATION, not of the join: the node-sized rank frame is
    // broadcast into the edge join (a checkpoint-truncated iterate has no
    // stats, so without the hint every iteration planned a SortMergeJoin
    // that re-sorted the edge cache — the pr_hits finding), the BHJ
    // output inherits e's hash(dst, p) partitioning, and the groupBy(dst)
    // runs with NO exchange. Valid while the rank frame fits the
    // broadcast budget (node-count × (1+|sources|) longs); a
    // billion-node graph flips back to co-partitioned shuffle joins.
    val e = graft.Caches.register(edgesDf.join(outdeg, "src")
      .select(col("src"), col("dst"), col("outdeg"))
      .repartition(p, col("dst")).persist())
    val n = graft.Caches.register(nodesDf.repartition(p, col("id")).persist())
    runOnPrepared(e, n, sources, iterations)
  }

  /** The loop body over an ALREADY-placed (edges⋈outdeg, nodes) pair —
    * [[runOnGraph]] minus the prep, for callers whose pair lives in a
    * cross-query memo (the [[topK]] registry path).
    */
  private def runOnPrepared(e: DataFrame, n: DataFrame,
                            sources: Seq[Long], iterations: Int): DataFrame = {

    // FIXED-POINT MICRO-UNITS (r11): the recurrence previously ran in
    // per-iteration 6-dp-rounded doubles, but cross-engine
    // `round(double, 6)` is NOT portable on short-decimal values — Spark
    // rounds the shortest decimal rendering (BigDecimal.valueOf) while
    // DuckDB rounds the binary value, and a quotient like
    // 0.024699 / 6 = 0.0041165 sits exactly on the half boundary where
    // the two split (observed: the sf0.001 10k tier drifted one grid
    // step, node 105: 0.0538 vs 0.05379; the per-iteration double SUMS
    // were additionally accumulation-order-sensitive). Integer
    // micro-units (1.0 ≡ 1,000,000 — the mm_features integer-ppm
    // technique) make every step exact in ANY engine: half-up integer
    // division for the per-edge share and the α blend, plain long sums
    // (order-free) for the receive and missing-mass aggregates. Rank
    // columns are LONG micros throughout the loop; [[run]] and [[topK]]
    // convert at the protocol edge with one exact int→double division.
    val rankCols = sources.indices.map(i => s"rank_$i")
    val init = n.select(col("id") +: sources.zipWithIndex.map { case (s, i) =>
      when(col("id") === s, lit(RankOne)).otherwise(lit(0L)).as(s"rank_$i")
    }: _*)

    IterativeLoop.fixedBudget(init, iterations, CheckpointEvery) { (ranks, _) =>
      // Phase 1: distribute along edges — each out-edge gets the node's
      // half-up integer share ((2a + b) DIV 2b = round(a/b) for a,b ≥ 0);
      // unreceiving nodes get 0. The rank frame broadcasts (see e's
      // note); the join output keeps e's hash(dst, p), so the receive
      // aggregation is exchange-free.
      val contrib = e.join(broadcast(ranks), col("id") === col("src"))
        .select(col("dst") +:
          rankCols.map(c =>
            expr(s"($c * 2 + outdeg) DIV (outdeg * 2)").as(c)): _*)
      val received = contrib.groupBy(col("dst"))
        .agg(rankCols.map(c => sum(col(c)).as(c)).head,
          rankCols.map(c => sum(col(c)).as(c)).tail: _*)
      // `joined` feeds BOTH the mass aggregate and phase 2 — without the
      // exchange the old shape left for ReuseExchange to dedupe, the lazy
      // cut is what keeps the edge join from executing twice per
      // iteration (the shared RDD is computed once at action time).
      val joined = n.join(received, col("id") === col("dst"), "left_outer")
        .select(col("id") +:
          rankCols.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
        .localCheckpoint(eager = false)

      // Missing (dangling) mass per source, clamped ≥ 0
      // (RunPersonalizedPageRankBasic.java:458-464) — a one-row global
      // aggregate broadcast back onto every node row: stays distributed,
      // costs one broadcast of `sources.size` longs; the long sum is
      // exact, so the total is accumulation-order-free.
      val missAggs = sources.indices.map(i =>
        greatest(lit(0L), lit(RankOne) - sum(col(s"rank_$i"))).as(s"miss_$i"))
      val mass = joined.agg(missAggs.head, missAggs.tail: _*)

      // Phase 2: jump + re-injection at the source only (:341-352) —
      // α = 0.15 is exactly 2-dp, so the blend is the half-up integer
      // percent form (x·85 + 50) DIV 100.
      joined.crossJoin(broadcast(mass))
        .select(col("id") +: sources.zipWithIndex.map { case (s, i) =>
          when(col("id") === s,
            lit(AlphaMicros) +
              expr(s"((rank_$i + miss_$i) * $OneMinusAlphaPct + 50) DIV 100"))
            .otherwise(expr(s"(rank_$i * $OneMinusAlphaPct + 50) DIV 100"))
            .as(s"rank_$i")
        }: _*)
    }
  }

  /** One unit of rank mass in micro-units, and α's fixed-point forms —
    * the protocol requires α on the 2-dp grid (0.15 is, reference :366).
    */
  private val RankOne = 1000000L
  // math.round, NOT .toLong: truncation only lands on the exact integer
  // because 0.15·1e6 happens to round UP to 150000.0 in IEEE — a future
  // α like 0.29 would silently truncate to an off-by-one constant. The
  // requires pin that both fixed-point forms are exact.
  private val AlphaMicros = math.round(Alpha * RankOne) // 150000
  private val OneMinusAlphaPct = math.round((1 - Alpha) * 100) // 85
  require(AlphaMicros % 10000 == 0 && OneMinusAlphaPct == 100 - AlphaMicros / 10000,
    s"alpha must sit on the 2-dp grid with consistent fixed-point forms: " +
      s"$AlphaMicros micros vs $OneMinusAlphaPct pct")

  /** Lineage-cut cadence. The `joined` subtree appears twice per iteration
    * (under the mass aggregate and under the re-injection), so the logical
    * plan grows ~2^k between cuts — measured at sf0.1: every-1 ≈ 4 s,
    * every-3 ≈ 7 s, every-5 ≈ 35 s warm. Catalyst/AQE re-optimization of
    * the doubled tree dominates long before the physical work does
    * (exchanges are deduped by ReuseExchange), so cut every iteration —
    * but LAZILY: `localCheckpoint(eager = false)` replaces the logical
    * tree with a LogicalRDD at compose time (paying only driver-side
    * planning per iteration) without scheduling a job, so the 10
    * per-iteration eager checkpoint actions of the eager form collapse
    * into the one final action, which materializes the chained RDD
    * lineage with its localCheckpoint markers in a single pass.
    */
  val CheckpointEvery = 1

  /** a4 ExtractTopPersonalizedPageRankNodes (`:104-184`): top-k nodes per
    * source — the reference's per-reducer priority queues are a window
    * row_number (or TakeOrdered per source).
    */
  def topK(spark: SparkSession, dir: String, sources: Seq[Long] = Seq(3, 57),
           iterations: Int = 10, k: Int = 10, mod: Long = 100,
           partitions: Int = 4): DataFrame = {
    // oracle-tier fixture graph is ~100 nodes: size the iteration
    // shuffles to the working set (callers pass a wider value for the
    // 10k measurement tier). The (edges ⋈ outdeg, nodes) prep is
    // memoized PER (mod, width) — r11 kept it inline because memoized
    // truncated leaves measured ~1.2 s/rep slower, but that A/B predates
    // the r12 stats discipline: leaves then carried estimate stats and
    // destabilized the per-iteration planning; with measured
    // InMemoryRelation stats the memo pair plans identically and stops
    // re-deriving + re-persisting two frames per rep (which also
    // accumulated full-plan CacheManager entries for the whole run).
    val e = graft.Caches.memoized(spark, dir, s"graph:pr_e_${mod}_$partitions") {
      val ed = edgesUncached(spark, dir, mod)
      ed.join(ed.groupBy(col("src")).agg(count(lit(1)).as("outdeg")), "src")
        .select(col("src"), col("dst"), col("outdeg"))
        .repartition(partitions, col("dst"))
    }
    val n = graft.Caches.memoized(spark, dir, s"graph:pr_n_${mod}_$partitions")(
      nodesUncached(spark, dir, mod).repartition(partitions, col("id")))
    val ranked = runOnPrepared(e, n, sources, iterations)
    val perSource = sources.zipWithIndex.map { case (s, i) =>
      ranked.select(lit(s).as("source"), col("id").as("node"),
        // 5-dp render in INTEGER space: half-up micros → tens-of-micros
        // ((x+5) DIV 10), then ONE exact int→double division. A double
        // round(x, 5) of a value like 0.036395 splits between engines
        // (the micro-unit rationale on runOnGraph).
        expr(s"CAST((rank_$i + 5) DIV 10 AS DOUBLE) / 100000").as("rank"))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("rank").desc, col("node"))
    perSource.reduce(_ union _)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("source"), col("node"), col("rank"))
  }

  /** a4 PartitionGraph (`PartitionGraph.java:56,91-98`): emit the graph
    * as per-node adjacency records split into `n` partitions, hash
    * (default, the reference's choice) or range on the node id. In the
    * reference this decides which reducer file a node lands in; here it
    * is the explicit partitioning of the output DataFrame, and range
    * partitioning gives sorted-run files (the layout a later range scan
    * would prune on).
    */
  def partitionGraph(nodesDf: DataFrame, edgesDf: DataFrame,
                     n: Int, byRange: Boolean = false): DataFrame = {
    val adj = edgesDf.groupBy(col("src").as("id"))
      .agg(sort_array(collect_list(col("dst"))).as("neighbors"))
    val full = nodesDf.join(adj, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("neighbors"), array().cast("array<long>")).as("neighbors"))
    if (byRange) full.repartitionByRange(n, col("id"))
    else full.repartition(n, col("id"))
  }

  /** Physical shape of the triangle count's two adjacency joins (what
    * used to be an in-code comment "at billions of edges the hint is the
    * line to drop" is now a dispatched parameter, both shapes
    * gate-equal).
    */
  sealed trait TriShape
  object TriShape {
    /** Broadcast the node-sized adjacency table into both edge joins:
      * zero shuffles on the edge stream. Valid while the adjacency
      * (one row per node with out-neighbors, Σ = |E| longs) fits the
      * broadcast budget — the fixture tiers by orders of magnitude.
      */
    case object BroadcastAdjacency extends TriShape
    /** Shuffle equi-joins on the edge endpoints: the billion-node scale
      * path — edges and adjacency co-shuffle on the node id, nothing is
      * collected anywhere.
      */
    case object ShuffleAdjacency extends TriShape
  }

  /** Node budget under which [[triangles]] defaults to the broadcast
    * shape: adjacency rows are node-count-bounded, and 1M nodes ≈
    * |E| longs ≲ tens of MB of broadcast. Above it the default flips to
    * the shuffle shape with no caller change.
    */
  val TriangleBroadcastNodeLimit = 1000000L

  /** Per-node triangle participation (graph-extension beyond the
    * reference's PageRank-only surface) by DEGREE-ORDERED adjacency
    * intersection: orient each undirected edge low≺high under the total
    * order (degree, id); a triangle a≺b≺c then has oriented edges
    * (a,b), (a,c), (b,c), so for each edge (a,b) the closing vertices
    * are exactly N⁺(a) ∩ N⁺(b) — each triangle found once at its
    * minimum edge, no post-hoc division. Ordering by degree (ties on
    * id) is the hub-skew guard: a hub's out-edges go only to
    * HIGHER-degree nodes, bounding out-degree at O(√|E|) — id order
    * instead lets one hub with degree d hold a d-element list probed
    * d times.
    *
    * Physically the intersection runs as `array_intersect` over the
    * node-sized adjacency-list table joined onto the edge stream — NOT
    * as the classic wedge self-join: the self-join shape broadcast the
    * full EDGE list twice per run (596k-row hashed relations at the
    * 10k/sf0.1 tier, measured 1.5–2 s of per-run broadcast build and
    * the round's bimodal 2.4–4.7 s), while the adjacency table is
    * node-sized (10k rows) and the wedge stream never materializes —
    * per-edge work is one O(|N⁺(a)|+|N⁺(b)|) intersection inside
    * codegen (measured 1.1–1.5 s, stable). Per-node attribution: edge
    * (a,b) with k closing vertices contributes k to a, k to b, and 1
    * to each closing c — one explode + sum, order-free.
    */
  def triangles(spark: SparkSession, dir: String, mod: Long = 100,
                shape: Option[TriShape] = None): DataFrame = {
    // the canonical degree-ordered edge set: memoized as corpus prep
    // (the minhashBigPortable band-memo contract: derivation computed
    // once at ingest and stored; what the query measures is the join +
    // intersection machinery), which also stops the distinct + two
    // degree joins re-running per reference
    val und = graft.Caches.memoized(spark, dir, s"graph:und_$mod") {
      // derive from the SHARED plain undirected memo (the link-predict
      // family builds the same distinct edge set — r13: one
      // least/greatest + distinct pass per (dir, mod), not one per
      // family)
      val und0 = undPlain(spark, dir, mod)
      val deg = und0.select(col("a").as("id")).union(und0.select(col("b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      und0
        .join(deg.toDF("a", "da"), "a").join(deg.toDF("b", "db"), "b")
        .select(col("a"), col("b"),
          (col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")))
            .as("af"))
        .select(
          when(col("af"), col("a")).otherwise(col("b")).as("a"),
          when(col("af"), col("b")).otherwise(col("a")).as("b"))
    }
    // node-sized oriented adjacency (sorted for deterministic memo
    // content; the aggregate is order-free either way)
    val adj = graft.Caches.memoized(spark, dir, s"graph:adj_$mod") {
      und.groupBy(col("a").as("id"))
        .agg(sort_array(collect_list(col("b"))).as("nbrs"))
    }
    val chosen = shape.getOrElse(
      if (mod <= TriangleBroadcastNodeLimit) TriShape.BroadcastAdjacency
      else TriShape.ShuffleAdjacency)
    def side(df: DataFrame): DataFrame = chosen match {
      case TriShape.BroadcastAdjacency => broadcast(df)
      case TriShape.ShuffleAdjacency   => df
    }
    // every edge's low endpoint a has an out-list by construction ((a,b)
    // itself is in it) — inner join; the high endpoint may have none —
    // left join + empty-list coalesce
    val withAdj = und.toDF("a", "b")
      .join(side(adj.toDF("a", "na")), Seq("a"))
      .join(side(adj.toDF("b", "nb")), Seq("b"), "left")
      .select(col("a"), col("b"),
        array_intersect(col("na"),
          coalesce(col("nb"), array().cast("array<bigint>"))).as("cs"))
    // per-node attribution as ONE flat long array per edge — a and b
    // repeated |cs| times next to the closing vertices — so the explode
    // feeds the aggregate primitive longs (the struct-per-contribution
    // form allocated 2.5M short-lived structs per run at the 10k tier)
    val perNode = withAdj
      .select(explode(concat(
        array_repeat(col("a"), size(col("cs"))),
        array_repeat(col("b"), size(col("cs"))),
        col("cs"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_triangles"))
    // perNode is node-sized like adj, so the zero-reintroduction join
    // rides the same tier dispatch (broadcast below the node budget,
    // shuffle above — without the pin the aggregate's input-sized
    // estimate planned a sort-merge join over two 10k-row sides)
    nodes(spark, dir, mod).join(side(perNode), Seq("id"), "left")
      .select(col("id"), coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** Common-neighbors LINK PREDICTION (the classic friend-of-friend
    * recommender, Liben-Nowell & Kleinberg 2003): for every NON-adjacent
    * pair, score = |Γ(u) ∩ Γ(w)|, computed by wedge enumeration — one
    * self-join of the symmetric adjacency on the CENTER node (u < w
    * canonicalizes the pair), one grouped count, one anti-join removing
    * existing edges, top-k per endpoint. Every join is an id equi-join.
    *
    * Scale note: full-graph CN scoring is Σ C(deg, 2) wedge mass by
    * definition; the production shape (and this query) bounds the QUERY
    * set instead — the ANN nQueries convention. A pair's canonical MIN
    * endpoint decides capture, so the bound pushes INTO the wedge
    * self-join as a filter on one side (u < nQueries ∧ u < w covers
    * every pair a query node participates in), and the join output
    * scales with Σ_{query nodes} deg, not Σ C(deg, 2). Runs on the
    * sparse mod-10000 graph (the mod-100 tier is complete — no
    * non-adjacent pairs exist to predict).
    */
  def linkPredict(spark: SparkSession, dir: String, mod: Long = 10000,
                  k: Int = 3, nQueries: Long = 200): DataFrame = {
    val (und, cand) = cnCandidates(spark, dir, mod, nQueries)
    val perNode = cand
      .select(col("u").as("id"), col("w").as("candidate"), col("common_neighbors"))
      .union(cand
        .select(col("w").as("id"), col("u").as("candidate"), col("common_neighbors")))
      .where(col("id") < nQueries)
    graft.functions.GroupTopK.rankedTopPer(perNode, Seq("id"), "common_neighbors", "candidate", k)
      .select(col("id"), col("rank").cast("int").as("rank"),
        col("candidate"), col("common_neighbors"))
  }

  /** The plain undirected distinct edge set, memoized once per
    * (session, dir, mod) — the shared base of link prediction, BFS,
    * SSSP, AND the triangles family's degree-ordered edges (r13: four
    * consumers previously derived it independently, three sharing one
    * inline memo and triangles re-running the least/greatest + distinct
    * scan inside its own build).
    */
  private def undPlain(spark: SparkSession, dir: String, mod: Long): DataFrame =
    graft.Caches.memoized(spark, dir, s"graph:und_plain_$mod") {
      edges(spark, dir, mod)
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
    }

  /** Shared candidate machinery of [[linkPredict]] and
    * [[linkPredictAdamicAdar]]: (canonical edge set, scored non-adjacent
    * candidate pairs). The Adamic-Adar weight — Σ 1/ln(deg(v)) over
    * common neighbors v, down-weighting promiscuous centers — rides the
    * SAME wedge rows: the per-center weight joins from a broadcast
    * degree table, 6-dp-rounded onto the decimal grid and DECIMAL-summed
    * (order-free — the repo's PMI/BM25 fp protocol), so the oracle
    * replays scores exactly. Centers always have deg ≥ 2 (a wedge needs
    * two spokes), so 1/ln(deg) is finite everywhere it is evaluated.
    */
  private def cnCandidates(spark: SparkSession, dir: String, mod: Long,
                           nQueries: Long): (DataFrame, DataFrame) = {
    val und = undPlain(spark, dir, mod)
    val sym = und.select(col("a").as("v"), col("b").as("n"))
      .union(und.select(col("b").as("v"), col("a").as("n")))
    val degW = sym.groupBy(col("v")).agg(count(lit(1)).as("deg"))
      .where(col("deg") >= 2)
      .select(col("v").as("v3"),
        round(lit(1.0) / log(col("deg").cast("double")), 6)
          .cast("decimal(12,6)").as("wt"))
    // scored candidates memoized: pr_link_predict and pr_link_adamic_adar
    // rank the SAME wedge aggregate — one wedge join per registry run
    val cand = graft.Caches.memoized(spark, dir, s"graph:cn_cand_${mod}_$nQueries") {
      val cn = sym.toDF("v", "u").where(col("u") < nQueries)
        .join(sym.toDF("v2", "w"),
          col("v") === col("v2") && col("u") < col("w"))
        .join(broadcast(degW), col("v") === col("v3"))
        .groupBy(col("u"), col("w"))
        .agg(count(lit(1)).as("common_neighbors"),
          sum(col("wt")).as("aa_d"))
      cn.join(und, cn("u") === und("a") && cn("w") === und("b"), "left_anti")
    }
    (und, cand)
  }

  /** [[linkPredict]] under the Adamic-Adar weighting (Adamic & Adar
    * 2003): rare shared neighbors count more than hubs — the standard
    * refinement wherever raw CN over-credits high-degree centers. Same
    * candidates, ranking by the decimal-exact AA score.
    */
  def linkPredictAdamicAdar(spark: SparkSession, dir: String, mod: Long = 10000,
                            k: Int = 3, nQueries: Long = 200): DataFrame = {
    val (_, cand) = cnCandidates(spark, dir, mod, nQueries)
    val perNode = cand
      .select(col("u").as("id"), col("w").as("candidate"),
        col("common_neighbors"), col("aa_d"))
      .union(cand
        .select(col("w").as("id"), col("u").as("candidate"),
          col("common_neighbors"), col("aa_d")))
      .where(col("id") < nQueries)
    graft.functions.GroupTopK.rankedTopPer(perNode, Seq("id"), "aa_d", "candidate", k)
      .select(col("id"), col("rank").cast("int").as("rank"), col("candidate"),
        col("common_neighbors"), col("aa_d").cast("double").as("adamic_adar"))
  }

  /** Convergence bound for [[bfs]] — the oracle's recursive expansion is
    * depth-capped here, so a run that has not exhausted its frontier
    * within the bound would silently diverge; the loop `require`s
    * convergence instead (the KCore.MaxRounds contract). Sparse-tier
    * eccentricities measured ≤ 13 across the SF sweep; bound 25.
    */
  val MaxHops = 25

  /** Multi-source BFS hop distances — the unweighted single/multi-source
    * shortest-path operator (the one classic graph primitive the family
    * lacked next to PageRank / components / triangles / k-core / link
    * prediction). dist(v) = min hops from ANY source; unreached nodes
    * report −1.
    *
    * Shape: textbook frontier expansion — per round, one equi-join of
    * the symmetric adjacency with the (persisted, truncated) frontier,
    * one distinct, one anti-join against the labeled set; every shuffle
    * keys on node id and the working set only shrinks after the wave
    * peaks. One bounded driver scalar per round (frontier count — the
    * [[IterativeLoop]] budget). At 100 TB this is the
    * standard iterative-BFS plan: no per-round driver data, labels
    * accumulate as a union of ≤[[MaxHops]] persisted leaves.
    *
    * Oracle: bounded recursive CTE over (id, d) pairs with UNION
    * dedup — min(d) per node is idempotent past convergence, so the
    * depth cap only has to DOMINATE the real eccentricity (required at
    * run time), not equal it.
    */
  def bfs(spark: SparkSession, dir: String,
          sources: Seq[Long] = Seq(1L, 57L), mod: Long = 10000): DataFrame = {
    // same memo key + derivation as cnCandidates: one oriented-distinct
    // edge set per (session, dir, mod) serves link prediction AND bfs
    val und = undPlain(spark, dir, mod)
    // the symmetric adjacency is memoized per (mod, width) too (the
    // topK r12 rationale: stop re-shuffling + re-persisting prep per
    // rep and accumulating full-plan CacheManager entries)
    val sym = graft.Caches.memoized(spark, dir, s"graph:bfs_sym_$mod") {
      und.select(col("a").as("v"), col("b").as("n"))
        .union(und.select(col("b").as("v"), col("a").as("n")))
        .repartition(16, col("n"))
    }
    bfsOnGraph(nodes(spark, dir, mod), und, sources, preparedSym = Some(sym))
  }

  /** [[bfs]] over explicit (nodes, canonical undirected edges) frames —
    * the graph-parameterized core the hand-graph spec drives directly.
    */
  def bfsOnGraph(nodesDf: DataFrame, und: DataFrame,
                 sources: Seq[Long], partitions: Int = 16,
                 preparedSym: Option[DataFrame] = None): DataFrame = {
    val spark = und.sparkSession
    import spark.implicits._
    // adjacency cached partitioned by the DISTINCT key n (the ssspOnGraph
    // prep note): the node-sized frontier and labeled set broadcast into
    // the expansion join / anti-join, so each wave costs zero shuffles of
    // the edge set and the distinct reuses hash(n, partitions).
    // `preparedSym`: the registry path hands in a memoized copy instead
    // (built once per run); the inline register stays for spec callers.
    val sym = preparedSym.getOrElse(graft.Caches.register(
      und.select(col("a").as("v"), col("b").as("n"))
        .union(und.select(col("b").as("v"), col("a").as("n")))
        .repartition(partitions, col("n")).persist()))
    // labels accumulate as a union of ≤MaxHops persisted round leaves, so
    // superseded frontiers must NOT be dropped (dropSuperseded = false)
    var labeled = graft.Caches.register(
      sources.toDF("id").withColumn("dist", lit(0L)).persist())
    IterativeLoop.converge[Long](
      labeled, MaxHops, "bfs", dropSuperseded = false)(
      (frontier, depth) => sym.join(broadcast(frontier.select(col("id").as("v"))), Seq("v"))
        .select(col("n").as("id")).distinct()
        .join(broadcast(labeled.select(col("id"))), Seq("id"), "left_anti")
        .withColumn("dist", lit(depth.toLong)))(
      _.count())(
      (_, cnt, _, next) => { labeled = labeled.union(next); cnt == 0 })
    nodesDf.join(labeled, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("dist"), lit(-1L)).as("dist"))
  }

  /** Convergence bound for [[sssp]]. Weighted relaxation can need more
    * rounds than the hop eccentricity (a cheap many-hop detour keeps
    * improving after BFS would have stopped), but each round strictly
    * improves some node's distance, so rounds ≤ the hop length of the
    * longest optimal path. The unrolled oracle replays exactly this many
    * rounds; min-relaxation is idempotent past convergence, so the bound
    * only has to DOMINATE the real convergence depth (required at run
    * time), not equal it. Measured ≤ 15 across the SF sweep; bound 32.
    */
  val SsspMaxRounds = 32

  /** Deterministic per-direction edge weight for [[sssp]]: a pure
    * function of the traversed (v → n) pair so both engines derive it
    * independently — residues are non-negative, so `%` == `pmod`.
    */
  private def edgeWeight(v: Column, n: Column): Column =
    (pmod(v * 31 + n, lit(9)) + 1).cast("long")

  /** Multi-source WEIGHTED shortest paths (Bellman-Ford relaxation) —
    * the weighted companion to [[bfs]]: dist(v) = min over sources of
    * the cheapest path cost, unreached nodes −1. Weights are a
    * deterministic function of the traversed direction ([[edgeWeight]]),
    * so the symmetrized graph is weighted-asymmetric — the general case.
    *
    * Shape: per round, one equi-join of the weighted adjacency with the
    * current distance relation, a min-aggregate by destination, and a
    * full-outer merge keeping the elementwise least — all shuffles key
    * on node id. Unlike BFS the working set is the whole labeled
    * relation (a relaxation can improve an already-labeled node), so the
    * convergence certificate is the monotone pair (labeled count, Σdist):
    * distances only decrease and the labeled set only grows, so the pair
    * is unchanged iff a round was a no-op — one driver-side row per
    * round, the Components budget. Plans are truncated per round (the
    * [[bfsOnGraph]] protocol) to keep the lineage flat across rounds.
    */
  def sssp(spark: SparkSession, dir: String,
           sources: Seq[Long] = Seq(1L, 57L), mod: Long = 10000): DataFrame = {
    val und = undPlain(spark, dir, mod)
    val wadj = graft.Caches.memoized(spark, dir, s"graph:sssp_wadj_$mod") {
      und.select(col("a").as("v"), col("b").as("n"))
        .union(und.select(col("b").as("v"), col("a").as("n")))
        .withColumn("w", edgeWeight(col("v"), col("n")))
        .repartition(16, col("n"))
    }
    ssspOnGraph(nodes(spark, dir, mod), und, sources, preparedWadj = Some(wadj))
  }

  /** [[sssp]] over explicit (nodes, canonical undirected edges) frames —
    * the graph-parameterized core the hand-graph spec drives directly.
    */
  def ssspOnGraph(nodesDf: DataFrame, und: DataFrame,
                  sources: Seq[Long], partitions: Int = 16,
                  preparedWadj: Option[DataFrame] = None): DataFrame = {
    val spark = und.sparkSession
    import spark.implicits._
    // inline persisted prep (the topK protocol), partitioned by the
    // AGGREGATION key n, not the join key v: the node-sized frontier is
    // broadcast into the relaxation join (the pr_hits finding — a
    // truncated iterate has no stats, so the unhinted plan re-sorted the
    // edge cache per round for a SortMergeJoin), the BHJ output inherits
    // hash(n, partitions), and the min-by-destination aggregate runs with
    // no exchange. Broadcast validity: the frontier is at most node-sized
    // — beyond broadcast budget, flip back to co-partitioned joins.
    val wadj = preparedWadj.getOrElse(graft.Caches.register(
      und.select(col("a").as("v"), col("b").as("n"))
        .union(und.select(col("b").as("v"), col("a").as("n")))
        .withColumn("w", edgeWeight(col("v"), col("n")))
        .repartition(partitions, col("n")).persist()))
    // FRONTIER Bellman-Ford: only edges out of nodes whose distance
    // improved last round are relaxed (any future improvement must
    // propagate from an improved node, so frontier-empty == the plain
    // all-edges fixpoint — which is what the idempotent oracle unroll
    // replays). Work per round tracks the improvement wavefront instead
    // of staying |E| forever; convergence is the empty frontier, one
    // bounded driver scalar per round (the bfs budget).
    // state per round: (id, dist, imp) — dist relation plus the improved
    // flag the next round's frontier filters on; init = sources at 0, all
    // improved (the round-1 frontier)
    val init = graft.Caches.register(
      sources.toDF("id").withColumn("dist", lit(0L))
        .withColumn("imp", lit(true)).persist())
    val fin = IterativeLoop.converge[Long](
      init, SsspMaxRounds, "sssp")(
      (merged, _) => {
        val frontier = merged.where(col("imp")).select(col("id"), col("dist"))
        val relaxed = wadj.join(broadcast(frontier.withColumnRenamed("id", "v")), Seq("v"))
          .select(col("n").as("id"), (col("dist") + col("w")).as("cand"))
          .groupBy(col("id")).agg(min(col("cand")).as("cand"))
        merged.select(col("id"), col("dist")).join(relaxed, Seq("id"), "full_outer")
          .select(col("id"),
            least(coalesce(col("dist"), col("cand")),
              coalesce(col("cand"), col("dist"))).as("dist"),
            when(col("dist").isNull, lit(true))
              .otherwise(coalesce(col("cand") < col("dist"), lit(false))).as("imp"))
      })(
      _.where(col("imp")).count())(
      (_, cnt, _, _) => cnt == 0)
    nodesDf.join(fin.select(col("id"), col("dist")), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("dist"), lit(-1L)).as("dist"))
  }

  /** HITS iteration count — like [[SsspMaxRounds]], the oracle unrolls
    * exactly this many rounds (a fixed-budget power iteration, the usual
    * HITS deployment; convergence-to-fixpoint is not part of the
    * contract, the iterate grid is). 5 double-phase iterations = 10
    * edge-sized joins, the same round budget as the pr_toprank tier (each
    * HITS iteration is TWO propagation rounds, so the budget in rounds —
    * not iterations — is what's matched).
    */
  val HitsIterations = 5

  /** HITS hubs & authorities (Kleinberg 1999) — the second iterative
    * linear-algebra operator next to personalized PageRank, on the
    * DIRECTED fixture graph: a(v) ← Σ_{u→v} h(u), h(v) ← Σ_{v→u} a(v's
    * targets), normalized ONCE after the loop. HITS scores are
    * scale-invariant — per-iteration max normalization exists only to
    * prevent overflow — so with DECIMAL(38,6) headroom the loop runs on
    * EXACT integer-valued decimal sums (h₀ = a₀ = 1; every Σ phase an
    * order-free decimal sum; zero doubles until the final division) and
    * the ten per-iteration max-aggregates + broadcasts of the r9 shape
    * collapse into one 2-column max at the end. Magnitude bound: scores
    * grow by ≤ max-degree per propagation round, so after 10 rounds
    * ≤ maxdeg¹⁰ — the fixture's maxdeg ≈ 10² keeps values ≤ 10²⁰,
    * far under DECIMAL(38,6)'s 10³² ceiling (overflow would need
    * maxdeg > 10³·²; re-introduce mid-loop normalization before running
    * denser graphs than that). Per iteration: two edge-keyed
    * join+aggregates and one node-keyed merge; plans truncated per phase
    * ([[bfsOnGraph]] protocol). No driver data at all — the final
    * normalizer stays a broadcast frame.
    */
  def hits(spark: SparkSession, dir: String, mod: Long = 10000,
           k: Int = 20, partitions: Int = 16,
           iterations: Int = HitsIterations): DataFrame = {
    // the a-frame is only assigned inside the power loop, so zero
    // rounds would dereference a null frame at the final join (and an
    // un-stepped init is not a HITS result anyway) — same round-budget
    // discipline the convergence loops enforce
    require(iterations >= 1, s"hits needs at least one iteration, got $iterations")
    // both phases join the edge relation, one on src and one on dst —
    // pre-partition a copy per key at the pinned tier width (the
    // components-10k protocol) so no iteration ever re-exchanges the
    // edge set; the iterate side is node-count-sized and cheap to move
    val eBySrc = graft.Caches.memoized(spark, dir, s"graph:hits_esrc_$mod")(
      edges(spark, dir, mod).repartition(partitions, col("src")))
    val eByDst = graft.Caches.memoized(spark, dir, s"graph:hits_edst_$mod")(
      edges(spark, dir, mod).repartition(partitions, col("dst")))
    val nd = graft.Caches.memoized(spark, dir, s"graph:hits_nodes_$mod")(
      nodes(spark, dir, mod).repartition(partitions, col("id")))
    val one = lit(1).cast("decimal(38,6)")
    val zero = lit(0).cast("decimal(38,6)")
    // SPARSE score relations: a node absent from the current a/h frame
    // has score 0, and zero scores contribute nothing to either Σ phase —
    // so the loop never joins back to the node set and never merges the
    // two score columns (the r9 dense shape paid two nd left-outers plus
    // an a⋈h merge per iteration just to materialize zeros). Zeros are
    // reintroduced once, at the final node-set join.
    //
    // ZERO shuffles per phase: the node-count-sized iterate is BROADCAST
    // into the edge join (a localCheckpoint leaf has no stats, so without
    // the hint every phase planned a SortMergeJoin that re-sorted the
    // 600k-row edge cache — measured ~0.5 s/phase; the broadcast variant
    // runs the whole 10-phase loop in ~1.5 s), and each phase streams the
    // edge copy whose cached partitioning matches its AGGREGATION key
    // (a-phase: eByDst, group by dst; h-phase: eBySrc, group by src), so
    // the join output feeds the groupBy with no exchange at all. Valid
    // while the per-node score frame fits the broadcast budget (~10 MB/M
    // nodes); beyond that, flip back to co-partitioned shuffle joins —
    // the 100 TB graph story is the co-partitioned one, this tier's story
    // is scheduling economy. The whole power iteration stays one lazy
    // plan — zero mid-loop actions — with a LAZY localCheckpoint per
    // phase so re-optimization doesn't compound (eager per-iteration
    // persists + counts measured 3x slower).
    var h = nd.select(col("id"), one.as("s"))
    var a: DataFrame = null
    h = IterativeLoop.fixedBudget(h, iterations, cutEvery = 0) { (hCur, _) =>
      a = eByDst.join(broadcast(hCur.select(col("id").as("src"), col("s"))), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("s")).cast("decimal(38,6)").as("s"))
        .localCheckpoint(eager = false)
      eBySrc.join(broadcast(a.select(col("id").as("dst"), col("s"))), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(sum(col("s")).cast("decimal(38,6)").as("s"))
        .localCheckpoint(eager = false)
    }
    val scores = nd
      .join(a.select(col("id"), col("s").as("a")), Seq("id"), "left_outer")
      .join(h.select(col("id"), col("s").as("h")), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("a"), zero).as("a"),
        coalesce(col("h"), zero).as("h"))
    // top-k by the EXACT decimal authority (normalization is monotone, so
    // ranking before dividing is safe), then one 1-row max broadcast
    // scales both columns onto the 6-dp output grid
    val maxes = scores.agg(max(col("a")).as("amax"), max(col("h")).as("hmax"))
    scores.orderBy(col("a").desc, col("id")).limit(k)
      .crossJoin(broadcast(maxes))
      .select(col("id"),
        round(col("a").cast("double") / col("amax").cast("double"), 6).as("authority"),
        round(col("h").cast("double") / col("hmax").cast("double"), 6).as("hub"))
  }

  /** Connected components of the fixture graph through the shared
    * [[Components]] large-star/small-star module — the module registered
    * as a first-class graph operator, not only as dedup plumbing.
    * mod=100 is the oracle tier (recursive-CTE reachability replay, the
    * dedup_groups technique); [[componentsSummary]] is the measurement
    * tier.
    */
  def components(spark: SparkSession, dir: String, mod: Long = 100): DataFrame = {
    // the oriented-distinct edge set is corpus prep (the und_$mod
    // contract triangles/linkPredict already follow): memoized per
    // (session, dir, mod) so both components tiers and all bench reps
    // share ONE derivation, and the star loop starts on the cached
    // relation (prepared = true) instead of re-orienting per call
    val oriented = graft.Caches.memoized(spark, dir, s"graph:oriented_$mod") {
      edges(spark, dir, mod)
        .select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
        .distinct()
    }
    Components.labels(nodes(spark, dir, mod), oriented,
      // width tracks the edge working set, pr_toprank protocol: 4 for
      // the 100-node oracle tier; 8 for the dense 10k tier (~600k
      // edges) — re-swept after the r11 co-partitioned window shape
      // (4/8/16 at sf0.1, 5 reps quiet: 2.89 / 2.39 / 2.51 s)
      partitions = Some(if (mod <= 1000) 4 else 8), prepared = true)
      .select(col("id"), col("label").as("component_id"))
  }

  /** Measurement tier (pr_toprank_10k pattern): the O(log n) star loop
    * over the mod-10000 graph (~10k nodes, dense edge set at sf0.1),
    * reduced to a one-row structural summary so the bench measures the
    * loop, not a result write. Hash-gated since round 6 via
    * [[componentsSummaryOracle]] — unrolled min-label propagation, since
    * recursive reachability over the dense 10k graph is intractable in
    * DuckDB (reach ≈ nodes × component size). The per-node label set is
    * additionally hash-gated at mod=100 through pr_components.
    */
  def componentsSummary(spark: SparkSession, dir: String, mod: Long = 10000): DataFrame =
    components(spark, dir, mod)
      .groupBy(col("component_id")).agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_components"), max(col("sz")).as("max_size"),
        sum(col("sz")).as("n_nodes"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pr_edges_outdeg" -> ((s, d) => outDegrees(s, d)),
    "pr_toprank"      -> ((s, d) => topK(s, d)),
    "pr_components"     -> ((s, d) => components(s, d)),
    "pr_bfs"            -> ((s, d) => bfs(s, d)),
    "pr_sssp"           -> ((s, d) => sssp(s, d)),
    "pr_hits"           -> ((s, d) => hits(s, d)),
    "pr_components_10k" -> ((s, d) => componentsSummary(s, d)),
    // Measurement tier, hash-gated since round 6: the 10-iteration CTE
    // unroll IS tractable in DuckDB at the t2 gate (~55k edges, <1 s) —
    // the 6-dp per-iteration rounding grid makes both engines' inputs to
    // every round bit-identical, so the mod substitution is the only
    // oracle change. ~10k nodes, shuffles sized to the working set. No
    // driver-side data transfer beyond the per-source mass scalars — the
    // same plan-side loop as pr_toprank. Width measured at sf0.1
    // (local[32], cold caches, 2 reps): p=4 → 8.3 s, p=8 → 6.4 s,
    // p=16 → 9.0 s, p=32 → 10.3 s — 8 partitions balances per-iteration
    // scheduling overhead against parallelism for this working set.
    "pr_toprank_10k"  -> ((s, d) => topK(s, d, mod = 10000, partitions = 8)),
    "pr_triangles"    -> ((s, d) => triangles(s, d)),
    "pr_link_predict" -> ((s, d) => linkPredict(s, d)),
    "pr_link_adamic_adar" -> ((s, d) => linkPredictAdamicAdar(s, d)),
    // Scale tier for the degree-ordered wedge guard: the dense mod-10000
    // graph (~10k nodes; ~590k undirected edges at sf0.1, avg degree
    // ~120). Unlike the iterative tiers this one IS oracle-tractable —
    // the DuckDB wedge join at the t2 gate's sf0.01 (~55k edges) is
    // sub-second — so the tier is hash-gated per node, not rows-only.
    // What it measures at sf0.1: C(deg,2) wedge generation under the
    // (degree, id) total order, where the hub-skew bound (out-degree
    // O(√|E|)) is what keeps the wedge set ~18M instead of hot-key n².
    "pr_triangles_10k" -> ((s, d) => triangles(s, d, mod = 10000)),
  )

  /** DuckDB replay of [[topK]]: the 10-iteration protocol unrolled as
    * chained CTEs over the same edge derivation — per iteration, the
    * received-mass aggregate (left join keeps unreceiving nodes at 0),
    * the clamped missing mass, and the source-only re-injection. Float
    * literals are cast to DOUBLE (DuckDB parses bare `0.85` as DECIMAL,
    * which would switch the whole recurrence to decimal arithmetic), and
    * every per-iteration CTE is MATERIALIZED — DuckDB inlines CTEs by
    * default, and each r_i is referenced twice, so an un-materialized
    * chain expands the base scan 2^iterations times.
    */
  private def topKOracle(sources: Seq[Long], iterations: Int, k: Int,
                         mod: Long = 100): String = {
    val srcVals = sources.map(s => s"($s)").mkString(", ")
    val sb = new StringBuilder(
      s"""WITH e AS MATERIALIZED (${edgesSql(mod)}),
          deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
          nodes AS (SELECT DISTINCT id FROM
            (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)),
          srcs AS (SELECT CAST(source AS BIGINT) AS source
                   FROM (VALUES $srcVals) AS t(source)),
          r0 AS MATERIALIZED (SELECT s.source, n.id,
                   CASE WHEN n.id = s.source THEN CAST($RankOne AS BIGINT)
                        ELSE CAST(0 AS BIGINT) END AS rank
                 FROM nodes n CROSS JOIN srcs s)""")
    // fixed-point micro-unit replay of the loop (see runOnGraph's
    // rationale): half-up integer shares, exact long sums — every step
    // is integer arithmetic, identical in any engine
    for (i <- 1 to iterations) sb ++=
      s""",
          recv$i AS MATERIALIZED (
            SELECT b.source, b.id, CAST(coalesce(x.m, 0) AS BIGINT) AS recv
            FROM r${i - 1} b
            LEFT JOIN (SELECT r.source, e.dst AS id,
                              CAST(sum((r.rank * 2 + d.outdeg) // (d.outdeg * 2))
                                   AS BIGINT) AS m
                       FROM r${i - 1} r
                       JOIN e ON r.id = e.src JOIN deg d ON e.src = d.src
                       GROUP BY r.source, e.dst) x
              ON b.source = x.source AND b.id = x.id),
          miss$i AS MATERIALIZED (
            SELECT source,
                   CAST(greatest(0, $RankOne - sum(recv)) AS BIGINT) AS miss
            FROM recv$i GROUP BY source),
          r$i AS MATERIALIZED (
            SELECT rc.source, rc.id,
                   CASE WHEN rc.id = rc.source
                        THEN $AlphaMicros +
                             ((rc.recv + m.miss) * $OneMinusAlphaPct + 50) // 100
                        ELSE (rc.recv * $OneMinusAlphaPct + 50) // 100 END AS rank
            FROM recv$i rc JOIN miss$i m ON rc.source = m.source)"""
    // 5-dp render in integer space + one exact int->double division
    // (mirrors topK; a double round at 5 dp splits between engines)
    sb ++=
      s"""
          SELECT source, node, rank FROM (
            SELECT source, id AS node,
                   CAST((rank + 5) // 10 AS DOUBLE) / 100000 AS rank,
                   row_number() OVER (PARTITION BY source
                     ORDER BY (rank + 5) // 10 DESC, id) AS rn
            FROM r$iterations) WHERE rn <= $k"""
    sb.toString
  }

  val oracles: Map[String, String] = Map(
    "pr_edges_outdeg" ->
      s"SELECT src, count(*) AS outdeg FROM (${edgesSql(100)}) GROUP BY src",
    "pr_bfs" -> bfsOracle(Seq(1L, 57L), mod = 10000),
    "pr_sssp" -> ssspOracle(Seq(1L, 57L), mod = 10000, rounds = SsspMaxRounds),
    "pr_hits" -> hitsOracle(mod = 10000, iterations = HitsIterations, k = 20),
    "pr_toprank" -> topKOracle(Seq(3, 57), iterations = 10, k = 10),
    // hash-gated since round 6 (tractable: <1 s in DuckDB at sf0.01) —
    // the mod-10000 substitution of the identical unrolled protocol
    "pr_toprank_10k" -> topKOracle(Seq(3, 57), iterations = 10, k = 10, mod = 10000),
    "pr_components_10k" -> componentsSummaryOracle(mod = 10000, rounds = 32),
    // recursive min-label reachability over the symmetrized edge set —
    // component id = min reachable node (the dedup_groups technique)
    "pr_components" ->
      s"""WITH RECURSIVE e AS MATERIALIZED (${edgesSql(100)}),
         ed AS (SELECT src AS a, dst AS b FROM e
                UNION SELECT dst, src FROM e),
         n AS (SELECT DISTINCT id FROM
                 (SELECT src AS id FROM e UNION SELECT dst FROM e)),
         ${graft.OracleSql.minLabelReach("n", "id", "ed")}
         SELECT v AS id, min(r) AS component_id FROM reach GROUP BY v""",
    "pr_triangles"     -> trianglesOracle(100),
    "pr_link_predict"  -> linkPredictOracle(10000, 3, 200),
    "pr_link_adamic_adar" -> linkPredictAAOracle(10000, 3, 200),
    "pr_triangles_10k" -> trianglesOracle(10000),
  )

  /** [[bfs]] replay: bounded recursive expansion over (id, d) pairs —
    * UNION dedup keeps the working set ≤ nodes × [[MaxHops]]; min(d)
    * per node is the BFS distance.
    */
  private def bfsOracle(sources: Seq[Long], mod: Long): String = {
    val anchor = sources
      .map(s => s"SELECT CAST($s AS BIGINT) AS id, CAST(0 AS BIGINT) AS d")
      .mkString(" UNION ALL ")
    s"""WITH RECURSIVE e AS MATERIALIZED (${edgesSql(mod)}),
        sym AS MATERIALIZED (
          SELECT src AS v, dst AS n FROM e UNION SELECT dst, src FROM e),
        nd AS MATERIALIZED (SELECT DISTINCT id FROM
          (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)),
        reach(id, d) AS (
          $anchor
          UNION
          SELECT s.n, reach.d + 1 FROM reach JOIN sym s ON reach.id = s.v
          WHERE reach.d < $MaxHops)
        SELECT nd.id, COALESCE(m.d, CAST(-1 AS BIGINT)) AS dist
        FROM nd LEFT JOIN
          (SELECT id, min(d) AS d FROM reach GROUP BY id) m ON nd.id = m.id"""
  }

  /** [[hits]] replay in lockstep: the iterate grid unrolled verbatim —
    * per round an authority sum then a hub sum, the same unnormalized
    * exact DECIMAL(38,6) power iteration (every sum an exact decimal
    * fold, so the intermediates compare bit-identically), with the
    * single end-of-loop max normalization applied to the same top-k
    * survivors; the one double division is shared textually.
    */
  private def hitsOracle(mod: Long, iterations: Int, k: Int): String = {
    val sb = new StringBuilder(
      s"""WITH e AS MATERIALIZED (${edgesSql(mod)}),
          nodes AS MATERIALIZED (SELECT DISTINCT id FROM
            (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)),
          s0 AS (SELECT id, CAST(1 AS DECIMAL(38,6)) AS h,
                        CAST(1 AS DECIMAL(38,6)) AS a FROM nodes)""")
    for (i <- 1 to iterations) sb ++=
      s""",
          a$i AS MATERIALIZED (
            SELECT n.id,
              CAST(coalesce(x.sa, CAST(0 AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS a
            FROM nodes n LEFT JOIN (
              SELECT e.dst AS id, sum(s.h) AS sa
              FROM s${i - 1} s JOIN e ON s.id = e.src GROUP BY e.dst) x
            ON n.id = x.id),
          s$i AS MATERIALIZED (
            SELECT a$i.id,
              CAST(coalesce(x.sh, CAST(0 AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS h,
              a$i.a
            FROM a$i LEFT JOIN (
              SELECT e.src AS id, sum(a.a) AS sh
              FROM a$i a JOIN e ON a.id = e.dst GROUP BY e.src) x
            ON a$i.id = x.id)"""
    sb ++=
      s"""
          , mx AS (SELECT max(a) AS amax, max(h) AS hmax FROM s$iterations)
          SELECT id,
            round(CAST(a AS DOUBLE) / CAST(amax AS DOUBLE), 6) AS authority,
            round(CAST(h AS DOUBLE) / CAST(hmax AS DOUBLE), 6) AS hub
          FROM (SELECT * FROM s$iterations ORDER BY a DESC, id LIMIT $k), mx"""
    sb.toString
  }

  /** [[sssp]] replay: UNROLLED min-relaxation rounds (the
    * componentsSummaryOracle technique — a recursive CTE over weighted
    * (id, dist) pairs never converges syntactically because a cheaper
    * distance is a NEW row under UNION dedup). Each round is one
    * join+min-aggregate over the weighted symmetric adjacency; rounds
    * dominates the measured convergence depth and min-relaxation is
    * idempotent past it.
    */
  private def ssspOracle(sources: Seq[Long], mod: Long, rounds: Int): String = {
    val anchor = sources
      .map(s => s"SELECT CAST($s AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist")
      .mkString(" UNION ALL ")
    val sb = new StringBuilder(
      s"""WITH e AS MATERIALIZED (${edgesSql(mod)}),
          sym AS MATERIALIZED (
            SELECT src AS v, dst AS n FROM e UNION SELECT dst, src FROM e),
          we AS MATERIALIZED (
            SELECT v, n, (v * 31 + n) % 9 + 1 AS w FROM sym),
          nd AS MATERIALIZED (SELECT DISTINCT id FROM
            (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)),
          d0 AS ($anchor)""")
    for (i <- 1 to rounds) sb ++=
      s""",
          d$i AS MATERIALIZED (
            SELECT id, min(dist) AS dist FROM (
              SELECT id, dist FROM d${i - 1}
              UNION ALL
              SELECT we.n AS id, d.dist + we.w AS dist
              FROM d${i - 1} d JOIN we ON d.id = we.v
            ) GROUP BY id)"""
    sb ++=
      s"""
          SELECT nd.id, COALESCE(dd.dist, CAST(-1 AS BIGINT)) AS dist
          FROM nd LEFT JOIN d$rounds dd USING (id)"""
    sb.toString
  }

  /** DuckDB replay of [[componentsSummary]] — UNROLLED min-label
    * propagation, not recursive reachability: the recursive-CTE oracle
    * (pr_components' technique) materializes the full reach set, which on
    * the dense 10k graph is nodes × component size ≈ 10⁸ rows. Min-label
    * needs only `rounds ≥ eccentricity of each component's min node`
    * rounds of `l(v) ← min(l(v), min over in-neighbors l(u))` — one
    * join+aggregate per round over the symmetrized edge list, each
    * O(|E|). The fixture graph (random residue pairs) has a
    * small-diameter giant component: measured convergence ≪ 32 rounds at
    * both gate tiers (32 vs 40 rounds bit-identical, <1 s total in
    * DuckDB), so rounds=32 carries a comfortable margin. The label set
    * (min id per component) is what the Spark side's large-star/
    * small-star loop converges to — same certificate, different
    * iteration count, which is exactly why only the SUMMARY is compared:
    * identical labels, engine-appropriate algorithms.
    */
  private def componentsSummaryOracle(mod: Long, rounds: Int): String = {
    val sb = new StringBuilder(
      s"""WITH e AS MATERIALIZED (${edgesSql(mod)}),
          ed AS MATERIALIZED (SELECT src AS a, dst AS b FROM e
                              UNION SELECT dst, src FROM e),
          l0 AS MATERIALIZED (SELECT DISTINCT id, id AS l FROM
            (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e))""")
    for (i <- 1 to rounds) sb ++=
      s""",
          l$i AS MATERIALIZED (
            SELECT n.id, least(n.l, coalesce(m.ml, n.l)) AS l
            FROM l${i - 1} n LEFT JOIN (
              SELECT ed.b AS id, min(p.l) AS ml
              FROM l${i - 1} p JOIN ed ON p.id = ed.a
              GROUP BY ed.b) m ON n.id = m.id)"""
    sb ++=
      s"""
          SELECT CAST(count(*) AS BIGINT) AS n_components,
                 CAST(max(sz) AS BIGINT) AS max_size,
                 CAST(sum(sz) AS BIGINT) AS n_nodes
          FROM (SELECT l, count(*) AS sz FROM l$rounds GROUP BY l)"""
    sb.toString
  }

  /** The lineitem edge derivation of [[edgesUncached]] in DuckDB: the
    * distinct (l_orderkey % mod, l_partkey % mod) pairs, self-loops
    * dropped — the one edge set every graph oracle starts from.
    */
  private def edgesSql(mod: Long): String =
    s"""SELECT DISTINCT l_orderkey % $mod AS src, l_partkey % $mod AS dst
        FROM lineitem WHERE l_orderkey % $mod <> l_partkey % $mod"""

  /** The edge CTE `e` plus its canonical undirected form `und` (a < b),
    * shared by the triangle and link-prediction oracles.
    */
  private def undirectedCtes(mod: Long): String =
    s"""e AS (${edgesSql(mod)}),
        und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e)"""

  /** DuckDB replay of [[linkPredict]]: same wedge enumeration, pair
    * canonicalization, anti-join, and per-endpoint ranking.
    */
  private def linkPredictOracle(mod: Long, k: Int, nQueries: Long): String =
    s"""WITH ${undirectedCtes(mod)},
        sym AS (SELECT a AS v, b AS n FROM und UNION ALL SELECT b, a FROM und),
        cn AS (
          SELECT s1.n AS u, s2.n AS w, CAST(count(*) AS BIGINT) AS common_neighbors
          FROM sym s1 JOIN sym s2 ON s1.v = s2.v AND s1.n < s2.n
          WHERE s1.n < $nQueries
          GROUP BY s1.n, s2.n),
        cand AS (
          SELECT cn.u, cn.w, cn.common_neighbors
          FROM cn ANTI JOIN und ON cn.u = und.a AND cn.w = und.b),
        pn AS (
          SELECT id, candidate, common_neighbors FROM (
            SELECT u AS id, w AS candidate, common_neighbors FROM cand
            UNION ALL SELECT w, u, common_neighbors FROM cand)
          WHERE id < $nQueries)
        SELECT id, CAST(rank AS INT) AS rank, candidate, common_neighbors FROM (
          SELECT id, candidate, common_neighbors,
                 row_number() OVER (PARTITION BY id
                                    ORDER BY common_neighbors DESC, candidate) AS rank
          FROM pn)
        WHERE rank <= $k"""

  private def linkPredictAAOracle(mod: Long, k: Int, nQueries: Long): String =
    s"""WITH ${undirectedCtes(mod)},
        sym AS (SELECT a AS v, b AS n FROM und UNION ALL SELECT b, a FROM und),
        degw AS (
          SELECT v, CAST(round(1.0 / ln(count(*)::DOUBLE), 6) AS DECIMAL(12,6)) AS wt
          FROM sym GROUP BY v HAVING count(*) >= 2),
        cn AS (
          SELECT s1.n AS u, s2.n AS w, CAST(count(*) AS BIGINT) AS common_neighbors,
                 sum(d.wt) AS aa_d
          FROM sym s1 JOIN sym s2 ON s1.v = s2.v AND s1.n < s2.n
          JOIN degw d ON d.v = s1.v
          WHERE s1.n < $nQueries
          GROUP BY s1.n, s2.n),
        cand AS (
          SELECT cn.u, cn.w, cn.common_neighbors, cn.aa_d
          FROM cn ANTI JOIN und ON cn.u = und.a AND cn.w = und.b),
        pn AS (
          SELECT id, candidate, common_neighbors, aa_d FROM (
            SELECT u AS id, w AS candidate, common_neighbors, aa_d FROM cand
            UNION ALL SELECT w, u, common_neighbors, aa_d FROM cand)
          WHERE id < $nQueries)
        SELECT id, CAST(rank AS INT) AS rank, candidate, common_neighbors,
               CAST(aa_d AS DOUBLE) AS adamic_adar
        FROM (
          SELECT id, candidate, common_neighbors, aa_d,
                 row_number() OVER (PARTITION BY id
                                    ORDER BY aa_d DESC, candidate) AS rank
          FROM pn)
        WHERE rank <= $k"""

  /** DuckDB replay of [[triangles]]: id-canonical wedge enumeration
    * (a<b<c), which yields the identical per-node counts as the Spark
    * side's degree-ordered canonicalization — the count is
    * canonical-order-invariant; degree ordering on the Spark side is
    * purely the hub-skew guard. Tractable at the t2 gate even for
    * mod=10000 (~55k edges at sf0.01 → ~360k wedges).
    */
  private def trianglesOracle(mod: Long): String =
    s"""WITH ${undirectedCtes(mod)},
        tri AS (
          SELECT e1.a, e1.b, e2.b AS c
          FROM und e1 JOIN und e2 ON e1.b = e2.a
          JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
        pn AS (
          SELECT id, count(*) AS n_triangles FROM (
            SELECT a AS id FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
          GROUP BY id),
        n AS (SELECT DISTINCT id FROM
                (SELECT src AS id FROM e UNION SELECT dst FROM e))
        SELECT n.id, coalesce(pn.n_triangles, 0) AS n_triangles
        FROM n LEFT JOIN pn ON n.id = pn.id"""
}
