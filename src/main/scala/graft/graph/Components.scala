package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shared connected-components module: the alternating large-star /
  * small-star algorithm (Kiveris, Lattanzi, Mirrokni, Rastogi,
  * Vassilvitskii — "Connected Components in MapReduce and Beyond",
  * SoCC'14). Replaces the two duplicated min-label propagation loops
  * that previously lived in dedup.Dedup (dedup_groups) and
  * sim.Similarity (dedup_embedding).
  *
  * Why this and not min-label propagation: propagation converges in
  * O(component diameter) rounds — fine for 2–3-deep near-dup clusters,
  * a scale risk for chained-duplicate paths at corpus scale (a length-d
  * chain costs d shuffles). The alternating star algorithm contracts
  * whole trees per round and converges in O(log n) rounds regardless of
  * diameter, with the same per-round join shape (equi-joins keyed on
  * node id). One driver scalar per round (the star-forest test).
  *
  * Round semantics over an edge set E kept oriented large→small
  * (src > dst throughout):
  *  - large-star(u): m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u),
  *    v > u — every node's strictly-larger neighbors re-attach to its
  *    minimum, halving tree heights;
  *  - small-star(v) over the large→small orientation: m = min(Γ(v));
  *    emit (u, m) for u ∈ Γ(v) and (v, m) — smaller neighbors and the
  *    node itself collapse onto the local minimum.
  * Both preserve connectivity (paper, Lemmas 1–2); the unique fixpoint
  * per component is the star rooted at its minimum id, and the paper
  * stops when a round leaves the edge set unchanged. The loop tests the
  * equivalent shape instead, on the round's NEW edge set alone: an
  * oriented edge set is a star forest rooted at minima iff no node has
  * two out-edges and no node has both an out-edge and an in-edge.
  *  - A star forest maps to itself: large-star re-emits each leaf onto
  *    its centre (the centre is its own minimum), small-star does the
  *    same, so the test is true only at a fixpoint.
  *  - The unique fixpoint is such a star forest, so the test is true at
  *    every fixpoint.
  * So the loop stops at the first round whose output already IS the
  * fixpoint — one round sooner than comparing consecutive rounds, with
  * the same final edge set and so the same labels. The test is ONE
  * aggregate over the new set's endpoints (no union with the old set).
  *
  * ==Physical shape==
  *
  * The per-node minimum each star phase needs is a window,
  * `min(dst) OVER (PARTITION BY src)`: ONE hash exchange on the phase
  * key, and the min is joined back "for free" because the window reads
  * the same partition it aggregated. No broadcast, no node-count
  * ceiling: this is the billion-node shape, and at fixture scale it is
  * ALSO the faster one because a round is 3 stages instead of ~13
  * (measured on the 10k tier: 0.58 s vs 1.4 s per round against the
  * r10 shape that broadcast node-sized min tables into the edge join —
  * it paid two broadcast-build jobs plus their agg exchanges per
  * round, and at 10k rows per-stage scheduling latency dominates all
  * data cost).
  */
object Components {

  /** Width-pinning hook: repartition on the downstream grouping columns
    * so the groupBy / window / distinct that follows reuses the
    * partitioning instead of adding an exchange at session width.
    */
  private type Pin = (DataFrame, Seq[Column]) => DataFrame

  /** For every row of `nodes` (single id column), the minimum node id
    * reachable through the undirected `pairs` graph (columns taken
    * positionally; self-pairs ignored; ids absent from `pairs` label
    * themselves). Output columns: (id, label), id column named after
    * `nodes`' first column.
    *
    * `partitions`: explicit shuffle width for every per-round exchange
    * (the pr_toprank technique — an iterative loop re-shuffles a small
    * fixed working set every round, so the width must track the EDGE
    * SET, not the session default; 32-wide exchanges over a 100-edge
    * graph are pure scheduling overhead × stages × rounds). Default:
    * session width.
    *
    * `prepared`: `pairs` is ALREADY the oriented edge set — columns
    * (src, dst) with src > dst, distinct, and cached by the caller
    * (a [[graft.Caches.memoized]] corpus-prep relation shared across
    * tiers/reps) — so round 0 starts directly on it instead of
    * re-deriving orientation + distinct per call. The loop never
    * unpersists a prepared input: its lifecycle belongs to the caller's
    * memo. A non-prepared input IS loop-owned (`initOwned`), so the
    * derived round-0 edge cache is dropped as soon as round 1
    * supersedes it.
    */
  def labels(nodes: DataFrame, pairs: DataFrame,
             partitions: Option[Int] = None,
             prepared: Boolean = false): DataFrame = {
    val idCol = nodes.columns.head
    val pw: Pin = (df, cols) =>
      partitions.fold(df)(n => df.repartition(n, cols: _*))
    val e0 =
      if (prepared) pairs
      else graft.Caches.register(
        pw(pairs.toDF("x", "y")
          .where(col("x") =!= col("y"))
          // large→small orientation from the start: the round invariant
          .select(greatest(col("x"), col("y")).as("src"),
            least(col("x"), col("y")).as("dst")),
          Seq(col("src"), col("dst")))
          .distinct().persist())
    // The loop's one per-round action is the star-forest test on the
    // just-persisted new set (it also materializes that cache); see the
    // object doc for why it stops exactly at the fixpoint.
    // Truncation / cache lifecycle / round cap live in [[IterativeLoop]];
    // the star fixpoint is reached in O(log n) rounds (paper Thm 1), so
    // 64 dominates any feasible input.
    val e = IterativeLoop.converge[Long](
      e0, maxRounds = 64, what = "components star loop",
      initOwned = !prepared)(
      (cur, _) => round(cur, pw))(
      nonStarNodes(_, pw))(
      (_, nonStar, _, _) => nonStar == 0)
    val lab = e.groupBy(col("src").as(idCol)).agg(min(col("dst")).as("label"))
    nodes.select(col(idCol)).join(lab, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("label"), col(idCol)).as("label"))
  }

  /** The nodes of an oriented edge frame that break the star-forest
    * shape: out-degree > 1, or both an out-edge and an in-edge. One
    * aggregate over the endpoints grouped by node, width pinned by `pw`;
    * 0 iff the frame is a star forest rooted at minima, i.e. the star
    * loop's fixpoint.
    */
  private def nonStarNodes(e: DataFrame, pw: Pin): Long = {
    val ends = e.select(col("src").as("n"), lit(1).as("out"), lit(0).as("in"))
      .union(e.select(col("dst").as("n"), lit(0).as("out"), lit(1).as("in")))
    pw(ends, Seq(col("n"))).groupBy(col("n"))
      .agg(sum(col("out")).as("out"), sum(col("in")).as("in"))
      .where(col("out") > 1 || (col("out") > 0 && col("in") > 0))
      .count()
  }

  /** The loop's stop test on its own — exposed for ComponentsSpec, which
    * checks it against [[auditRound]] (true iff a round leaves `e`
    * unchanged).
    */
  private[graft] def isStarForest(e: DataFrame): Boolean =
    nonStarNodes(e, (df, _) => df) == 0

  /** One full large-star + small-star round, closed by the round's ONE
    * set-semantics exchange: pin the width on the edge key pair and
    * distinct (the distinct reuses the pinned partitioning, so it costs
    * one exchange, not two).
    */
  private def round(e: DataFrame, pw: Pin): DataFrame =
    pw(smallStar(largeStar(e, pw), pw), Seq(col("src"), col("dst"))).distinct()

  /** One full round over an oriented edge frame — exposed for the
    * physical-plan audit (PlanAuditSpec asserts the round is
    * window/equi-join/aggregate-shaped, never a cross product).
    */
  private[graft] def auditRound(e: DataFrame): DataFrame = round(e, (df, _) => df)

  /** Large-star: symmetrize, hash-partition on src once
    * (the pw pin keeps the width on the working set), and read
    * m = min(Γ(u) ∪ {u}) straight off the partition — the "join back to
    * the min table" is free because every row already sits next to its
    * key's minimum. Emitted edges keep dst < src (m ≤ u < v), so the
    * orientation invariant holds without re-normalizing; emission count
    * is exactly |E| (each undirected edge emits one row from its larger
    * endpoint) and duplicates are tolerated downstream (min is
    * duplicate-insensitive, small-star's closing distinct restores set
    * semantics for the round).
    */
  private def largeStar(e: DataFrame, pw: Pin): DataFrame = {
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    pw(sym, Seq(col("src")))
      .withColumn("m", least(col("src"), min(col("dst")).over(Window.partitionBy(col("src")))))
      .where(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
  }

  /** Small-star: input already oriented large→small (duplicates
    * tolerated — see [[largeStar]]), so Γ(v) here is exactly the
    * smaller-neighbor set and m = min(dst) over the src partition. Each
    * row emits BOTH (u, m) and (v, m) — the self edge once per input row
    * rather than once per node, which the round's one distinct collapses
    * (trading ≤|E| duplicate rows for not needing a row_number sort or a
    * second pass). The distinct is the round's one edge-sized
    * set-semantics exchange.
    */
  private def smallStar(e: DataFrame, pw: Pin): DataFrame = {
    pw(e, Seq(col("src")))
      .withColumn("m", min(col("dst")).over(Window.partitionBy(col("src"))))
      .select(explode(array(
        struct(col("dst").as("src"), col("m").as("dst")),
        struct(col("src"), col("m").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .where(col("src") =!= col("dst"))
  }
}
