package graft.graph

import org.apache.spark.sql.DataFrame

/** The shared driver-loop harness behind every iterative graph operator
  * (PageRank/HITS power iterations, BFS/SSSP frontier expansion, k-core
  * peeling, large/small-star components). Six hand-rolled loops grew the
  * same disciplines independently; this module is those disciplines,
  * once:
  *
  *  - '''Plan truncation.''' An iterative DataFrame loop re-references
  *    its previous round's frame several times, so carrying analyzed
  *    plans forward grows them exponentially — the analyzer, not the
  *    data, becomes the bottleneck by round ~7. Fixed-budget loops cut
  *    the tree with a LAZY `localCheckpoint` (zero mid-loop actions —
  *    the whole power iteration stays one job); convergence loops must
  *    run an action per round anyway, so they persist + truncate to a
  *    `LogicalRDD` leaf via the internal-row re-wrap
  *    ([[org.apache.spark.sql.GraftExpr.truncated]] — `createDataFrame(
  *    df.rdd, schema)` paid an external-Row encode/decode per row per
  *    round).
  *  - '''One driver scalar per round.''' Convergence is decided by a
  *    single bounded probe (a count) whose execution doubles as the
  *    round's cache materialization; no unbounded data ever reaches
  *    the driver.
  *  - '''Round budget.''' Every convergence loop carries a `require`d
  *    cap tied to its oracle's unroll/recursion depth: past the cap the
  *    gate would diverge from the engine, so exceeding it is a hard
  *    error, not a warning.
  *  - '''Cache lifecycle.''' Superseded rounds are unpersisted eagerly
  *    (O(1) cached frames at any time, not O(rounds)) unless the caller
  *    still references them (BFS accumulates its labeled set as a union
  *    of round leaves); the caller-owned initial frame is never touched.
  *
  * The per-round JOIN shape stays in each algorithm's step function —
  * including the broadcast-iterate choice (hint the node-sized iterate
  * into the edge join and stream the edge copy whose cached partitioning
  * matches the aggregation key → zero shuffles per round; valid while
  * the iterate fits the broadcast budget, which a fixture-tier graph
  * does and a 100 TB graph does not — at that scale flip to the
  * co-partitioned shuffle-join shape, same step signature).
  */
object IterativeLoop {

  /** Fixed-budget iteration (the PageRank/HITS power-loop shape): compose
    * `rounds` applications of `step` into ONE lazy plan — no mid-loop
    * actions — cutting the logical tree with a lazy `localCheckpoint`
    * every `cutEvery` rounds. `step` receives (current frame, 1-based
    * round) and may itself checkpoint intermediate phases; pass
    * `cutEvery = 0` when the step cuts internally (multi-phase steps like
    * HITS) so the harness never re-cuts an already-truncated leaf.
    */
  def fixedBudget(init: DataFrame, rounds: Int, cutEvery: Int = 1)
                 (step: (DataFrame, Int) => DataFrame): DataFrame = {
    var cur = init
    for (i <- 1 to rounds) {
      cur = step(cur, i)
      if (cutEvery > 0 && i % cutEvery == 0 && i < rounds)
        cur = cur.localCheckpoint(eager = false)
    }
    cur
  }

  /** Convergence-driven iteration (BFS/SSSP/k-core/components): per
    * round the step's output is plan-truncated + persisted + registered,
    * `probe` runs as the round's ONE driver-side action (materializing
    * the cache), and `onRound` — which may also do per-round caller
    * bookkeeping, e.g. accumulating BFS labels — decides whether to
    * halt given (previous probe, this probe, previous state, new state).
    * Exceeding `maxRounds` throws: the oracle's unroll depth would
    * diverge from the engine past it.
    *
    * `dropSuperseded=false` keeps every round's cache alive (for callers
    * whose result references all rounds); the `init` frame is treated as
    * caller-owned (never unpersisted) unless `initOwned=true`, in which
    * case it was persisted FOR this loop and is dropped like any other
    * superseded round as soon as round 1 replaces it (a loop-derived
    * round-0 cache otherwise stays resident for the whole run). Returns
    * the final state frame.
    */
  def converge[S](init: DataFrame, maxRounds: Int, what: String,
                  initialProbe: Option[S] = None,
                  dropSuperseded: Boolean = true,
                  initOwned: Boolean = false)
                 (step: (DataFrame, Int) => DataFrame)
                 (probe: DataFrame => S)
                 (onRound: (Option[S], S, DataFrame, DataFrame) => Boolean): DataFrame = {
    var cur = init
    var owned = initOwned // true once `cur` is a frame this loop persisted
    var prevProbe = initialProbe
    var round = 0
    var done = false
    while (!done) {
      round += 1
      require(round <= maxRounds,
        s"$what exceeded $maxRounds rounds — the oracle's unroll depth would diverge")
      val next = graft.Caches.register(
        org.apache.spark.sql.GraftExpr.truncated(step(cur, round)).persist())
      val p = probe(next)
      done = onRound(prevProbe, p, cur, next)
      prevProbe = Some(p)
      if (owned && dropSuperseded) cur.unpersist()
      cur = next
      owned = true
    }
    cur
  }
}
