package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into the `private[sql]` Column↔Expression converters —
  * the supported way to expose custom Catalyst expressions as Columns
  * from library code (same mechanism `functions._` uses internally).
  */
object GraftExpr {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The just-persisted frame re-rooted at its cache entry's
    * InMemoryRelation (identity if none exists). Serving memo consumers
    * the IMR node DIRECTLY instead of relying on CacheManager plan
    * substitution fixes a placement-losing cache miss (r15): a
    * self-join's second reference to a memoized frame goes through
    * DeduplicateRelations, which re-instances the [[truncated]]
    * LogicalRDD leaf with fresh exprIds — and because the leaf's
    * `outputPartitioning` field still names the OLD attribute ids (it is
    * a constructor arg, invisible to exprId canonicalization), the
    * deduplicated copy no longer canonicalizes equal to the cached plan.
    * Every such reference silently bypassed the cache and re-scanned the
    * truncated RDD (re-reading the build's final shuffle per reference
    * per rep). An InMemoryRelation root has none of this:
    * `InMemoryRelation.newInstance` rewrites its cached partitioning
    * onto the new output ids, so dedup'd references keep both the cache
    * and the advertised placement.
    */
  def servedFromCache(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .map(cd => classic.Dataset.ofRows(ds.sparkSession, cd.cachedRepresentation))
      .getOrElse(df)
  }

  /** Replace `df`'s logical plan with a LogicalRDD leaf over its
    * INTERNAL-row RDD — the plan cut `Dataset.localCheckpoint` performs,
    * without the checkpoint's block storage (the caller persists the
    * result instead). Unlike `createDataFrame(df.rdd, schema)` this
    * skips the external-Row encode/decode round-trip, which measured
    * ~2× on array-heavy frames. The per-row `copy()` matches Spark's own
    * checkpoint implementation: `toRdd` may yield a reused mutable row.
    *
    * Built through `LogicalRDD.fromDataset` (what checkpoint itself
    * uses), which REWRITES the origin plan's output partitioning and
    * ordering onto the leaf's attributes — so a memoized relation built
    * with a deliberate `repartition(p, key)` (the IR term-clustered
    * postings, the PageRank co-partitioned edge relation) keeps
    * advertising hash(key, p) and consumers plan zero re-exchange,
    * instead of silently re-shuffling what the build already placed.
    */
  def truncated(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, UnknownPartitioning}
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    // toRdd first: finalizes adaptive execution, so the partitioning
    // read below is the plan that actually ran
    val rdd = ds.queryExecution.toRdd.map(_.copy())
    // `LogicalRDD.fromDataset` reads executedPlan.outputPartitioning,
    // but under AQE the executed plan is an AdaptiveSparkPlanExec — a
    // LEAF wrapper that reports UnknownPartitioning(0) — so the origin's
    // deliberate placement always got dropped. Unwrap to the finalized
    // inner plan and rewrite its hash partitioning onto the new leaf's
    // attributes by exprId (position-stable: the leaf's output mirrors
    // the plan's output 1:1).
    val finalPlan = ds.queryExecution.executedPlan match {
      case a: execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val newOutput = org.apache.spark.sql.catalyst.types.DataTypeUtils
      .toAttributes(ds.schema)
    val byId = finalPlan.output.map(_.exprId).zip(newOutput).toMap
    val part: Partitioning = finalPlan.outputPartitioning match {
      case h: HashPartitioning if h.references.forall(a => byId.contains(a.exprId)) =>
        h.copy(expressions = h.expressions.map(_.transform {
          case a: AttributeReference => byId(a.exprId)
        }))
      case p => UnknownPartitioning(p.numPartitions)
    }
    // carry the origin's SIZE statistics (attribute stats dropped — their
    // exprIds belong to the old plan): a stats-less LogicalRDD defaults
    // to spark.sql.defaultSizeInBytes, which vetoes broadcast for every
    // consumer join of a memoized relation — measured as each PageRank
    // iteration's node join planning sort-merge instead of broadcast-hash
    // against the memoized pair (~+25% on the whole 10k loop)
    val srcStats = ds.queryExecution.optimizedPlan.stats
    val stats = org.apache.spark.sql.catalyst.plans.logical.Statistics(
      sizeInBytes = srcStats.sizeInBytes, rowCount = srcStats.rowCount)
    classic.Dataset.ofRows(ds.sparkSession,
      execution.LogicalRDD(newOutput, rdd, part)(ds.sparkSession, Some(stats)))
  }
}
