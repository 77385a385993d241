package graft.perfbench

/** One benchmark workload: the registry queries one pass issues, in an
  * order the run's seed permutes, and whether every pass starts from
  * released memos (`cold`) or reads the memos the warm pass left resident.
  */
final case class Workload(name: String, cold: Boolean, queries: Seq[String])

object Workloads {
  val all: Seq[Workload] = Seq(
    // Memo builds (the Caches write side) and the per-row `functions`
    // kernels: every pass releases all memos and rebuilds the x10 corpus,
    // its shingle sets and its capped shingle index.
    Workload("cold_build", cold = true, Seq("dedup_ngram_capped_big")),
    // Memos resident, no builds in timed passes: short queries whose cost
    // is per-call fixed cost (Catalyst planning, codegen-cache hits, task
    // dispatch, the Caches read side), and one chain of dependent jobs or
    // micro-batches per graph, ml and streaming module, where scheduler,
    // lineage and per-iteration planning costs add up.
    Workload("hot_serve", cold = false, Seq(
      "q1_shipdate_count", "ev_distinct_users", "ir_postings", "sim_topk",
      "pr_components", "spam_ensemble_seq", "st_user_state")),
  )

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}
