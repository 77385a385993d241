package graft

import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/** A [[Bench]] run's published numbers: the full-fidelity record
  * (`target/bench.json`) and its compact stdout twin. `builds` are the
  * ledger rows after the retime pass, `buildsFirst` the rows before it
  * (kept so the correction is auditable); `start`/`end` are the run's
  * sensor readings and `storage` the cached-storage high-water
  * (memory MiB, disk MiB, memos with blocks evicted to disk).
  */
final case class Record(
    sf: String, reps: Int, results: Seq[Runner.Result],
    builds: Seq[(String, Double)], buildsFirst: Map[String, Double],
    consumers: Map[String, String], buildsStillFlagged: Seq[String],
    start: Sensors.Snapshot, end: Sensors.Snapshot, probeCalib: Double, probeMin: Double,
    warmupSec: Double, jitDrainSec: Double, prebuildPar: Int, buildSec: Double,
    prebuildAmbient: Boolean, retimeSec: Double, storage: (Long, Long, Int)) {
  import Record._

  val total: Double = results.map(_.median).sum
  private val run = end.delta(start)
  /** Run-level validity (r12 verdict task 3): BENCH_r12 rode 54% steal
    * and nothing in the line said so. Unmeasurable steal (-1 off-Linux)
    * must not read as a validity certificate. Since r14 validity also
    * needs the share of ambient-flagged reps under a quarter.
    */
  val stealRatio: Double =
    if (run.steal >= 0 && run.cpu > 0) round(run.steal.toDouble / run.cpu, 3) else -1.0
  val ambientRatio: Double = {
    val n = results.map(_.reps.size).sum
    if (n > 0) round(results.map(_.nAmbient).sum.toDouble / n, 3) else 0.0
  }
  val runValid: Boolean = stealRatio >= 0 && stealRatio < 0.10 && ambientRatio < 0.25

  private def named(p: Runner.Result => Boolean) = results.filter(p).map(_.name)
  private val stealFlagged = named(_.stealSuspect)
  private val spreadFlagged = named(_.spreadSuspect)
  private val ambientFlagged = named(_.nAmbient > 0)
  private val escalated = named(_.escalated)
  /** Every rep rode a burst: no quiet rep existed to re-center on. */
  private val noQuietRep = named(_.quiet.isEmpty)
  private val flaggedBuilds = buildsStillFlagged.map("build:" + _)
  private val exclSec = builds.map(_._2).sum

  private def perQuery(f: Runner.Result => JValue) = obj(results.map(r => r.name -> f(r)))

  /** Per-query COLD TOTALS (r14 verdict task 3): median plus the build
    * rows the query triggered first — what a first/only run pays, so
    * moving work into the untimed ledger shows. A shared build is charged
    * to its first requester, so this is a per-run attribution.
    */
  private def coldTotals = {
    val rows = builds.toMap
    val keys = consumers.toSeq.groupBy(_._2)
    obj(results.flatMap(r => keys.get(r.name).map(ks =>
      r.name -> (r.median + ks.flatMap(k => rows.get(k._1)).sum)))
      .sortBy(-_._2).map { case (n, s) => n -> JDouble(round(s, 2)) })
  }

  /** The ×10 cold-pipeline slopes; empty when the run is invalid (r14
    * verdict task 8: a contaminated run must not export plausible-looking
    * ratios). Pairs whose members didn't run are skipped.
    */
  private def scaling = {
    val rows = builds.toMap
    val medians = results.map(r => r.name -> r.median).toMap
    def cold(q: String, keys: Seq[String]) = medians.get(q).map(_ + keys.flatMap(rows.get).sum)
    obj(if (!runValid) Nil else ScalingPairs.flatMap { case (fam, (base, bk), (big, gk)) =>
      for (t1 <- cold(base, bk); t10 <- cold(big, gk))
        yield fam -> JArray(List(JDouble(round(t1, 2)), JDouble(round(t10, 2))))
    })
  }

  def full: String = compact(render(
    ("metric" -> "total") ~ ("value" -> total) ~ ("unit" -> "sec") ~ ("reps" -> reps) ~
      ("warmup_sec" -> warmupSec) ~ ("jit_drain_sec" -> round(jitDrainSec, 2)) ~
      ("load_start" -> start.load) ~ ("load_end" -> end.load) ~
      ("steal_ticks" -> run.steal) ~ ("cpu_ticks" -> run.cpu) ~ ("steal_ratio" -> stealRatio) ~
      ("probe_calib" -> round(probeCalib, 4)) ~ ("probe_min" -> round(probeMin, 4)) ~
      ("ambient_ratio" -> ambientRatio) ~ ("run_valid" -> runValid) ~
      ("steal_flagged" -> stealFlagged) ~ ("spread_flagged" -> spreadFlagged) ~
      ("ambient_flagged" -> ambientFlagged) ~ ("escalated" -> escalated) ~
      ("no_quiet_rep" -> noQuietRep) ~ ("builds_steal_flagged" -> flaggedBuilds) ~
      ("steal_reps" -> perQuery(_.reps.map(_.steal))) ~
      ("quiet_reps" -> perQuery(r => List(r.quiet.size, r.reps.size))) ~
      // divide by probe_calib for each window's contention factor
      ("probe_reps" -> perQuery(_.reps.map(p => round(p.pAfter, 4)))) ~
      ("scaling" -> scaling) ~ ("build_sec" -> buildSec) ~ ("prebuild_par" -> prebuildPar) ~
      ("prebuild_ambient" -> prebuildAmbient) ~ ("builds_excl_sec" -> round(exclSec, 2)) ~
      ("retime_sec" -> round(retimeSec, 2)) ~ ("storage_mem_mb" -> storage._1) ~
      ("storage_disk_mb" -> storage._2) ~ ("memos_spilled" -> storage._3) ~
      ("builds" -> buildRows(builds)) ~ ("builds_first" -> buildRows(buildsFirst.toSeq)) ~
      ("cold_totals" -> coldTotals) ~ ("queries" -> perQuery(_.median)) ~
      ("spread" -> perQuery(r => List(r.reps.map(_.time).min, r.reps.map(_.time).max))) ~
      ("errors" -> obj(results.flatMap(r => r.err.map(e => r.name -> JString(e))))) ~
      ("sf" -> sf)))

  /** A flagged-name list capped in-window, so a fully-contended run
    * can't starve the line of medians; the full record has every name.
    */
  private def capped(key: String, names: Seq[String]): JObject =
    (key -> names.take(12)) ~ (s"${key}_more" -> Option.when(names.size > 12)(names.size - 12))

  /** The compact line at a given plain-map budget: true totals, as many
    * medians as fit (slowest first — a strict prefix, so
    * "omitted_fastest" means exactly the N fastest), optionally the full
    * map as `payload`.
    */
  private def line(mapBudget: Int, payload: Option[String]): String = {
    val bySec = results.sortBy(-_.median)
    val lengths = bySec.map(r => compact(render(obj(Seq(entry(r))))).length - 1)
    val kept = lengths.scanLeft(0)(_ + _).tail.takeWhile(_ <= mapBudget).size
    compact(render(
      ("metric" -> "total") ~ ("value" -> round(total, 3)) ~ ("unit" -> "sec") ~ ("reps" -> reps) ~
        ("sf" -> sf) ~ ("n_queries" -> results.size) ~ ("n_errors" -> results.count(_.err.isDefined)) ~
        ("load_start" -> start.load) ~ ("load_end" -> end.load) ~ ("steal_ticks" -> run.steal) ~
        ("cpu_ticks" -> run.cpu) ~ ("steal_ratio" -> stealRatio) ~
        ("probe_calib" -> round(probeCalib, 4)) ~ ("ambient_ratio" -> ambientRatio) ~
        ("run_valid" -> runValid) ~
        // by NAME (r14 verdict task 8: a count alone made them unfindable)
        ("n_no_quiet_rep" -> Option.when(noQuietRep.nonEmpty)(noQuietRep.size)) ~
        ("no_quiet_rep" -> Option.when(noQuietRep.nonEmpty)(noQuietRep.take(8))) ~
        ("storage_mem_mb" -> storage._1) ~ ("memos_spilled" -> storage._3) ~
        ("builds_steal_flagged" -> Option.when(flaggedBuilds.nonEmpty)(flaggedBuilds)) ~
        capped("steal_flagged", stealFlagged) ~ capped("spread_flagged", spreadFlagged) ~
        capped("ambient_flagged", ambientFlagged) ~
        ("n_escalated" -> Option.when(escalated.nonEmpty)(escalated.size)) ~
        ("scaling" -> scaling) ~ ("build_sec" -> round(buildSec, 2)) ~
        ("builds_excl_sec" -> round(exclSec, 2)) ~
        // the heaviest builds by name; the long tail rides in build_sec
        ("builds" -> buildRows(builds.filter(_._2 >= 0.25).sortBy(-_._2).take(4))) ~
        ("queries" -> obj(bySec.take(kept).map(entry))) ~ ("omitted_fastest" -> (results.size - kept)) ~
        ("omitted_sec" -> round(bySec.drop(kept).map(_.median).sum, 3)) ~
        ("queries_gz_b64" -> payload) ~ ("full" -> "target/bench.json")))
  }

  private def entry(r: Runner.Result): JField = r.name -> JDouble(round(r.median, 3))

  /** The full per-query map, gzip+base64, at `scale` integer ticks per
    * second (integers gzip tighter than floats; r7 ask 5: the r7 blob's
    * integer seconds read 120/138 queries as 0.0). Medians below `thr`
    * carry no diffable signal at in-window precision: dropped, their
    * count under `_omitted_below`, the threshold under `_thr_cs`.
    * scripts/bench_history.py reverses this.
    */
  private def gz(scale: Int, thr: Double): String = {
    val (kept, dropped) = results.partition(_.median >= thr)
    val map = ("_scale" -> scale) ~
      ("_omitted_below" -> Option.when(dropped.nonEmpty)(dropped.size)) ~
      ("_thr_cs" -> Option.when(dropped.nonEmpty)(math.rint(thr * 100).toLong)) ~
      obj(kept.map(r => r.name -> JLong(math.rint(r.median * scale).toLong)))
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.util.zip.GZIPOutputStream(bos) {
      `def`.setLevel(java.util.zip.Deflater.BEST_COMPRESSION) // ~6% over the default
    }
    out.write(compact(render(map)).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
  }

  /** A tail-limited capture keeps the last ~2000 stdout chars, so the line must fit
    * 1800 (2000 minus sbt's "[success]" epilogue, with margin). The
    * plain-map budget is MEASURED from the skeleton line (the r8
    * run proved a fixed metadata reserve drifts stale), with 24 chars of
    * slack for the omitted counts' digits. The gz ladder: 10 ms ticks
    * with the sub-50 ms tail shed, then 100 ms ticks (still tells 0.3 s
    * from 0.9 s), shedding more tail before giving up precision.
    */
  def compactLine: String = {
    def fitted(payload: Option[String]) = line(Budget - line(-1, payload).length - 24, payload)
    Seq((100, 0.05), (10, 0.05), (10, 0.1), (10, 0.25), (1, 0.0)).iterator
      .map { case (scale, thr) => fitted(Some(gz(scale, thr))) }
      .find(_.length <= Budget)
      .getOrElse(fitted(None))
  }
}

object Record {
  val Budget = 1800

  private def round(x: Double, dp: Int): Double = {
    val f = math.pow(10, dp)
    math.rint(x * f) / f
  }
  private def obj(fields: Seq[JField]): JObject = JObject(fields.toList)
  private def buildRows(rows: Seq[(String, Double)]): JObject =
    obj(rows.sortBy(-_._2).map { case (k, s) => s"build:$k" -> JDouble(round(s, 2)) })

  /** ×10 scaling-slope tier (r8 verdict ask 3): each heavy scale-path
    * family's base query beside its inflated twin, as COLD-PIPELINE cost
    * (median plus the family's build rows). Query medians alone are not
    * comparable across tiers: how much of a pipeline hides behind a memo
    * differs by design (a raw-median pair read as a fake 100× slope in
    * the first r9 run). The *_big tiers are ×10 inflations of the same
    * corpus; components/toprank name their ~×120 edge factor. Each side
    * charges exactly the memo keys its cold run builds (asserted by
    * CachesSpec): builds trained on the base and reused by the big tier
    * (`corpus:tokens_base` under the inflated corpora, `ir:positions`
    * under the big positional index) are charged to BOTH sides.
    */
  val ScalingPairs: Seq[(String, (String, Seq[String]), (String, Seq[String]))] = Seq(
    ("dedup_minhash_x10",
      ("dedup_minhash",
        Seq("corpus:tokens_base", "dedup:shingles", "dedup:minhash_pairs_0.5")),
      ("dedup_minhash_big",
        Seq("corpus:tokens_base", "dedup:big_shingles_10",
          "dedup:big_h60_10", "dedup:big_permbands_10"))),
    // each side's capped shingle index memo (the df cap applied at build)
    ("ngram_capped_x10",
      ("dedup_ngram_capped",
        Seq("corpus:tokens_base", "dedup:shingles", "dedup:ngram_ex_cap3")),
      ("dedup_ngram_capped_big",
        Seq("corpus:tokens_base", "dedup:big_shingles_10", "dedup:big_ngram_ex_10_cap30"))),
    ("ann_lsh_x10",
      ("sim_topk_lsh", Seq("sim:lsh_bands")),
      ("sim_topk_lsh_big", Seq("sim:lsh_bands_big"))),
    ("ann_ivfpq_x10",
      ("sim_topk_ivfpq",
        Seq("sim:ivf_centroids", "sim:ivf_assigned", "sim:pq_codebooks", "sim:pq_codes")),
      ("sim_topk_ivfpq_big",
        Seq("sim:ivf_centroids", "sim:ivf_assigned_big", "sim:pq_codebooks", "sim:pq_codes_big"))),
    ("sliding_rollup_x10",
      ("st_sliding_rollup", Seq.empty), ("st_sliding_rollup_big", Seq.empty)),
    ("sessions_x10",
      ("st_sessions_stateful", Seq.empty), ("st_sessions_big", Seq.empty)),
    ("components_x120",
      ("pr_components", Seq("graph:edges_100", "graph:nodes_100", "graph:oriented_100")),
      ("pr_components_10k",
        Seq("graph:edges_10000", "graph:nodes_10000", "graph:oriented_10000"))),
    ("toprank_x120",
      ("pr_toprank", Seq("graph:pr_e_100_4", "graph:pr_n_100_4")),
      ("pr_toprank_10k", Seq("graph:pr_e_10000_8", "graph:pr_n_10000_8"))),
    // the big BM25 tier serves postings as a PROJECTION of the big
    // positional index (tf = position-list length), so its cold cost is
    // the base tokenize and positional builds it inflates + the one big
    // positional build
    ("ir_bm25_x10",
      ("ir_bm25", Seq("ir:postings")),
      ("ir_bm25_big",
        Seq("corpus:tokens_base", "ir:positions", "ir:positions_big_10",
          "ir:postings_big_10"))),
    ("ir_phrase_x10",
      ("ir_phrase", Seq("ir:positions")),
      ("ir_phrase_big", Seq("corpus:tokens_base", "ir:positions", "ir:positions_big_10"))),
    // the end-to-end composition's ×10 slope (r12 ask 6): cold cost =
    // every stage memo of the chain on each side (quality and PII are
    // per-rep scans on both sides; boilerplate is fixture-tier only)
    ("pipeline_x10",
      ("pipeline_curate",
        Seq("corpus:tokens_base", "dedup:exact", "dedup:shingles",
          "dedup:minhash_pairs_0.5", "dedup:groups_0.5",
          "dedup:contamination", "dedup:passages_8",
          "dedup:boilerplate_8_2", "pii:scan_raw")),
      ("pipeline_curate_big",
        // tokens_base is charged to BOTH sides (the train-on-base
        // rule): the big side's quality/shingle stages derive from it
        // through tokensInflated
        Seq("corpus:tokens_base", "corpus:docs_big_10",
          "dedup:big_shingles_10", "dedup:big_h60_10",
          "dedup:big_permbands_10", "dedup:big_portable_pairs_10_0.5",
          "curate:big_groups_10", "curate:big_contamination_10"))))
}
