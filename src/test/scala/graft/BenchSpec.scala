package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** Drives [[Runner]] with a fake `materialize` and scripted sensor
  * readings (no Spark session), and checks the published [[Record]]:
  * escalation, the quiet median, run validity, the compact line's shape
  * and budget, and escaping.
  */
class BenchSpec extends AnyFunSuite {
  /** Sensors whose clock and steal counter only move when a fake query
    * advances them; every probe reads quiet.
    */
  private class FakeSensors extends Sensors {
    var nanos = 0L
    var stealTicks = 0L
    override def read(): Sensors.Snapshot = Sensors.Snapshot(nanos, 0.5, stealTicks, 100000L)
    override protected def calibrateProbe(): Double = 0.01
    override protected def probe(baseline: Double): Double = 0.01
  }

  /** One scripted timed rep: its seconds and the steal ticks inside it. */
  private case class Step(sec: Double, steal: Long = 0L)

  /** Runs prebuild, timed reps and retime over `script` (sorted names).
    * The prebuild books one 0.5 s build per query, so the retime pass
    * runs too; the record is assembled as Bench.main does.
    */
  private def drive(script: Map[String, Seq[Step]], sf: String = "/data/sf0.1"): Record = {
    val sensors = new FakeSensors
    val ledger = new Ledger
    val steps = script.map { case (n, s) => n -> s.iterator }
    val prebuilt = scala.collection.mutable.Set.empty[String]
    def materialize(name: String): Option[String] = {
      if (ledger.retiming) ledger.onBuild(s"memo:$name", 0.4)
      else if (prebuilt.add(name)) ledger.onBuild(s"memo:$name", 0.5)
      else {
        val s = steps(name).next()
        sensors.nanos += (s.sec * 1e9).toLong
        sensors.stealTicks += s.steal
      }
      None
    }
    sensors.calibrate()
    val runner = new Runner(script.keys.toSeq.sorted, 3, materialize, sensors, ledger)
    val prebuildSec = runner.prebuild(1)
    val results = runner.timed()
    val (retimeSec, first, stillFlagged) = runner.retime()
    Record(sf, 3, results, ledger.rows.toSeq, first, ledger.consumer.toMap, stillFlagged,
      Sensors.Snapshot(0L, 0.5, 0L, 0L), sensors.read(), sensors.calib, sensors.probeMin,
      1.0, 2.0, 1, prebuildSec, false, retimeSec, (1L, 0L, 0))
  }

  /** Steal ticks far over 5% of any core count's budget for a rep. */
  private val Stolen = 1000000L
  private def quiet(secs: Double*): Seq[Step] = secs.map(Step(_))
  private def result(r: Record, name: String) = r.results.find(_.name == name).get
  private def keys(json: String) = parse(json).asInstanceOf[JObject].obj.map(_._1)

  test("a query whose rep spread is over 2x escalates to 5 reps") {
    val r = drive(Map(
      "noisy" -> quiet(0.1, 0.5, 0.1, 0.1, 0.1),
      "steady" -> quiet(1.0, 1.1, 1.0)))
    assert(result(r, "noisy").reps.size == 5)
    assert(result(r, "noisy").escalated)
    assert(result(r, "steady").reps.size == 3 && !result(r, "steady").escalated)
    assert(result(r, "noisy").median == 0.1)
  }

  test("steal-flagged reps drop out of the quiet median") {
    val r = drive(Map("stolen" -> Seq(Step(1.0), Step(5.0, Stolen), Step(6.0, Stolen),
      Step(2.0), Step(3.0))))
    val q = result(r, "stolen")
    assert(q.reps.size == 5 && q.quiet.size == 3)
    assert(q.median == 2.0, "the median of all five reps would read 3.0")
    assert(q.stealSuspect)
  }

  test("run_valid is false once the steal ratio reaches 0.10") {
    val base = drive(Map("q" -> quiet(1.0, 1.0, 1.0)))
    def at(steal: Long) = base.copy(end = Sensors.Snapshot(1L, 0.5, steal, 100L))
    assert(at(9).stealRatio == 0.09 && at(9).runValid)
    assert(at(10).stealRatio == 0.1 && !at(10).runValid)
    assert(at(50).compactLine.contains("\"run_valid\":false"))
  }

  test("the compact line keeps the parent commit's keys in order") {
    // pinned from a subset run of the pre-refactor Bench; that run had an
    // escalated query with no quiet rep, which this script reproduces
    val pinned = List("metric", "value", "unit", "reps", "sf", "n_queries", "n_errors",
      "load_start", "load_end", "steal_ticks", "cpu_ticks", "steal_ratio", "probe_calib",
      "ambient_ratio", "run_valid", "n_no_quiet_rep", "no_quiet_rep", "storage_mem_mb",
      "memos_spilled", "steal_flagged", "spread_flagged", "ambient_flagged", "n_escalated",
      "scaling", "build_sec", "builds_excl_sec", "builds", "queries", "omitted_fastest",
      "omitted_sec", "queries_gz_b64", "full")
    val r = drive(Map(
      "a_contended" -> Seq.fill(5)(Step(0.3, Stolen)),
      "b_quiet" -> quiet(0.2, 0.2, 0.2)))
    assert(result(r, "a_contended").quiet.isEmpty)
    assert(keys(r.compactLine) == pinned)
    val full = List("metric", "value", "unit", "reps", "warmup_sec", "jit_drain_sec",
      "load_start", "load_end", "steal_ticks", "cpu_ticks", "steal_ratio", "probe_calib",
      "probe_min", "ambient_ratio", "run_valid", "steal_flagged", "spread_flagged",
      "ambient_flagged", "escalated", "no_quiet_rep", "builds_steal_flagged", "steal_reps",
      "quiet_reps", "probe_reps", "scaling", "build_sec", "prebuild_par", "prebuild_ambient",
      "builds_excl_sec", "retime_sec", "storage_mem_mb", "storage_disk_mb", "memos_spilled",
      "builds", "builds_first", "cold_totals", "queries", "spread", "errors", "sf")
    assert(keys(r.full) == full)
  }

  /** `n` registry-shaped names (the registry's own, topped up with
    * ×10-style twins) with medians spread log-uniformly over 0.01-16 s.
    */
  private def registryRun(n: Int): Record = {
    val registry = SparkEntry.queries.keys.toSeq.sorted
    drive((registry ++ registry.map(_ + "_x10")).take(n).zipWithIndex.map { case (q, i) =>
      val sec = 0.01 * math.pow(1.025, i * 37 % 300)
      q -> quiet(sec, sec, sec)
    }.toMap)
  }

  test("the compact line stays within 1800 chars with 300 queries") {
    val line = registryRun(300).compactLine
    assert(line.length <= Record.Budget, s"${line.length} chars")
    assert((parse(line) \ "n_queries") == JInt(300))
  }

  test("queries_gz_b64 decodes back to the medians at the chosen _scale") {
    val r = registryRun(100)
    val line = r.compactLine
    assert(line.length <= Record.Budget, s"${line.length} chars")
    val JString(b64) = (parse(line) \ "queries_gz_b64"): @unchecked
    val blob = new String(new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(
      java.util.Base64.getDecoder.decode(b64))).readAllBytes(), "UTF-8")
    val map = parse(blob).asInstanceOf[JObject].obj.toMap
    val JInt(scale) = map("_scale"): @unchecked
    val thr = map.get("_thr_cs").collect { case JInt(cs) => cs.toDouble / 100 }.getOrElse(0.0)
    val (kept, dropped) = r.results.partition(_.median >= thr)
    assert(map.get("_omitted_below").collect { case JInt(n) => n.toInt }.getOrElse(0) == dropped.size)
    assert(map.size - 1 - (if (dropped.isEmpty) 0 else 2) == kept.size)
    kept.foreach(q => assert(map(q.name) == JInt(math.rint(q.median * scale.toDouble).toLong), q.name))
  }

  test("an sf path with quotes and backslashes parses back unchanged") {
    val sf = "/data/\"odd\" dir\\sf0.1"
    val r = drive(Map("q" -> quiet(1.0, 1.0, 1.0)), sf)
    assert((parse(r.compactLine) \ "sf") == JString(sf))
    assert((parse(r.full) \ "sf") == JString(sf))
  }

  test("oracle_sql.json parses back to the oracle map") {
    val parsed = parse(Verify.oracleJson).asInstanceOf[JObject].obj
      .map { case (k, JString(v)) => k -> v; case (k, v) => fail(s"$k: $v") }.toMap
    assert(parsed == SparkEntry.oracleSql)
  }
}
