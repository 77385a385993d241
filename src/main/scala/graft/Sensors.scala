package graft

/** Contention sensors for a [[Bench]] run: the three `/proc` readers
  * (load average, hypervisor steal, this JVM's own cpu) behind one
  * [[Sensors.Snapshot]], plus the [[AmbientProbe]] bracket around every
  * timed window. Steal only sees cycles the HOST took; co-tenant load
  * inside the guest stretches wall time with zero steal ticks, which the
  * fixed-work probe catches (the r12 dedup_minhash_big 2.7× blind spot).
  * A test substitutes a subclass with scripted readings.
  */
class Sensors {
  def read(): Sensors.Snapshot = Sensors.Snapshot(
    System.nanoTime(), Sensors.loadAvg(), Sensors.stealJiffies(), Sensors.cpuJiffies())

  protected def calibrateProbe(): Double = AmbientProbe.calibrate()
  protected def probe(baseline: Double): Double = AmbientProbe.checkedProbe(baseline)

  /** The run-start probe baseline (min of several probes). */
  @volatile var calib: Double = 0.0
  /** The quietest probe seen so far: flags compare against this running
    * min, so a contended run start cannot hide later contention.
    */
  @volatile var probeMin: Double = 0.0
  @volatile private var last: Double = 0.0

  def calibrate(): Unit = { calib = calibrateProbe(); probeMin = calib; last = calib }

  /** Probes the end of the window that began at the previous bracket and
    * returns (before, after): a burst anywhere in the window hits at
    * least one of the two.
    */
  def bracket(): (Double, Double) = {
    val before = last
    last = probe(probeMin)
    probeMin = math.min(probeMin, last)
    (before, last)
  }

  /** A probe that read contended against the running min. The 3 ms
    * floor keeps micro-jitter on a fast box from flagging (the same
    * spirit as the steal floor in [[Sensors.stealHeavy]]).
    */
  def hot(p: Double): Boolean =
    p > AmbientProbe.FlagRatio * probeMin && p - probeMin > 0.003
}

object Sensors {
  /** One reading: wall clock, 1-minute load average, cumulative steal
    * jiffies and this JVM's cumulative cpu jiffies (10 ms ticks; -1 when
    * unreadable off-Linux).
    */
  final case class Snapshot(nanos: Long, load: Double, steal: Long, cpu: Long) {
    def sec: Double = nanos / 1e9
    /** The window since `from`; keeps this reading's load, and an
      * unreadable counter stays -1 instead of reading as a delta.
      */
    def delta(from: Snapshot): Snapshot =
      Snapshot(nanos - from.nanos, load, ticks(steal, from.steal), ticks(cpu, from.cpu))
  }

  private def ticks(now: Long, from: Long): Long = if (now < 0 || from < 0) -1L else now - from

  /** A window whose stolen share of the machine's cpu budget exceeds 5%,
    * with a 10-tick absolute floor so micro-windows can't flag on one
    * jiffy (r8 verdict ask 6: the artifact could not show which rows rode
    * a burst).
    */
  def stealHeavy(wallSec: Double, ticks: Long): Boolean =
    ticks > 10 && wallSec > 0 &&
      ticks.toDouble / (Runtime.getRuntime.availableProcessors() * wallSec * 100.0) > 0.05

  private def proc(path: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)

  private def orElse[A](fallback: A)(read: => A): A =
    try read catch { case scala.util.control.NonFatal(_) => fallback }

  /** Round-over-round deltas on a shared box have repeatedly turned out
    * to be ambient load, not code (r6: 85.8 s vs 77.9–79.3 s quiet on the
    * same commit); the load fields make such a delta attributable.
    */
  private def loadAvg(): Double = orElse(-1.0)(proc("/proc/loadavg").split("\\s+")(0).toDouble)

  /** `/proc/stat` "cpu" line, field 9: identical code swung 86 → 110 s
    * with load_start ≈ 0.5 both times, and only steal told them apart.
    */
  private[graft] def stealJiffies(): Long =
    orElse(-1L)(proc("/proc/stat").linesIterator.next().split("\\s+")(8).toLong)

  /** utime+stime of `/proc/self/stat`: separates "the code did more
    * work" from "the box was busy" (r8: 126 vs 110 s at equal steal).
    */
  private def cpuJiffies(): Long = orElse(-1L) {
    val stat = proc("/proc/self/stat")
    // comm (field 2) may contain spaces: split after the closing paren
    val rest = stat.substring(stat.lastIndexOf(')') + 2).split("\\s+")
    rest(11).toLong + rest(12).toLong
  }
}
