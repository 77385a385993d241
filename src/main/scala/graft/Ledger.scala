package graft

import scala.collection.mutable

/** Bench's memo-build ledger (r7 ask 4): each cross-query memo build is
  * booked under its key with its EXCLUSIVE seconds and SUBTRACTED from the
  * consuming rep, so a query's median measures its own plan, not whichever
  * consumer happened to run first (the r7 attribution instability:
  * pr_components_10k 6.1 vs 14.2 s on identical code). Builds run
  * concurrently in the prebuild phase, so every mutation takes this
  * object's monitor and the consumer tag is a ThreadLocal.
  */
final class Ledger {
  val rows = mutable.LinkedHashMap.empty[String, Double]
  /** Steal ticks inside each build's window (r12 verdict task 3), and the
    * build's FULL closure wall, children included — the window the steal
    * delta spans. Exclusive seconds must never be flagged against
    * full-window steal, or a parent of a long chain over-flags on ticks
    * that fell inside its children.
    */
  val steal = mutable.HashMap.empty[String, Long]
  val fullWall = mutable.HashMap.empty[String, Double]
  /** The first query whose execution triggered each key. */
  val consumer = mutable.HashMap.empty[String, String]
  val currentQuery: ThreadLocal[String] = ThreadLocal.withInitial(() => "prebuild")
  /** Build seconds booked since the current rep began. */
  @volatile var repBuildSec = 0.0
  @volatile var retiming = false
  /** A retime may rebuild a flagged key's WHOLE memo chain; only these
    * keys publish their rebuild time — an unflagged chain member's cold
    * number must not be replaced by its warm rebuild, or retimed runs
    * would read lower than quiet ones.
    */
  @volatile var retimeKeys: Set[String] = Set.empty

  def onBuild(key: String, sec: Double): Unit = synchronized {
    if (!retiming) {
      rows(key) = rows.getOrElse(key, 0.0) + sec
      consumer.getOrElseUpdate(key, currentQuery.get)
      repBuildSec += sec
    } else if (retimeKeys.contains(key) && rows.get(key).exists(sec < _))
      // a rebuild that rode another burst keeps the smaller of the two
      // (and the key stays flagged — see stillFlagged)
      rows(key) = sec
  }

  def onBuildSteal(key: String, ticks: Long, wallSec: Double): Unit = synchronized {
    if (!retiming) {
      steal(key) = steal.getOrElse(key, 0L) + ticks
      fullWall(key) = fullWall.getOrElse(key, 0.0) + wallSec
    } else if (retimeKeys.contains(key)) {
      steal(s"retime:$key") = ticks
      fullWall(s"retime:$key") = wallSec
    }
  }

  /** Routes every [[Caches]] build through this ledger. */
  def install(): Unit = {
    Caches.buildStealObserver = Some(onBuildSteal)
    Caches.buildObserver = Some(onBuild)
  }

  def total: Double = synchronized(rows.values.sum)

  def stealFlagged: Seq[String] = synchronized(rows.keys.toVector.filter(k =>
    Sensors.stealHeavy(fullWall.getOrElse(k, 0.0), steal.getOrElse(k, 0L))))

  /** Flagged keys whose rebuild was steal-heavy too, or never fired. */
  def stillFlagged(flagged: Seq[String]): Seq[String] = synchronized(flagged.filter(k =>
    fullWall.get(s"retime:$k").forall(Sensors.stealHeavy(_, steal.getOrElse(s"retime:$k", 0L)))))
}
