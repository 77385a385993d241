package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval at a layer boundary; times are epoch microseconds. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startUs: Long, endUs: Long)

/** In-memory span and counter recorder for the traced run.
  *
  * The benchmark's own code opens the pass, call, construct and execute
  * spans. Spark jobs become children of whichever construct/execute span
  * was current on the submitting thread (carried to the scheduler as a
  * local property); stages are children of their job. Memo builds come
  * from the `Caches.buildObserver` hook, which reports a build's key and
  * exclusive seconds when it finishes; the build span is placed as the
  * last `exclusive` seconds before that moment, a child of the call that
  * triggered it. Build spans overlap the jobs they ran, so they are left
  * out of the self-time partition and reported as `caches.*` instead.
  *
  * Listeners are attached only while [[attach]]ed, so untraced passes of
  * the same run pay nothing for them.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  // job id -> (span id, parent span id, start, stage ids)
  private val jobs = mutable.HashMap.empty[Int, (Long, Long, Long, Seq[Int])]
  private val stageJob = mutable.HashMap.empty[Int, Long] // stage id -> job span id
  @volatile private var current = 0L

  def newId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = synchronized { spans += s }

  /** Makes `id` the parent of the jobs and builds this thread starts next. */
  def enter(id: Long): Unit = {
    current = id
    sc.setLocalProperty(SpanProperty, id.toString)
  }

  private def add(key: String, v: Double): Unit = synchronized { counters(key) += v }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toLong).getOrElse(0L)
      Tracer.this.synchronized {
        val id = newId()
        jobs(e.jobId) = (id, parent, e.time * 1000, e.stageIds)
        e.stageIds.foreach(stageJob(_) = id)
      }
      add("spark.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.remove(e.jobId).foreach { case (id, parent, start, stages) =>
        spans += Span(id, parent, "job", s"job ${e.jobId}", start, e.time * 1000)
        stageJob --= stages // skipped stages never complete
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Tracer.this.synchronized {
        for (parent <- stageJob.remove(info.stageId); s <- info.submissionTime;
             t <- info.completionTime)
          spans += Span(newId(), parent, "stage", s"stage ${info.stageId}", s * 1000, t * 1000)
      }
      add("spark.stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("spark.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("spark.task_run_s", m.executorRunTime / 1e3)
        add("spark.task_cpu_s", m.executorCpuTime / 1e9)
        add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / MiB)
        add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / MiB)
        add("spark.spill_mb", m.diskBytesSpilled / MiB)
        // Spark's own scheduler-delay formula: task wall time not spent
        // deserializing, running or serializing the result
        val delayMs = e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime
        add("spark.sched_delay_s", math.max(0L, delayMs) / 1e3)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def ms(phase: String) = p.get(phase).map(_.durationMs.toDouble).getOrElse(0.0)
      add("catalyst.analysis_s", ms("analysis") / 1e3)
      add("catalyst.optimize_s", ms("optimization") / 1e3)
      add("catalyst.plan_s", ms("planning") / 1e3)
      add("catalyst.executions", 1)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
  }

  private def onBuild(key: String, exclusiveSec: Double): Unit = {
    val end = nowUs()
    record(Span(newId(), current, "build", key, end - (exclusiveSec * 1e6).toLong, end))
    add("caches.builds", 1)
    add("caches.build_s", exclusiveSec)
  }

  /** Starts recording with zeroed counters. */
  def attach(): Unit = {
    synchronized(counters.clear())
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    graft.Caches.buildObserver = Some(onBuild)
  }

  /** Stops recording once every event already posted is delivered, and
    * returns the counters gathered since [[attach]].
    */
  def detach(): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    graft.Caches.buildObserver = None
    spark.listenerManager.unregister(planListener)
    sc.removeSparkListener(sparkListener)
    synchronized(CounterNames.map(k => k -> counters(k)).toMap)
  }

  def allSpans: Seq[Span] = synchronized(spans.toSeq)

  /** Per span kind, the summed self time in seconds of the spans under
    * `root`: a span's duration minus the part of it its children cover.
    */
  def selfSeconds(root: Long): Map[String, Double] = {
    val all = allSpans.filter(_.kind != "build")
    val children = all.groupBy(_.parent)
    def walk(s: Span): Seq[(String, Double)] = {
      val kids = children.getOrElse(s.id, Nil)
      val covered = union(kids.map(k => (k.startUs max s.startUs, k.endUs min s.endUs)))
      (s.kind -> (s.endUs - s.startUs - covered) / 1e6) +: kids.flatMap(walk)
    }
    val out = all.find(_.id == root).toSeq.flatMap(walk)
      .groupMapReduce(_._1)(_._2)(_ + _)
    SpanKinds.map(k => k -> out.getOrElse(k, 0.0)).toMap
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
  val SpanKinds = Seq("pass", "call", "construct", "execute", "job", "stage")
  val CounterNames = Seq(
    "caches.builds", "caches.build_s",
    "catalyst.analysis_s", "catalyst.optimize_s", "catalyst.plan_s", "catalyst.executions",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.sched_delay_s",
    "spark.task_run_s", "spark.task_cpu_s", "spark.shuffle_read_mb",
    "spark.shuffle_write_mb", "spark.spill_mb")
  private val MiB = 1024.0 * 1024.0

  private val epochUs0 = System.currentTimeMillis() * 1000
  private val nano0 = System.nanoTime()
  /** Epoch microseconds on the monotonic clock, comparable with Spark's
    * millisecond event timestamps.
    */
  def nowUs(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000

  /** Total length covered by a set of possibly overlapping intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    for ((s, e) <- iv.filter(t => t._2 > t._1).sortBy(_._1)) {
      if (s >= end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }
}
