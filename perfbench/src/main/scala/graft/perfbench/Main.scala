package graft.perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.{Caches, Sessions, SparkEntry}

/** The benchmark's JVM side: one closed-loop caller issues a workload's
  * queries one after another through graft's public entry points, each
  * waiting for the previous one. `perfbench/run.py` launches it and reads
  * the lines it prints that start with `PERFBENCH `.
  *
  *   --oracles FILE            write every workload's query list and
  *                             oracle SQL to FILE, then exit
  *   --workload W --seed N --seconds S --trace 0|1 --sf DIR --out DIR
  *
  * A run: start the session; one untimed warm pass that writes each
  * query's output to DIR/outputs/<query> for the correctness gate; print
  * `PERFBENCH READY` with the queries and their warm-pass errors and wait
  * for a line on stdin; one untimed settle pass like a timed one; wait
  * until the JIT compiler falls quiet; then timed passes that fill S
  * seconds (at least two, and two of each kind when tracing); print
  * `PERFBENCH RESULT <json>`.
  *
  * The seed only permutes query order, per pass; the program receives
  * only query names, so every seed must give the same answers.
  *
  * With --trace 1, passes run untraced, traced, traced, untraced, and so
  * on, so a warm-up trend falls on both kinds alike. Traced passes carry
  * the listener counters and span self times, and the difference in pass
  * wall time between the two kinds is the tracing overhead.
  */
object Main {
  private implicit val formats: DefaultFormats.type = DefaultFormats

  final case class Call(pass: Int, query: String, module: String,
                        construct_s: Double, execute_s: Double, error: Option[String])
  final case class Pass(index: Int, traced: Boolean, wall_s: Double, cpu_s: Double,
                        storage_mb: Double, disk_mb: Double, layers: Map[String, Double])

  /** The modules a per-layer `<module>.call_s` is reported for. */
  val Modules = Seq("relational", "text", "ir", "dedup", "sim", "analysis",
    "events", "streaming", "graph", "ml")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    opts.get("oracles") match {
      case Some(file) => writeOracles(file)
      case None => run(opts)
    }
  }

  private def writeOracles(file: String): Unit = {
    val sql = SparkEntry.oracleSql
    val doc = Map(
      "workloads" -> Workloads.all.map(w => w.name -> w.queries).toMap,
      "oracle_sql" -> Workloads.all.flatMap(_.queries).distinct
        .map(q => q -> sql.get(q)).toMap)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(file), Serialization.write(doc))
  }

  /** The module a query belongs to: the package its registry entry's
    * function was defined in (`graft.<module>.…`).
    */
  private def moduleOf(fn: AnyRef): String =
    fn.getClass.getName.split('.').drop(1).headOption.getOrElse("?")

  private def run(opts: Map[String, String]): Unit = {
    val workload = Workloads.byName(opts("workload"))
    val rng = new scala.util.Random(opts("seed").toLong)
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val sf = opts("sf")
    val out = opts("out")
    val registry = SparkEntry.queries
    val missing = workload.queries.filterNot(registry.contains)
    require(missing.isEmpty, s"not in the registry: ${missing.mkString(", ")}")
    val module = workload.queries.map(q => q -> moduleOf(registry(q))).toMap
    val unknown = module.filter { case (_, m) => !Modules.contains(m) }
    require(unknown.isEmpty, s"queries of unreported modules: $unknown")

    val cpus = Runtime.getRuntime.availableProcessors().toString
    val s0 = System.nanoTime()
    val spark = Sessions.local(cpus)
    val sessionStart = (System.nanoTime() - s0) / 1e9
    spark.sparkContext.setLogLevel("WARN")

    // Warm pass: fills memos, JIT and codegen, and writes each output once
    // for the correctness gate. A query that fails here is reported and
    // still issued in every timed pass.
    val w0 = System.nanoTime()
    val warmCalls = rng.shuffle(workload.queries).map { q =>
      val c0 = System.nanoTime()
      val err = try {
        registry(q)(spark, sf).write.mode("overwrite").parquet(s"$out/outputs/$q")
        None
      } catch { case NonFatal(e) => Some(message(e)) }
      (q, (System.nanoTime() - c0) / 1e9, err)
    }
    val warmErrors = warmCalls.collect { case (q, _, Some(e)) => q -> e }.toMap

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    /** One pass in a seeded order: each call constructs the query's frame
      * and writes it through the noop sink.
      */
    def runPass(n: Int, traced: Boolean): (Pass, Seq[Call]) = {
      val order = rng.shuffle(workload.queries)
      if (workload.cold) Caches.releaseAll()
      val jvm0 = JvmCounters.now()
      if (traced) tracer.foreach(_.attach())
      val passSpan = tracer.map(_.newId()).getOrElse(0L)
      val p0 = Tracer.nowUs()
      val cpu0 = osBean.getProcessCpuTime
      val calls = order.map { q =>
        def span[A](kind: String, parent: Long)(body: => A): (A, Double) = {
          val id = if (traced) tracer.get.newId() else 0L
          if (traced) tracer.get.enter(id)
          val a = Tracer.nowUs()
          try (body, (Tracer.nowUs() - a) / 1e6)
          finally if (traced) tracer.get.record(Span(id, parent, kind, q, a, Tracer.nowUs()))
        }
        val callId = if (traced) tracer.get.newId() else 0L
        val c0 = Tracer.nowUs()
        var construct, execute = 0.0
        val error = try {
          val (df, c) = span("construct", callId)(registry(q)(spark, sf))
          construct = c
          execute = span("execute", callId)(
            df.write.format("noop").mode("overwrite").save())._2
          None
        } catch { case NonFatal(e) => Some(message(e)) }
        if (traced) tracer.get.record(Span(callId, passSpan, "call", q, c0, Tracer.nowUs()))
        Call(n, q, module(q), construct, execute, error)
      }
      val cpu = (osBean.getProcessCpuTime - cpu0) / 1e9
      val p1 = Tracer.nowUs()
      val layers = if (!traced) Map.empty[String, Double] else {
        val t = tracer.get
        t.record(Span(passSpan, 0L, "pass", s"pass $n", p0, p1))
        val counters = t.detach()
        counters ++ JvmCounters.now().since(jvm0) ++
          t.selfSeconds(passSpan).map { case (k, v) => s"self.${k}_s" -> v }
      }
      val (mem, disk) = storageMb(spark)
      (Pass(n, traced, (p1 - p0) / 1e6, cpu, mem, disk, layers), calls)
    }

    val warm = (System.nanoTime() - w0) / 1e9
    val warmStorage = storageMb(spark)
    println("PERFBENCH READY " + Serialization.write(
      Map("queries" -> workload.queries, "errors" -> warmErrors)))
    if (scala.io.StdIn.readLine() == null) sys.exit(3)
    // An untimed settle pass through the noop sink, then the JIT drain:
    // the steepest part of the JIT warm-up falls in set-up, not in the
    // timed passes.
    runPass(-1, traced = false)
    val jitDrain = drainJit()

    val firstPassEpochMs = System.currentTimeMillis()
    // A pass starts only if one as long as the last still ends within the
    // S seconds, so a run measures about S seconds and never much more.
    val minPasses = if (trace) 4 else 2
    val t0 = System.nanoTime()
    val passes = Vector.newBuilder[(Pass, Seq[Call])]
    var n = 0
    var lastS = 0.0
    while (n < minPasses || (System.nanoTime() - t0) / 1e9 + lastS <= seconds) {
      val p = runPass(n, traced = trace && (n % 4 == 1 || n % 4 == 2))
      passes += p
      lastS = p._1.wall_s
      n += 1
    }
    val timed = passes.result()

    tracer.foreach(t => writeSpans(s"$out/spans.jsonl", t.allSpans))
    val result = Map(
      "workload" -> workload.name,
      "queries" -> workload.queries,
      "modules" -> Modules,
      "cores" -> cpus.toInt,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> spark.version,
      "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "session_start_s" -> sessionStart,
      "warm_s" -> warm,
      "warm_call_s" -> warmCalls.map { case (q, t, _) => q -> t }.toMap,
      "warm_storage_mb" -> warmStorage._1,
      "warm_disk_mb" -> warmStorage._2,
      "jit_drain_s" -> jitDrain,
      "first_pass_epoch_ms" -> firstPassEpochMs,
      "passes" -> timed.map(_._1),
      "calls" -> timed.flatMap(_._2))
    println("PERFBENCH RESULT " + Serialization.write(result))
    Caches.releaseAll()
    spark.stop()
  }

  private def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)

  /** Waits, at most [[JitDrainCapS]] seconds, until a 2 s window shows
    * less than 1 s of JIT compilation, so that timed passes do not run
    * code the warm pass left queued for the compiler. Returns the wait.
    */
  private def drainJit(): Double = {
    val cmx = ManagementFactory.getCompilationMXBean
    val d0 = System.nanoTime()
    if (cmx != null && cmx.isCompilationTimeMonitoringSupported) {
      var last = cmx.getTotalCompilationTime
      var quiet = false
      while (!quiet && (System.nanoTime() - d0) / 1e9 < JitDrainCapS) {
        Thread.sleep(2000)
        val now = cmx.getTotalCompilationTime
        quiet = now - last < 1000
        last = now
      }
    }
    (System.nanoTime() - d0) / 1e9
  }

  private val JitDrainCapS = 30.0

  /** Cached storage in MiB, memory and disk, over every persisted RDD. */
  private def storageMb(spark: SparkSession): (Double, Double) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(_.memSize).sum / 1048576.0, infos.map(_.diskSize).sum / 1048576.0)
  }

  private def writeSpans(file: String, spans: Seq[Span]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(file),
      spans.sortBy(_.startUs).map(s => Serialization.write(s)).asJava)
}

/** JVM-wide cumulative counters: codegen compiles, JIT and GC. */
final case class JvmCounters(codegenCount: Long, codegenMeanMs: Double, jitMs: Long,
                             gcMs: Long, gcCount: Long) {
  /** The deltas since `before`. Spark's codegen histogram keeps an exact
    * count but only a sample of compile times, so `jvm.codegen_ms` is the
    * count delta times the sample mean: an estimate.
    */
  def since(before: JvmCounters): Map[String, Double] = {
    val compiles = codegenCount - before.codegenCount
    Map(
      "jvm.codegen_compiles" -> compiles.toDouble,
      "jvm.codegen_ms" -> compiles * codegenMeanMs,
      "jvm.jit_ms" -> (jitMs - before.jitMs).toDouble,
      "jvm.gc_ms" -> (gcMs - before.gcMs).toDouble,
      "jvm.gc_count" -> (gcCount - before.gcCount).toDouble)
  }
}

object JvmCounters {
  def now(): JvmCounters = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    JvmCounters(h.getCount, h.getSnapshot.getMean,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum)
  }
}
