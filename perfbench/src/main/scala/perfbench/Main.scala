package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up a workload's inputs, run ops from one
  * closed-loop client (a single driver thread, each op issued after the
  * previous one returns) for `--seconds`, check every op's output, and
  * print one JSON result line.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <scratch dir> [--spans <file>]
  * }}}
  *
  * With `--trace 0` the result holds the end-to-end metrics; with
  * `--trace 1` it holds the per-layer metrics, taken from traced ops
  * interleaved with untraced ones (their difference is the tracing
  * overhead). */
object Main {

  val SetupReps = 3
  /** Spark task slots. One slot leaves the other cores to the driver
    * thread, the JIT and whatever else shares the machine: on 4 cores,
    * two busy threads beside the benchmark slowed pit_build ops by 60%
    * with 4 slots, by 39% with 2 and by 3-30% with 1. The op time is
    * mostly per-job overhead at these sizes, so one slot costs little. */
  val Cores = 1
  /** Warm-up ops after the first op. They are counted, not timed, so a
    * slower or busier machine measures at the same point of the JIT's
    * curve. pit_build op times settle by the fourth op; curate's keep
    * falling slowly for a dozen ops, while the JIT still compiles for
    * seconds per op. */
  val WarmupOps = 3
  /** Spark's generated-class cache; its default of 100 entries is less
    * than the 127 classes one curate op generates, so with the default
    * every curate op misses the LRU cache on every class, recompiles all
    * of them and hands them to the JIT again, and op times drift upward
    * through a run instead of settling. */
  val CodegenCacheEntries = 1000

  /** End-to-end metric names and units, in output order. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "op_s_p50" -> "s", "op_s_tail" -> "s", "first_op_s" -> "s", "cpu_s" -> "s",
    "live_heap_mb" -> "MB", "written_mb" -> "MB", "setup_s" -> "s")

  /** Per-layer metric names and units, in output order. Every traced run
    * reports all of them; a layer a workload never enters reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "engine.build.probe_s" -> "s", "engine.build.load_s" -> "s",
    "engine.build.compute_s" -> "s", "engine.build.compute_jobs" -> "count",
    "engine.build.compute_driver_s" -> "s", "engine.build.join_s" -> "s",
    "engine.build.verify_s" -> "s", "engine.build.verify_exec_cpu_s" -> "s",
    "engine.build.verify_shuffle_write_mb" -> "MB", "engine.build.verify_spill_mb" -> "MB",
    "engine.build.verify_max_task_s" -> "s", "engine.build.write_s" -> "s",
    "engine.build.write_exec_cpu_s" -> "s", "engine.build.jobs" -> "count",
    "operators.asof_s" -> "s", "operators.asof_exec_cpu_s" -> "s",
    "operators.asof_shuffle_write_mb" -> "MB",
    "store.hash_s" -> "s", "store.written_mb" -> "MB", "store.feature_hits" -> "count",
    "sources.input_mb" -> "MB", "sources.input_rows" -> "count",
    "ops.curate.scan_ledger_s" -> "s", "ops.curate.url_dedup_s" -> "s",
    "ops.curate.exact_dedup_s" -> "s", "ops.curate.unigram_s" -> "s",
    "ops.curate.near_dup_s" -> "s", "ops.curate.unattributed_s" -> "s",
    "ops.curate.write_s" -> "s", "ops.curate.exec_cpu_s" -> "s",
    "ops.curate.shuffle_write_mb" -> "MB", "ops.curate.jobs" -> "count",
    "ops.curate.kept_ratio" -> "ratio",
    "spark.tasks" -> "count", "spark.task_retries" -> "count",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.codegen_classes" -> "count",
    "jvm.gc_s" -> "s", "jvm.jit_s" -> "s", "trace.overhead_s" -> "s")

  /** Phases of direct layer calls made after a traced op; their jobs are
    * not part of the op. */
  val ProbePhases = Set("asof")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, spans: Option[Path])

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = req("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    Args(req("workload"), req("seed").toLong, req("seconds").toInt, trace,
      Paths.get(req("work")), m.get("spans").map(Paths.get(_)))
  }

  // ---- JVM counters ----------------------------------------------------

  /** Heap still occupied right after each GC, from GC notifications. */
  object HeapWatch {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    @volatile private var lastAfterGc = 0L
    @volatile private var peak = 0L

    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
              .GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            HeapWatch.synchronized { lastAfterGc = after; peak = math.max(peak, after) }
          }
        }, null, null)
      case _ => ()
    }

    /** Start an op right after a full collection: its peak starts at
      * the heap that collection left live. */
    def reset(): Unit = {
      val live = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      synchronized { lastAfterGc = live; peak = live }
    }
    def peakMb: Double = {
      val p = synchronized(peak)
      p / JobRecorder.MB
    }
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = os.getProcessCpuTime / 1e9
  def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum / 1000.0
  def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0
  /** Classes Spark has generated and compiled so far in this JVM. */
  def codegenClasses: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  // ---- statistics ------------------------------------------------------

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest order statistic with at least ten samples above it
    * (the sample maximum when there are ten samples or fewer). */
  def tail(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(tailRank(s.size))
  }

  /** 0-based index of [[tail]] in `n` sorted samples. */
  def tailRank(n: Int): Int = if (n <= 10) n - 1 else n - 11

  // ---- one op ----------------------------------------------------------

  final case class OpRecord(wallS: Double, cpuS: Double, liveHeapMb: Double,
      writtenMb: Double, error: Option[String], layers: Map[String, Double])

  final class Runner(args: Args, ctx: Ctx, wl: Workload) {
    private val recorder = new JobRecorder
    private var opCount = 0L

    def runOp(traced: Boolean): OpRecord = {
      opCount += 1
      val opDir = args.work.resolve(s"op-$opCount")
      Files.createDirectories(opDir)
      val sc = ctx.sc
      if (traced) {
        JobRecorder.awaitEvents(sc)
        sc.addSparkListener(recorder)
        ctx.opSpan = ctx.tracer.newId()
        ctx.opId = opCount
        ctx.phaseSpans.clear()
      }
      System.gc() // every op starts from the same collected heap
      HeapWatch.reset()
      val (cpu0, gc0, jit0) = (cpuS, gcS, jitS)
      val start = Clock.ms()
      val t0 = System.nanoTime()
      val out = try Right(wl.op(ctx, opDir)) catch { case e: Exception => Left(e) }
      val wallS = (System.nanoTime() - t0) / 1e9
      val end = Clock.ms()
      val (cpu1, gc1, jit1) = (cpuS, gcS, jitS)
      val liveMb = HeapWatch.peakMb
      val writtenMb = Workloads.dirMb(opDir)
      var layers = Map.empty[String, Double]
      val traceOut = if (!traced) None else {
        val probes =
          try out.toOption.map(_ => wl.probeLayers(ctx, opDir)).getOrElse(Map.empty)
          finally {
            JobRecorder.awaitEvents(sc)
            sc.removeSparkListener(recorder)
          }
        Some((probes, recorder.drain()))
      }
      val error = out match {
        case Left(e) => Some(s"op threw ${e.getClass.getName}: ${e.getMessage}")
        case Right(o) => try o.check() catch {
          case e: Exception => Some(s"check threw ${e.getClass.getName}: ${e.getMessage}")
        }
      }
      for ((probes, jobs) <- traceOut; o <- out.toOption) {
        val opSpan = Span(ctx.opSpan, -1L, opCount, s"${wl.name} op", start, end)
        val markSpans = o.marks.zipWithIndex.map { case ((name, t, id), i) =>
          Span(id, opSpan.id, opCount, name, t,
            if (i + 1 < o.marks.size) o.marks(i + 1)._2 else end)
        }
        val phases = markSpans ++ ctx.phaseSpans
        val jobSpans = jobs.map(j => Span(ctx.tracer.newId(),
          if (j.parentSpan >= 0) j.parentSpan else opSpan.id, opCount,
          s"job ${j.jobId}" + (if (j.description.nonEmpty) s": ${j.description}" else ""),
          j.start, j.end, Map("exec_cpu_s" -> j.execCpuS, "tasks" -> j.tasks.toDouble,
            "shuffle_write_mb" -> j.shuffleWriteMb)))
        (opSpan +: phases ++: jobSpans).foreach(ctx.tracer.add)
        val opJobs = jobs.filterNot(j => ProbePhases(j.phase))
        val t = TracedOp(phases, jobs, opDir, probes)
        layers = wl.layers(t) ++ Map(
          "sources.input_mb" -> Workloads.sumJobs(opJobs)(_.inputMb),
          "sources.input_rows" -> Workloads.sumJobs(opJobs)(_.inputRows.toDouble),
          "spark.tasks" -> Workloads.sumJobs(opJobs)(_.tasks.toDouble),
          "spark.task_retries" -> Workloads.sumJobs(opJobs)(_.retries.toDouble),
          "spark.shuffle_write_mb" -> Workloads.sumJobs(opJobs)(_.shuffleWriteMb),
          "spark.spill_mb" -> Workloads.sumJobs(opJobs)(_.spillMb),
          "jvm.gc_s" -> (gc1 - gc0),
          "jvm.jit_s" -> (jit1 - jit0))
      }
      ctx.opSpan = -1L
      error.foreach(e => System.err.println(s"[perfbench] op $opCount FAILED: $e"))
      Workloads.deleteTree(opDir)
      OpRecord(wallS, cpu1 - cpu0, liveMb, writtenMb, error, layers)
    }
  }

  // ---- main ------------------------------------------------------------

  def session(work: Path): SparkSession = SparkSession.builder()
    .master(s"local[$Cores]")
    .appName("graft-perfbench")
    .config("spark.sql.shuffle.partitions", Cores.toString)
    .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .getOrCreate()

  def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val wl = Workloads(args.workload)
    Files.createDirectories(args.work)
    HeapWatch.install()
    val spark = session(args.work)
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, args.seed, new Tracer)
    def log(s: String): Unit = System.err.println(s"[perfbench] $s")

    // set-up, several times; the last copy's inputs serve the ops
    val setupTimes = (1 to SetupReps).map { r =>
      val dir = args.work.resolve(s"inputs-$r")
      val t0 = System.nanoTime()
      wl.setup(ctx, dir)
      val s = (System.nanoTime() - t0) / 1e9
      if (r < SetupReps) Workloads.deleteTree(dir)
      s
    }
    log(s"setup_s: ${setupTimes.map(fmt).mkString(", ")}")
    wl.prepareChecks(ctx)

    val runner = new Runner(args, ctx, wl)
    // warm-up: the first op is what a one-shot CLI call pays; the
    // classes it generates are all the classes an op's plans need
    val codegen0 = codegenClasses
    val first = runner.runOp(traced = false)
    val firstCodegen = codegenClasses - codegen0
    val warm = (1 to WarmupOps).map(_ => runner.runOp(traced = false))
    val measured = mutable.ArrayBuffer.empty[OpRecord]
    val traced = mutable.ArrayBuffer.empty[OpRecord]
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < args.seconds || measured.isEmpty ||
        (args.trace && traced.isEmpty)) {
      if (args.trace && i % 2 == 1) traced += runner.runOp(traced = true)
      else measured += runner.runOp(traced = false)
      i += 1
    }
    val all = Seq(first) ++ warm ++ measured ++ traced
    val failed = all.count(_.error.isDefined)
    val walls = measured.map(_.wallS).toSeq
    log(s"workload=${wl.name} seed=${args.seed} warm-up ops=${1 + warm.size}" +
      s" untraced ops=${walls.size} traced ops=${traced.size}" +
      s" op_s=${walls.map(fmt).mkString(",")}")
    log(s"op_s_tail is order statistic ${tailRank(walls.size) + 1} of ${walls.size}")

    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) {
        val values = Map(
          "op_s_p50" -> median(walls),
          "op_s_tail" -> tail(walls),
          "first_op_s" -> first.wallS,
          "cpu_s" -> median(measured.map(_.cpuS).toSeq),
          "live_heap_mb" -> median(measured.map(_.liveHeapMb).toSeq),
          "written_mb" -> median(measured.map(_.writtenMb).toSeq),
          "setup_s" -> median(setupTimes))
        EndToEnd.map { case (n, u) => (n, values(n), u) }
      } else {
        val overhead = median(traced.map(_.wallS).toSeq) - median(walls)
        val keys = traced.flatMap(_.layers.keys).toSet
        val values = keys.map(k => k -> median(traced.flatMap(_.layers.get(k)).toSeq)).toMap +
          ("trace.overhead_s" -> overhead) + ("spark.codegen_classes" -> firstCodegen.toDouble)
        PerLayer.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
      }
    args.spans.foreach { p =>
      Files.createDirectories(p.toAbsolutePath.getParent)
      ctx.tracer.write(p)
    }
    spark.stop()
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${failed == 0}, "attempted": ${all.size}, "failed": $failed, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
  }
}
