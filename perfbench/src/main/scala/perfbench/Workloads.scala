package perfbench

import java.nio.file.{Files, Path}
import java.time.Duration

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Build, BuildOptions}
import graft.model.{Feature, Labels, Source}
import graft.operators.AsOfJoin
import graft.ops.{Curation, Dedup, QualityFilters}
import graft.store.Store

/** What one op hands back: a check of its outputs (run untimed, after
  * the op) and the phase marks (name, epoch ms, span id) it recorded. */
final case class OpOutput(check: () => Option[String],
    marks: Seq[(String, Double, Long)] = Nil)

/** Shared state of a run: the session, the seed, and the phase helper
  * that tags Spark jobs and records spans. */
final class Ctx(val spark: SparkSession, val seed: Long, val tracer: Tracer) {
  val sc = spark.sparkContext
  /** Span id of the op being traced (-1 when the op is untraced). */
  var opSpan: Long = -1L
  var opId: Long = -1L
  val phaseSpans = scala.collection.mutable.ArrayBuffer.empty[Span]

  def setPhase(name: String, spanId: Long): Unit = {
    sc.setLocalProperty(JobRecorder.PhaseKey, name)
    sc.setLocalProperty(JobRecorder.SpanKey, spanId.toString)
  }

  def clearPhase(): Unit = {
    sc.setLocalProperty(JobRecorder.PhaseKey, null)
    sc.setLocalProperty(JobRecorder.SpanKey, null)
  }

  /** Run `body` as phase `name` of the current op: its Spark jobs carry
    * the phase tag, and a traced op records a span for it. */
  def phase[A](name: String)(body: => A): A = {
    val id = if (opSpan >= 0) tracer.newId() else -1L
    val t0 = Clock.ms()
    setPhase(name, id)
    try body
    finally {
      clearPhase()
      if (opSpan >= 0) phaseSpans += Span(id, opSpan, opId, name, t0, Clock.ms())
    }
  }
}

object Clock {
  /** Epoch milliseconds with sub-millisecond resolution. */
  private val base = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  def ms(): Double = base + System.nanoTime() / 1e6
}

trait Workload {
  def name: String
  /** Generate the inputs under `dir` and do any preparation a user of
    * graft does once before issuing ops. Timed as `setup_s`. */
  def setup(ctx: Ctx, dir: Path): Unit
  /** Untimed, once: derive the expected outputs from the inputs. */
  def prepareChecks(ctx: Ctx): Unit = ()
  /** One op, writing what it leaves on storage under `opDir`. */
  def op(ctx: Ctx, opDir: Path): OpOutput
  /** Untimed direct calls into single layers, after a traced op. */
  def probeLayers(ctx: Ctx, opDir: Path): Map[String, Double] = Map.empty
  /** Per-layer numbers of one traced op. */
  def layers(op: TracedOp): Map[String, Double]
}

/** Everything recorded about one traced op. */
final case class TracedOp(phases: Seq[Span], jobs: Seq[JobStats], opDir: Path,
    probes: Map[String, Double]) {
  def jobsIn(phase: String): Seq[JobStats] = jobs.filter(_.phase == phase)
  def phaseS(name: String): Double =
    phases.filter(_.name == name).map(_.dur).sum / 1000.0
}

object Workloads {
  val names: Seq[String] = Seq("pit_build", "curate")

  def apply(name: String): Workload = name match {
    case "pit_build"  => new PitBuild(Gen.PitSize(labels = 10000, entities = 2000,
      sources = 4, rowsPerSource = 20000))
    case "curate"     => new Curate(docs = 2000)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; expected one of ${names.mkString(", ")}")
  }

  def sumJobs(js: Seq[JobStats])(f: JobStats => Double): Double = js.map(f).sum

  def dirMb(p: Path): Double =
    if (!Files.exists(p)) 0.0
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum / JobRecorder.MB
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  /** Order-independent checksum of `cols`: (row count, sum of row
    * hashes mod 2^31-1). Values are compared, not files or order. */
  def checksum(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(pmod(xxhash64(cols.map(col): _*), lit(2147483647L))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
}

// ---------------------------------------------------------------------
// pit_build: Build.apply with the options `graft build` uses

final class PitBuild(size: Gen.PitSize) extends Workload {
  val name = "pit_build"
  private var dir: Path = _
  private var expected: (Long, Long) = _

  private def labelsPath = dir.resolve("labels.parquet").toString
  private def sourcePath(k: Int) = dir.resolve(s"source_$k.parquet").toString

  def setup(ctx: Ctx, d: Path): Unit = {
    dir = d
    Gen.labels(ctx.spark, ctx.seed, size).write.parquet(labelsPath)
    (0 until size.sources).foreach(k =>
      Gen.source(ctx.spark, ctx.seed, size, k).write.parquet(sourcePath(k)))
  }

  /** Expected output, by plain Spark SQL without graft: every feature
    * row predates the label day and lies within the 365-day lookback,
    * so each label takes its entity's latest row of every source. */
  override def prepareChecks(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val joined = (0 until size.sources).foldLeft(spark.read.parquet(labelsPath)) { (acc, k) =>
      val latest = spark.read.parquet(sourcePath(k)).groupBy("entity_id")
        .agg(max_by(col(Gen.valueCol(k)), col("feature_time")).as(Gen.valueCol(k)))
      acc.join(latest, Seq("entity_id"), "left")
    }
    expected = Workloads.checksum(joined, checkCols)
  }

  private val checkCols = Seq("entity_id", "label_time", "target") ++
    (0 until size.sources).map(Gen.valueCol)

  /** None when the parquet at `path` holds exactly the expected rows. */
  def checkOutput(path: String): Option[String] = {
    val df = SparkSession.active.read.parquet(path)
    // output columns may carry a `<feature>__` prefix
    val cols = checkCols.map(c => col(df.columns.find(o => o == c || o.endsWith("__" + c))
      .getOrElse(c)).as(c))
    val got = Workloads.checksum(df.select(cols: _*), checkCols)
    if (got != expected) Some(s"output checksum $got != expected $expected") else None
  }

  def features: Seq[Feature] = (0 until size.sources).map { k =>
    Feature.columns(Source.parquet(s"source_$k", sourcePath(k), Seq("entity_id"), "feature_time"),
      Seq(Gen.valueCol(k)), name = Some(s"f$k"))
  }

  def labels: Labels = Labels.parquet(labelsPath, Seq("entity_id"), "label_time", Seq("target"))

  def op(ctx: Ctx, opDir: Path): OpOutput = {
    val out = opDir.resolve("train.parquet").toString
    // Build's progress marks split the op into phases; each mark tags
    // the Spark jobs submitted after it until the next one
    val marks = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Long)]
    def mark(stage: String): Unit =
      if (marks.isEmpty || marks.last._1 != stage) {
        val id = if (ctx.opSpan >= 0) ctx.tracer.newId() else -1L
        marks += ((stage, Clock.ms(), id))
        ctx.setPhase(stage, id)
      }
    // BuildOptions as the CLI's config loader produces them: strict
    // join, 365d lookback, a `.graft` store; everything else default
    // (duplicate checks, sorted result, verify, stats).
    val opts = BuildOptions(join = "strict", onMissing = "null",
      maxLookback = Duration.ofDays(365),
      store = Some(new Store(opDir.resolve(".graft").toString)),
      output = Some(out),
      progress = (stage, _) => mark(stage))
    mark("probe") // the build-cache probe runs before the first mark
    val r = try Build(ctx.spark, labels, features, opts) finally ctx.clearPhase()
    OpOutput(() => {
      val bad = r.features.filter(_.matched != size.labels)
      if (r.rows != size.labels) Some(s"rows ${r.rows} != ${size.labels}")
      else if (!r.auditPassed) Some("auditPassed is false")
      else if (bad.nonEmpty) Some(s"matched rows off: ${bad.mkString(", ")}")
      else checkOutput(out)
    }, marks.toSeq)
  }

  override def probeLayers(ctx: Ctx, opDir: Path): Map[String, Double] = {
    val spark = ctx.spark
    val st = new Store(opDir.resolve(".graft-probe").toString)
    val t0 = System.nanoTime()
    (labelsPath +: (0 until size.sources).map(sourcePath)).foreach(st.contentHash)
    val hashS = (System.nanoTime() - t0) / 1e9
    val spine = spark.read.parquet(labelsPath)
      .withColumn(AsOfJoin.RowIdCol, monotonically_increasing_id())
    val spec = AsOfJoin.Spec(Seq("entity_id"), Seq("entity_id"), "label_time",
      "feature_time", Seq(Gen.valueCol(0)), maxLookback = Some(Duration.ofDays(365)))
    val t1 = System.nanoTime()
    ctx.phase("asof") {
      AsOfJoin.join(spine, spark.read.parquet(sourcePath(0)), spec, AsOfJoin.Strategy.Auto)
        .write.format("noop").mode("overwrite").save()
    }
    Map("store.hash_s" -> hashS, "operators.asof_s" -> (System.nanoTime() - t1) / 1e9)
  }

  def layers(op: TracedOp): Map[String, Double] = {
    val asof = op.jobsIn("asof")
    val verify = op.jobsIn("verify")
    val compute = op.phases.filter(_.name == "compute")
    val computeJobs = op.jobsIn("compute")
    val jobSpans = computeJobs.map(j => Span(-1, -1, -1, "job", j.start, j.end))
    val storeDir = op.opDir.resolve(".graft")
    val manifests = Option(storeDir.resolve("builds")).filter(Files.isDirectory(_)).toSeq
      .flatMap(p => { val s = Files.list(p); try s.iterator().asScala.toSeq finally s.close() })
    val hits = manifests.map(m => "\"cached\":\\s*true".r.findAllIn(Files.readString(m)).size).sum
    Map(
      "engine.build.probe_s" -> op.phaseS("probe"),
      "engine.build.load_s" -> op.phaseS("load"),
      "engine.build.compute_s" -> op.phaseS("compute"),
      "engine.build.compute_jobs" -> computeJobs.size.toDouble,
      "engine.build.compute_driver_s" -> compute.map(Span.selfTime(_, jobSpans)).sum / 1000.0,
      "engine.build.join_s" -> op.phaseS("join"),
      "engine.build.verify_s" -> op.phaseS("verify"),
      "engine.build.verify_exec_cpu_s" -> Workloads.sumJobs(verify)(_.execCpuS),
      "engine.build.verify_shuffle_write_mb" -> Workloads.sumJobs(verify)(_.shuffleWriteMb),
      "engine.build.verify_spill_mb" -> Workloads.sumJobs(verify)(_.spillMb),
      "engine.build.verify_max_task_s" -> (0.0 +: verify.map(_.maxTaskS)).max,
      "engine.build.write_s" -> op.phaseS("write"),
      "engine.build.write_exec_cpu_s" -> Workloads.sumJobs(op.jobsIn("write"))(_.execCpuS),
      "engine.build.jobs" -> op.jobs.count(_.phase != "asof").toDouble,
      "operators.asof_s" -> op.probes("operators.asof_s"),
      "operators.asof_exec_cpu_s" -> Workloads.sumJobs(asof)(_.execCpuS),
      "operators.asof_shuffle_write_mb" -> Workloads.sumJobs(asof)(_.shuffleWriteMb),
      "store.hash_s" -> op.probes("store.hash_s"),
      "store.written_mb" -> Workloads.dirMb(storeDir),
      "store.feature_hits" -> hits.toDouble)
  }
}

// ---------------------------------------------------------------------
// curate: one cold Curation.curate plus the output write

final class Curate(docs: Long) extends Workload {
  val name = "curate"
  private var path: String = _
  private var firstLedger: Option[(Long, Vector[(String, Long)])] = None
  private var keptRatio = 0.0

  def setup(ctx: Ctx, dir: Path): Unit = {
    path = dir.resolve("corpus.parquet").toString
    Gen.corpus(ctx.spark, ctx.seed, docs).write.parquet(path)
  }

  def op(ctx: Ctx, opDir: Path): OpOutput = {
    val spark = ctx.spark
    val out = opDir.resolve("curated.parquet").toString
    spark.catalog.clearCache()
    val r = ctx.phase("curate") {
      Curation.curate(spark.read.parquet(path),
        minQuality = 0.3, languages = Seq("en"), nearDupThreshold = 0.8,
        nearDup = Curation.NearDup.MinhashLsh,
        hygiene = Curation.HygieneConfig(
          c4 = Some(Curation.C4Config()),
          gopher = Some(QualityFilters.GopherConfig()),
          repetition = Some(QualityFilters.RepetitionConfig()),
          urlCol = Some("url"),
          unigram = Some(Curation.UnigramConfig())),
        hasher = Dedup.xxHash)
    }
    ctx.phase("write") {
      r.df.write.parquet(out)
      r.release()
    }
    val ledger = (r.stats.input, r.stats.stages)
    if (firstLedger.isEmpty) System.err.println(s"[perfbench] curate ledger: $ledger")
    keptRatio = r.stats.output.toDouble / r.stats.input
    OpOutput(() => {
      val ids = spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0))
      val first = firstLedger.getOrElse { firstLedger = Some(ledger); ledger }
      Curate.check(ledger, docs).orElse(Curate.checkSurvivors(ids.toSet)).orElse(
        if (ledger != first) Some(s"ledger $ledger differs from this run's first op $first")
        else if (ids.length != r.stats.output) Some(s"wrote ${ids.length} rows, ledger says ${r.stats.output}")
        else None)
    })
  }

  def layers(op: TracedOp): Map[String, Double] = {
    val cur = op.jobsIn("curate")
    def stageS(desc: String) =
      Workloads.sumJobs(cur.filter(_.description == s"graft curate: $desc"))(j => (j.end - j.start) / 1000.0)
    val all = op.jobs
    Map(
      "ops.curate.scan_ledger_s" -> stageS("scan ledger"),
      "ops.curate.url_dedup_s" -> stageS("url dedup"),
      "ops.curate.exact_dedup_s" -> stageS("exact dedup"),
      "ops.curate.unigram_s" -> stageS("unigram buckets"),
      "ops.curate.near_dup_s" -> stageS("near-dup dedup"),
      "ops.curate.unattributed_s" ->
        Workloads.sumJobs(cur.filter(_.description.isEmpty))(j => (j.end - j.start) / 1000.0),
      "ops.curate.write_s" -> op.phaseS("write"),
      "ops.curate.exec_cpu_s" -> Workloads.sumJobs(all)(_.execCpuS),
      "ops.curate.shuffle_write_mb" -> Workloads.sumJobs(all)(_.shuffleWriteMb),
      "ops.curate.jobs" -> all.size.toDouble,
      "ops.curate.kept_ratio" -> keptRatio)
  }
}

object Curate {
  import Gen.Doc

  /** Ledger expectations for the planted corpus of [[Gen.corpus]]. The
    * scan stages and the URL / exact dedups drop exactly the planted
    * classes; the unigram stage keeps about two of its three quantile
    * buckets (approxQuantile, so a band); MinHash-LSH is checked on the
    * survivors instead (see [[checkSurvivors]]). */
  def check(ledger: (Long, Vector[(String, Long)]), docs: Long): Option[String] = {
    val (input, stages) = ledger
    val n = docs / Doc.Mod // pages per planted class
    val exact = Seq("c4" -> (docs - 2 * n), "gopher" -> (docs - 3 * n),
      "repetition" -> (docs - 4 * n), "quality" -> (docs - 4 * n),
      "language" -> (docs - 4 * n), "url_dup" -> (docs - 5 * n), "exact_dup" -> (docs - 6 * n))
    val got = stages.toMap
    val afterExact = docs - 6 * n
    if (input != docs) Some(s"ledger input $input != $docs")
    else if (stages.map(_._1) != exact.map(_._1) ++ Seq("unigram", "near_dup"))
      Some(s"unexpected stages ${stages.map(_._1)}")
    else exact.collectFirst { case (st, want) if got(st) != want =>
      s"stage $st kept ${got(st)}, expected $want" }.orElse {
      val uni = got("unigram")
      if (uni < afterExact * 0.60 || uni > afterExact * 0.72)
        Some(s"unigram kept $uni of $afterExact, outside [0.60, 0.72]")
      else if (got("near_dup") > uni || uni - got("near_dup") > n)
        Some(s"near_dup kept ${got("near_dup")} of $uni; at most $n planted near copies")
      else None
    }
  }

  /** No planted defect survives, and no planted copy survives together
    * with the page it copies. */
  def checkSurvivors(ids: Set[Long]): Option[String] = {
    val defects = Set(Doc.Short, Doc.Symbols, Doc.Repeated, Doc.Foreign)
    val copies = Set(Doc.ExactCopy, Doc.NearCopy, Doc.UrlCopy)
    ids.collectFirst {
      case id if defects(id % Doc.Mod) => s"planted defect page $id survived"
      case id if copies(id % Doc.Mod) && ids(id - 30) => s"page $id survived with its original ${id - 30}"
    }
  }
}
