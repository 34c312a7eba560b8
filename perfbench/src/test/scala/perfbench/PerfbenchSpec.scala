package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Build, BuildOptions}
import graft.operators.AsOfJoin

class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val work: Path =
    Files.createDirectories(Paths.get("target", "perfbench-spec")).toAbsolutePath
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    Workloads.deleteTree(work)
  }

  private def ctx(seed: Long) = new Ctx(spark, seed, new Tracer)

  // ---- span arithmetic ------------------------------------------------

  private def span(s: Double, e: Double) = Span(0, -1, 0, "x", s, e)

  test("self time subtracts the union of child intervals, clipped to the span") {
    val parent = span(0, 100)
    assert(Span.selfTime(parent, Nil) == 100)
    assert(Span.selfTime(parent, Seq(span(10, 20), span(30, 50))) == 70)
    // overlapping children count once
    assert(Span.selfTime(parent, Seq(span(10, 40), span(30, 50), span(45, 48))) == 60)
    // children reaching outside the parent are clipped
    assert(Span.selfTime(parent, Seq(span(-10, 5), span(95, 120))) == 90)
    // disjoint child outside the parent covers nothing
    assert(Span.selfTime(parent, Seq(span(200, 300))) == 100)
    assert(Span.selfTime(parent, Seq(span(0, 100))) == 0)
  }

  test("tail is the highest order statistic with ten samples above it") {
    val xs = (1 to 30).map(_.toDouble)
    assert(Main.tail(xs) == 20.0)
    assert(Main.tail((1 to 11).map(_.toDouble)) == 1.0)
    assert(Main.tail(Seq(3.0, 1.0, 2.0)) == 3.0) // max when n <= 10
    assert(Main.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  // ---- generators -----------------------------------------------------

  test("generators are pure functions of (seed, size)") {
    val size = Gen.PitSize(labels = 500, entities = 100, sources = 2, rowsPerSource = 400)
    def sums(seed: Long) = Seq(
      Workloads.checksum(Gen.labels(spark, seed, size), Seq("entity_id", "label_time", "target")),
      Workloads.checksum(Gen.source(spark, seed, size, 1).repartition(3),
        Seq("entity_id", "feature_time", "f1_value")),
      Workloads.checksum(Gen.corpus(spark, seed, 400), Seq("doc_id", "url", "text")))
    assert(sums(7) == sums(7))
    sums(7).zip(sums(8)).foreach { case (a, b) => assert(a != b) }
  }

  test("feature sources have unique (entity, time) rows, all before the label day") {
    val size = Gen.PitSize(labels = 500, entities = 100, sources = 1, rowsPerSource = 1000)
    val src = Gen.source(spark, 3, size, 0)
    assert(src.select("entity_id", "feature_time").distinct().count() == 1000)
    val maxT = src.agg(max(unix_seconds(col("feature_time")))).head().getLong(0)
    val minT = src.agg(min(unix_seconds(col("feature_time")))).head().getLong(0)
    assert(maxT < Gen.DayEpochSeconds)
    assert(Gen.DayEpochSeconds + 86400L - minT < 365L * 86400L)
  }

  // ---- output checks --------------------------------------------------

  test("the pit_build oracle equals graft's RowNumber executable spec") {
    val size = Gen.PitSize(labels = 2000, entities = 400, sources = 3, rowsPerSource = 2000)
    val wl = new PitBuild(size)
    val c = ctx(5)
    wl.setup(c, work.resolve("pit-inputs"))
    wl.prepareChecks(c)
    val out = work.resolve("pit-rownumber.parquet").toString
    Build(spark, wl.labels, wl.features, BuildOptions(output = Some(out),
      strategy = AsOfJoin.Strategy.RowNumber))
    assert(wl.checkOutput(out).isEmpty)
    // a different output fails the check
    spark.read.parquet(out).limit(1999).write.parquet(out + ".short")
    assert(wl.checkOutput(out + ".short").isDefined)
  }

  // ---- attribution ----------------------------------------------------

  private def recorded[A](body: => A): (A, Seq[JobStats]) = {
    val rec = new JobRecorder
    JobRecorder.awaitEvents(spark.sparkContext)
    spark.sparkContext.addSparkListener(rec)
    try {
      val a = body
      JobRecorder.awaitEvents(spark.sparkContext)
      (a, rec.drain())
    } finally spark.sparkContext.removeSparkListener(rec)
  }

  test("Build jobs are attributed to the phase of the last progress mark") {
    val size = Gen.PitSize(labels = 1000, entities = 200, sources = 2, rowsPerSource = 1000)
    val wl = new PitBuild(size)
    val c = ctx(9)
    wl.setup(c, work.resolve("attr-inputs"))
    wl.prepareChecks(c)
    val opDir = work.resolve("attr-op")
    val (out, jobs) = recorded(wl.op(c, opDir))
    assert(out.check().isEmpty)
    assert(out.marks.map(_._1).take(2) == Seq("probe", "load"))
    assert(jobs.nonEmpty)
    assert(jobs.forall(j => out.marks.map(_._1).contains(j.phase)), jobs.map(_.phase))
    assert(jobs.exists(_.phase == "compute") && jobs.exists(_.phase == "verify") &&
      jobs.exists(_.phase == "write"))
    // no job outside an op carries a phase
    val (_, after) = recorded(spark.range(10).count())
    assert(after.nonEmpty && after.forall(_.phase.isEmpty))
  }

  test("curate jobs carry Curation's stage descriptions") {
    val wl = new Curate(docs = 800)
    val c = ctx(2)
    wl.setup(c, work.resolve("curate-inputs"))
    val (out, jobs) = recorded(wl.op(c, work.resolve("curate-op")))
    assert(out.check().isEmpty)
    val descs = jobs.map(_.description).toSet
    Seq("scan ledger", "url dedup", "exact dedup", "unigram buckets", "near-dup dedup")
      .foreach(d => assert(descs.contains(s"graft curate: $d"), descs))
    assert(jobs.filter(_.phase == "write").forall(_.description.isEmpty))
  }

  // ---- the benchmark's declaration --------------------------------------

  test("BENCHMARK.json declares exactly the metrics the runner prints") {
    val text = new String(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")), "UTF-8")
    def names(section: String): Seq[String] = {
      val body = text.substring(text.indexOf(s""""$section"""")).takeWhile(_ != ']')
      """"name":\s*"([^"]+)"""".r.findAllMatchIn(body).map(_.group(1)).toSeq
    }
    assert(names("end_to_end") == Main.EndToEnd.map(_._1))
    assert(names("per_layer") == Main.PerLayer.map(_._1))
    assert(names("workloads") == Workloads.names)
  }
}
