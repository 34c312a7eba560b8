package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. Times are epoch milliseconds (Spark's job
  * events carry those), `parent` is the id of the span that caused it
  * (-1 for an op), and every span of one op shares `op`. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    start: Double, end: Double, attrs: Map[String, Double] = Map.empty) {
  def dur: Double = end - start
}

object Span {
  /** Duration of `span` minus the part of its interval covered by the
    * union of `children` (clipped to the span). */
  def selfTime(span: Span, children: Seq[Span]): Double = {
    val clipped = children
      .map(c => (math.max(c.start, span.start), math.min(c.end, span.end)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN) { curS = s; curE = e }
      else if (s <= curE) curE = math.max(curE, e)
      else { covered += curE - curS; curS = s; curE = e }
    }
    if (!curS.isNaN) covered += curE - curS
    span.dur - covered
  }

  def toJson(s: Span): String = {
    val attrs = s.attrs.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name.replace("\"", "'")}",""" +
      s""""start_ms":${s.start},"end_ms":${s.end},"attrs":{$attrs}}"""
  }
}

/** Task counters summed over one Spark job's tasks. */
final case class JobStats(
    jobId: Int,
    phase: String,      // perfbench.phase local property at submission
    description: String, // spark.job.description at submission ("" if none)
    parentSpan: Long,   // perfbench.span local property at submission
    start: Double,
    var end: Double = Double.NaN,
    var tasks: Long = 0,
    var retries: Long = 0,
    var execCpuS: Double = 0,
    var maxTaskS: Double = 0,
    var shuffleWriteMb: Double = 0,
    var spillMb: Double = 0,
    var inputMb: Double = 0,
    var inputRows: Long = 0)

/** Records every job and its task counters. The phase a job belongs to
  * comes from the local properties of the submitting thread:
  * `perfbench.phase` and `perfbench.span`, which the benchmark sets
  * around each call into graft (and from Build's progress hook), and
  * Spark's own job description, which Curation sets per stage. */
final class JobRecorder extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobStats]
  private val stageToJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    jobs(e.jobId) = JobStats(e.jobId, prop(JobRecorder.PhaseKey),
      prop("spark.job.description"),
      prop(JobRecorder.SpanKey).toLongOption.getOrElse(-1L), e.time.toDouble)
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (e.taskInfo.attemptNumber > 0 || !e.taskInfo.successful) j.retries += 1
      j.maxTaskS = math.max(j.maxTaskS, e.taskInfo.duration / 1000.0)
      Option(e.taskMetrics).foreach { m =>
        j.execCpuS += m.executorCpuTime / 1e9
        j.shuffleWriteMb += m.shuffleWriteMetrics.bytesWritten / JobRecorder.MB
        j.spillMb += (m.memoryBytesSpilled + m.diskBytesSpilled) / JobRecorder.MB
        j.inputMb += m.inputMetrics.bytesRead / JobRecorder.MB
        j.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  /** Jobs recorded since the last call, in submission order. */
  def drain(): Seq[JobStats] = synchronized {
    val out = jobs.values.toVector
    jobs.clear(); stageToJob.clear()
    out
  }
}

object JobRecorder {
  val PhaseKey = "perfbench.phase"
  val SpanKey = "perfbench.span"
  val MB: Double = 1024.0 * 1024.0

  /** Block until the listener bus has delivered every posted event.
    * `listenerBus` is package-private in Scala but public in bytecode;
    * without this wait the counters of an op's last job could land
    * after the op is summarized. */
  def awaitEvents(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}

/** In-memory span store, written out once when the run ends. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L

  def newId(): Long = { nextId += 1; nextId }

  def add(s: Span): Unit = spans += s

  def write(path: java.nio.file.Path): Unit =
    java.nio.file.Files.writeString(path, spans.map(Span.toJson).mkString("", "\n", "\n"))
}
