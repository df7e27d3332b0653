package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: an operation (layer `bench`) or a call the
  * benchmark makes into one of the program's modules. Times are epoch
  * milliseconds, comparable with Spark's event times. */
final case class Span(id: Int, op: Int, name: String, layer: String,
    parent: Int, startMs: Double, var endMs: Double = 0) {
  def durMs: Double = endMs - startMs
}

/** A Spark job seen by [[JobListener]], with the task metrics of its
  * stages summed. `span` is the benchmark span that launched it, read
  * from the thread-local property, or -1. */
final class JobRec(val span: Int, val startMs: Long) {
  var endMs: Long = startMs
  var stages, tasks = 0
  var runMs, cpuNs, gcMs, schedMs = 0L
  var shuffleWrite, shuffleWriteRecords, shuffleRead, spill = 0L
  var input, output = 0L
}

class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toInt).getOrElse(-1)
    val j = new JobRec(span, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          e.taskInfo.gettingResultTime)
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
        j.output += m.outputMetrics.bytesWritten
      }
    }
  }
}

/** Records the analysis, optimisation and planning phases of every
  * query execution from its `QueryPlanningTracker`. */
class PlanListener extends QueryExecutionListener {
  val phases = mutable.LinkedHashSet.empty[(Long, Long)]
  private val Planning = Set("analysis", "optimization", "planning")

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      if (Planning(name)) phases += ((p.startTimeMs, p.endTimeMs))
    }
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)
}

/** Per-operation costs attributed from spans, jobs and planning phases. */
final case class OpCost(jobs: Int, stages: Int, tasks: Int,
    outsideJobMs: Double, taskRunMs: Double, taskCpuMs: Double,
    gcMs: Double, schedMs: Double, shuffleWrite: Long,
    shuffleWriteRecords: Long, shuffleRead: Long, spill: Long, input: Long,
    output: Long, planMs: Double, selfMs: Map[String, Double])

/** Spans kept in memory for the traced run. A span's id is written into
  * the `perfbench.span` local property before each call, so Spark jobs
  * launched by the call carry it; jobs launched by other threads (the
  * streaming engine) are attributed by time to the innermost open span. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobListener = new JobListener
  val planListener = new PlanListener
  private var stack: List[Span] = Nil
  /** Set by the loop: spans are recorded only while an operation is traced. */
  var active = false
  var opId = -1

  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  def call[T](layer: String, name: String)(body: => T): T =
    if (!active) body
    else {
      val s = Span(spans.size, opId, name, layer,
        stack.headOption.fold(-1)(_.id), nowMs())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
      try body
      finally {
        s.endMs = nowMs()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total, end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total - lo
  }

  /** Costs of the traced operation whose root span is `root`. */
  def cost(root: Span): OpCost = {
    val opSpans = spans.filter(_.op == root.op).toSeq
    def innermost(t: Double): Span =
      opSpans.filter(s => s.startMs <= t && t <= s.endMs)
        .maxByOption(_.startMs).getOrElse(root)
    val jobs = jobListener.synchronized(jobListener.jobs.values.toList).flatMap { j =>
      val owner =
        if (j.span >= 0) spans.lift(j.span).filter(_.op == root.op)
        else if (j.startMs >= root.startMs && j.startMs <= root.endMs)
          Some(innermost(j.startMs.toDouble))
        else None
      owner.map(o => (o, j))
    }
    val plans = planListener.synchronized(planListener.phases.toList)
      .filter { case (a, _) => a >= root.startMs && a <= root.endMs }
      .map { case (a, b) => (innermost(a.toDouble), (a.toDouble, b.toDouble)) }
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    opSpans.foreach { s =>
      val kids = opSpans.filter(_.parent == s.id).map(c => (c.startMs, c.endMs)) ++
        jobs.collect { case (o, j) if o.id == s.id => (j.startMs.toDouble, j.endMs.toDouble) } ++
        plans.collect { case (o, iv) if o.id == s.id => iv }
      self(s.layer) += s.durMs - covered(kids, s.startMs, s.endMs)
      self("spark") += covered(jobs.collect { case (o, j) if o.id == s.id =>
        (j.startMs.toDouble, j.endMs.toDouble) }, s.startMs, s.endMs)
      self("catalyst") += covered(plans.collect { case (o, iv) if o.id == s.id => iv },
        s.startMs, s.endMs)
    }
    val js = jobs.map(_._2)
    OpCost(js.size, js.map(_.stages).sum, js.map(_.tasks).sum,
      root.durMs - covered(js.map(j => (j.startMs.toDouble, j.endMs.toDouble)),
        root.startMs, root.endMs),
      js.map(_.runMs).sum.toDouble, js.map(_.cpuNs).sum / 1e6,
      js.map(_.gcMs).sum.toDouble, js.map(_.schedMs).sum.toDouble,
      js.map(_.shuffleWrite).sum, js.map(_.shuffleWriteRecords).sum,
      js.map(_.shuffleRead).sum, js.map(_.spill).sum, js.map(_.input).sum,
      js.map(_.output).sum, plans.map { case (_, (a, b)) => b - a }.sum,
      self.toMap)
  }

  def spansJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "op" -> s.op, "name" -> s.name, "layer" -> s.layer,
    "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
}

object Tracer {
  val SpanProp = "perfbench.span"
}
