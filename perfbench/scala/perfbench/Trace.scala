package perfbench

import java.util.Properties

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded by the benchmark around its calls into the engine.
  *
  * Times are epoch milliseconds with sub-millisecond resolution, taken
  * from one monotonic clock anchored at construction, so they line up
  * with Spark's own event times. While `on`, every Spark job started
  * inside a span carries the span id as the `perfbench.span` local
  * property (and as the job description), which is how [[JobListener]]
  * charges job metrics to spans. When `on` is false, spans cost nothing
  * and jobs carry no tag.
  */
final class Tracer(sc: SparkContext, val runId: String) {
  final class Span(val id: Int, val name: String, val parent: Int, val start: Double) {
    var end: Double = Double.NaN
    val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  }

  var on = false
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var stack: List[Span] = Nil
  private val detached = new Span(-1, "", -1, 0.0)

  /** Run `body` inside a span named `name`; the body may annotate it. */
  def span[T](name: String)(body: Span => T): T =
    if (!on) body(detached)
    else {
      val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id), nowMs)
      spans += s
      stack = s :: stack
      tag(Some(s))
      try body(s)
      finally {
        s.end = nowMs
        stack = stack.tail
        tag(stack.headOption)
      }
    }

  private def tag(s: Option[Span]): Unit = {
    sc.setLocalProperty("perfbench.span", s.map(_.id.toString).orNull)
    sc.setJobDescription(s.map(x => s"perfbench span ${x.id} ${x.name}").orNull)
  }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "start_ms" -> s.start,
      "end_ms" -> s.end, "run_id" -> runId, "attrs" -> s.attrs.toMap)
  }
}

/** Charges the metrics of every tagged job, and of its tasks, to the
  * span that started it. Untagged jobs are ignored. */
final class JobListener extends SparkListener {
  private final class Acc {
    var jobs = 0; var tasks = 0; var jobMs = 0L
    var runMs = 0L; var cpuNs = 0L
    var shuffleBytes = 0L; var shuffleRecords = 0L; var spill = 0L
    var outRecords = 0L; var outBytes = 0L; var inRecords = 0L
    val stages: mutable.Set[Int] = mutable.Set.empty
  }
  private val bySpan = mutable.Map.empty[Int, Acc]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobSpan = mutable.Map.empty[Int, (Int, Long)]
  private val stageTaskMs = mutable.Map.empty[Int, ArrayBuffer[Long]]

  private def spanOf(p: Properties): Option[Int] =
    Option(p).flatMap(x => Option(x.getProperty("perfbench.span"))).map(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { s =>
      jobSpan(e.jobId) = (s, e.time)
      bySpan.getOrElseUpdate(s, new Acc).jobs += 1
      e.stageIds.foreach(st => stageSpan.getOrElseUpdate(st, s))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (s, t0) => bySpan(s).jobMs += e.time - t0 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = bySpan.getOrElseUpdate(s, new Acc)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.outRecords += m.outputMetrics.recordsWritten
      a.outBytes += m.outputMetrics.bytesWritten
      a.inRecords += m.inputMetrics.recordsRead
      a.stages += e.stageId
      stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += m.executorRunTime
    }
  }

  /** Worst max/median task run time over a span's stages of 2+ tasks. */
  private def skew(stages: Iterable[Int]): Double =
    stages.flatMap(stageTaskMs.get).filter(_.size >= 2).map { ts =>
      val v = ts.sorted
      v.last.toDouble / math.max(v(v.size / 2), 1L)
    }.foldLeft(1.0)(math.max)

  def counters: Map[Int, Map[String, Any]] = synchronized {
    bySpan.map { case (s, a) =>
      s -> Map[String, Any]("jobs" -> a.jobs, "tasks" -> a.tasks, "job_s" -> a.jobMs / 1e3,
        "executor_run_s" -> a.runMs / 1e3, "executor_cpu_s" -> a.cpuNs / 1e9,
        "shuffle_write_bytes" -> a.shuffleBytes, "shuffle_records" -> a.shuffleRecords,
        "spill_bytes" -> a.spill, "output_records" -> a.outRecords,
        "output_bytes" -> a.outBytes, "input_records" -> a.inRecords,
        "task_skew" -> skew(a.stages))
    }.toMap
  }
}

/** Planning-phase times and plan shape of every query execution. The
  * record carries the analysis start time; run.py charges it to the
  * innermost span open at that moment. */
final class PlanListener extends QueryExecutionListener {
  val records: ArrayBuffer[Map[String, Any]] = ArrayBuffer.empty

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: other.children.flatMap(nodes)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(name: String): Long = phases.get(name).fold(0L)(_.durationMs)
    val all = nodes(qe.executedPlan)
    val stageScans = all.collect { case f: FileSourceScanExec => f.relation.location.rootPaths }
      .flatten.map(_.toString).filter(_.contains("/graft_stage/")).distinct
    val rec = Map[String, Any](
      "start_ms" -> phases.values.map(_.startTimeMs).minOption.getOrElse(0L),
      "analysis_s" -> ms("analysis") / 1e3,
      "optimize_s" -> ms("optimization") / 1e3,
      "physical_s" -> ms("planning") / 1e3,
      "nodes" -> all.size,
      "exchanges" -> all.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      },
      "stage_scans" -> stageScans)
    synchronized { records += rec }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def toJson: Seq[Map[String, Any]] = synchronized(records.toSeq)
}
