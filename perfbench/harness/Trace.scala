package perfbench

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of the trace. Harness spans (workload, pass, op, ensure,
  * submit, execute) know their parent; planning phases and jobs are
  * placed under the innermost harness span that contains them when the
  * trace is reduced (perfbench/metrics.py), stages under their job.
  * Times are epoch microseconds. `attrs` carries per-stage task sums. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      startUs: Long, endUs: Long,
                      attrs: Seq[(String, Double)] = Nil)

/** In-memory span store, written once when the run ends. */
final class Spans {
  private val ids = new AtomicInteger(0)
  private val buf = ArrayBuffer.empty[Span]
  // nanoTime mapped onto the epoch clock the Spark listeners use
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  /** Harness spans are recorded only while on (traced passes). */
  @volatile var on = false
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L
  def nextId(): Int = ids.incrementAndGet()
  def add(s: Span): Unit = synchronized { buf += s }
  def all: Seq[Span] = synchronized { buf.toList }

  /** Times `f` as a span of `kind` under `parent`; `id` lets callers
    * hand the span's id to children before it closes. */
  def timed[T](parent: Int, kind: String, name: String,
               id: Int = nextId())(f: => T): T = {
    val t0 = nowUs
    try f finally if (on) add(Span(id, parent, kind, name, t0, nowUs))
  }
}

/** Spark job, stage and task events, reduced to one span per job and one
  * per stage carrying that stage's task sums. */
final class ExecListener(spans: Spans) extends SparkListener {
  private val jobSpan = scala.collection.mutable.Map.empty[Int, (Int, Long, Int)]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
  private val tasks = scala.collection.mutable.Map.empty[(Int, Int), TaskSums]

  final class TaskSums {
    var n = 0; var run = 0.0; var deser = 0.0; var sched = 0.0; var gc = 0.0
    var shufW = 0.0; var shufR = 0.0; var spill = 0.0
    val durations = ArrayBuffer.empty[Double]
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val parent =
      if (group.startsWith("op-")) group.stripPrefix("op-").toInt else -1
    jobSpan(e.jobId) = (spans.nextId(), e.time * 1000L, parent)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (id, t0, parent) =>
      spans.add(Span(id, parent, "job", s"job ${e.jobId}", t0, e.time * 1000L))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = tasks.getOrElseUpdate((e.stageId, e.stageAttemptId), new TaskSums)
      val dur = e.taskInfo.duration.toDouble
      s.n += 1
      s.run += m.executorRunTime
      s.deser += m.executorDeserializeTime
      s.gc += m.jvmGCTime
      s.sched += math.max(0.0, dur - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - e.taskInfo.gettingResultTime)
      s.shufW += m.shuffleWriteMetrics.bytesWritten
      s.shufR += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.durations += dur
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val s = tasks.remove((info.stageId, info.attemptNumber())).getOrElse(new TaskSums)
    val parent = stageJob.get(info.stageId).flatMap(jobSpan.get).map(_._1).getOrElse(-1)
    val sorted = s.durations.sorted
    val median = if (sorted.isEmpty) 0.0 else sorted(sorted.size / 2)
    spans.add(Span(spans.nextId(), parent, "stage", s"stage ${info.stageId}",
      info.submissionTime.getOrElse(0L) * 1000L,
      info.completionTime.getOrElse(0L) * 1000L,
      Seq("tasks" -> s.n, "run_ms" -> s.run, "deser_ms" -> s.deser,
        "sched_ms" -> s.sched, "gc_ms" -> s.gc, "shuffle_write_b" -> s.shufW,
        "shuffle_read_b" -> s.shufR, "spill_b" -> s.spill,
        "max_task_ms" -> sorted.lastOption.getOrElse(0.0),
        "median_task_ms" -> median)))
  }
}

/** Planning phases of every executed query, from its QueryPlanningTracker. */
final class PlanListener(spans: Spans) extends QueryExecutionListener {
  private val kinds = Map("parsing" -> "parse", "analysis" -> "analyze",
    "optimization" -> "optimize", "planning" -> "physical")
  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, p) =>
      kinds.get(phase).foreach { k =>
        spans.add(Span(spans.nextId(), -1, k, k, p.startTimeMs * 1000L, p.endTimeMs * 1000L))
      }
    }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Micro-batch progress. Trigger durations feed the end-to-end batch
  * latency in every run; the per-phase split is kept only when traced. */
final class ProgressListener extends StreamingQueryListener {
  private val triggerMs = ArrayBuffer.empty[Double]
  @volatile var traced = false
  val phaseMs = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  var batches = 0L; var rowsIn = 0L; var stateRows = 0L; var stateMemB = 0L

  /** Trigger durations delivered since the last call. */
  def takeBatches(): Seq[Double] = synchronized {
    val out = triggerMs.toList
    triggerMs.clear()
    out
  }

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val d = p.durationMs
    // an AvailableNow run ends with a no-data progress; it is not a batch
    if (p.numInputRows > 0 && d.containsKey("triggerExecution")) {
      triggerMs += d.get("triggerExecution").doubleValue
      if (traced) {
        batches += 1
        rowsIn += p.numInputRows
        Seq("addBatch", "getBatch", "queryPlanning", "walCommit", "triggerExecution")
          .foreach(k => if (d.containsKey(k)) phaseMs(k) += d.get(k).doubleValue)
        p.stateOperators.foreach { s =>
          stateRows = math.max(stateRows, s.numRowsTotal)
          stateMemB = math.max(stateMemB, s.memoryUsedBytes)
        }
      }
    }
  }
}
