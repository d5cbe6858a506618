package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval, in epoch microseconds. `parent` is -1 for the root. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

/** Epoch-microsecond clock with nanoTime resolution, on the same time base
  * as the millisecond timestamps of Spark's listener events. */
object Clock {
  private val baseNanos = System.nanoTime()
  private val baseMicros = System.currentTimeMillis() * 1000L
  def micros(): Long = baseMicros + (System.nanoTime() - baseNanos) / 1000L
}

/** Task metrics of one completed stage, summed over its tasks. */
final case class StageRec(id: Int, attempt: Int, submitted: Long,
    completed: Long, tasks: Int, counters: Map[String, Double])

final class JobRec(val id: Int, val group: String, val start: Long,
    val stageIds: Seq[Int]) {
  @volatile var end: Long = -1L
}

/** Spark job and stage events. The benchmark sets a job group around each
  * traced query; a job's group ties it to that query. Events arrive on the
  * listener-bus thread, so readers first wait for a fence job (see
  * [[awaitGroup]]) to know every earlier event has been delivered. */
final class SparkEvents extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[(Int, Int), StageRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(e.jobId, new JobRec(e.jobId, group, e.time * 1000L, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time * 1000L)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = Option(i.taskMetrics)
    def c(f: org.apache.spark.executor.TaskMetrics => Double) = m.map(f).getOrElse(0.0)
    val counters = Map(
      "executor.run_ms" -> c(_.executorRunTime.toDouble),
      "executor.cpu_ms" -> c(_.executorCpuTime / 1e6),
      "executor.gc_ms" -> c(_.jvmGCTime.toDouble),
      "shuffle.write_bytes" -> c(_.shuffleWriteMetrics.bytesWritten.toDouble),
      "shuffle.read_bytes" -> c(_.shuffleReadMetrics.totalBytesRead.toDouble),
      "shuffle.fetch_wait_ms" -> c(_.shuffleReadMetrics.fetchWaitTime.toDouble),
      "shuffle.spill_bytes" -> c(t => (t.memoryBytesSpilled + t.diskBytesSpilled).toDouble),
      "scan.input_bytes" -> c(_.inputMetrics.bytesRead.toDouble),
      "scan.input_records" -> c(_.inputMetrics.recordsRead.toDouble),
      "sink.output_bytes" -> c(_.outputMetrics.bytesWritten.toDouble),
      "sink.output_records" -> c(_.outputMetrics.recordsWritten.toDouble))
    val completed = i.completionTime.getOrElse(System.currentTimeMillis())
    stages.put((i.stageId, i.attemptNumber()), StageRec(i.stageId,
      i.attemptNumber(), i.submissionTime.getOrElse(completed) * 1000L,
      completed * 1000L, i.numTasks, counters))
  }

  /** Wait until a job of `group` has ended. Run after a job tagged with
    * `group` completed on the client thread: once its end event is here,
    * so is every event posted before it. */
  def awaitGroup(group: String, timeoutMs: Long = 60000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!jobs.values.asScala.exists(j => j.group == group && j.end >= 0)) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"listener events for $group never arrived")
      Thread.sleep(2)
    }
  }
}

/** Planning phase times (`QueryPlanningTracker`) of every executed query. */
final class PlanningEvents extends QueryExecutionListener {
  private val phaseMs = new ConcurrentHashMap[String, AtomicLong]()
  private def add(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      phaseMs.computeIfAbsent(phase, _ => new AtomicLong).addAndGet(s.durationMs)
    }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  def ms(phase: String): Double =
    Option(phaseMs.get(phase)).map(_.get.toDouble).getOrElse(0.0)
}

/** Spans of one traced pass: benchmark spans recorded on the client thread,
  * Spark job and stage spans joined in from [[SparkEvents]] by job group. */
final class PassTrace(val passSpanId: Int, firstId: Int) {
  private var nextId = firstId
  val spans = mutable.ArrayBuffer.empty[Span]
  /** query span id -> job group of the query */
  val groups = mutable.Map.empty[Int, String]

  def newId(): Int = { val i = nextId; nextId += 1; i }

  def add(parent: Int, kind: String, name: String, start: Long, end: Long): Int = {
    val id = newId()
    spans += Span(id, parent, kind, name, start, end)
    id
  }

  /** Attach each job of a traced query under the query's `build` or
    * `action` span (whichever was open when the job started), and each
    * completed stage under its first job. Returns the summed stage
    * counters per query span id. */
  def joinSpark(ev: SparkEvents): Map[Int, Map[String, Double]] = {
    val byGroup = groups.map(_.swap)
    val children = spans.groupBy(_.parent)
    val stagesById = ev.stages.values.asScala.toSeq.groupBy(_.id)
    val stageOwner = mutable.Map.empty[Int, Int]
    val perQuery = mutable.Map.empty[Int, mutable.Map[String, Double]]
    ev.jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      byGroup.get(j.group).foreach { q =>
        val phases = children.getOrElse(q, Nil)
        // Spark stamps jobs in milliseconds: allow 1 ms of rounding
        val parent = phases.filter(_.start <= j.start + 1000L)
          .sortBy(_.start).lastOption.orElse(phases.headOption).map(_.id).getOrElse(q)
        val jobId = add(parent, "job", s"job ${j.id}", j.start,
          if (j.end >= 0) j.end else j.start)
        val counts = perQuery.getOrElseUpdate(q, mutable.Map.empty)
        counts("scheduler.jobs") = counts.getOrElse("scheduler.jobs", 0.0) + 1
        j.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = jobId)
        j.stageIds.foreach { sid =>
          if (stageOwner(sid) == jobId)
            stagesById.getOrElse(sid, Nil).foreach { st =>
              add(jobId, "stage", s"stage ${st.id}.${st.attempt}", st.submitted, st.completed)
              counts("scheduler.stages") = counts.getOrElse("scheduler.stages", 0.0) + 1
              counts("scheduler.tasks") = counts.getOrElse("scheduler.tasks", 0.0) + st.tasks
              st.counters.foreach { case (k, v) => counts(k) = counts.getOrElse(k, 0.0) + v }
            }
        }
      }
    }
    perQuery.map { case (q, m) => q -> m.toMap }.toMap
  }
}

object Spans {
  /** Self time of each span: its duration minus the part of its interval
    * that its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.dur - covered)
    }.toMap
  }
}
