package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation (a round, a fold step, a read) or a phase
  * that groups them. Wall-clock milliseconds place Spark events inside a
  * span; nanoseconds give its duration. */
final case class Span(id: Int, name: String, kind: String, parent: Int,
                      startMs: Long, startNs: Long, endNs: Long,
                      ok: Boolean, error: String, attrs: Map[String, Any]) {
  def seconds: Double = (endNs - startNs) / 1e9
  def toMap: Map[String, Any] = Map(
    "id" -> id, "name" -> name, "kind" -> kind, "parent" -> parent,
    "start_ms" -> startMs, "seconds" -> seconds, "ok" -> ok,
    "error" -> Option(error), "attrs" -> attrs)
}

/** Times every operation and keeps its failures: a throw inside `op` is
  * recorded on the span and counted, never dropped. Operations run one at
  * a time, so a Spark job belongs to the span whose interval holds its
  * submission time. */
final class Recorder {
  val spans = ArrayBuffer.empty[Span]
  private var parents: List[Int] = Nil
  /** Time spent in tracing callbacks while operations ran (nanoseconds). */
  val overheadNs = new AtomicLong(0L)

  private var counter = 0
  private def nextId(): Int = { counter += 1; counter }

  /** Add an operation that was timed elsewhere, under the current span. */
  def record(name: String, kind: String, startNs: Long, endNs: Long,
             attrs: Map[String, Any]): Unit = {
    val startMs = System.currentTimeMillis() - (System.nanoTime() - startNs) / 1000000L
    spans += Span(nextId(), name, kind, parents.headOption.getOrElse(0), startMs, startNs,
      endNs, ok = true, null, attrs)
  }

  /** Run `body` as one span. Returns None when it threw. */
  def op[A](name: String, kind: String, attrs: => Map[String, Any] = Map.empty)
           (body: => A): Option[A] = {
    val id = nextId()
    val parent = parents.headOption.getOrElse(0)
    parents = id :: parents
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (res, err) =
      try (Some(body), null)
      catch { case NonFatal(e) => (None, s"${e.getClass.getName}: ${e.getMessage}") }
    val t1 = System.nanoTime()
    parents = parents.tail
    spans += Span(id, name, kind, parent, startMs, t0, t1, err == null, err,
      if (err == null) attrs else Map.empty)
    if (err != null) System.err.println(s"operation $name failed: $err")
    res
  }
}

/** The Spark side of a traced run: job and stage intervals, per-stage task
  * metrics and the planner's phase times, recorded from listeners the
  * benchmark registers itself. Everything is attributed to spans by time
  * when the run ends (see `spark_layers` in metrics.py). */
final class SparkProbe(spark: SparkSession, overheadNs: AtomicLong) {
  final class StageAgg {
    var submitMs = 0L; var tasks = 0L
    var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var input = 0L
    var output = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, Array[Long]]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    overheadNs.addAndGet(System.nanoTime() - t0)
  }
  private def stage(id: Int): StageAgg = stages.computeIfAbsent(id, _ => new StageAgg)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      jobs.put(e.jobId, Array(e.time, -1L))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobs.get(e.jobId)).foreach(_(1) = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val s = stage(e.stageInfo.stageId)
      s.synchronized { s.submitMs = e.stageInfo.submissionTime.getOrElse(0L) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      val s = stage(e.stageId)
      s.synchronized {
        s.tasks += 1
        if (m != null) {
          s.cpuNs += m.executorCpuTime; s.runMs += m.executorRunTime
          s.gcMs += m.jvmGCTime
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.input += m.inputMetrics.bytesRead
          s.output += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = timed {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(x => x.endTimeMs - x.startTimeMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
      plans.add(Map("start_ms" -> start, "analysis_ms" -> ms("analysis"),
        "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning")))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Drain the listener bus, detach, and return the raw records. */
  def finish(): Map[String, Any] = {
    org.apache.spark.perfbenchshim.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    Map(
      "jobs" -> jobs.asScala.toSeq.sortBy(_._1).map { case (id, t) =>
        Map("id" -> id, "start_ms" -> t(0), "end_ms" -> t(1)) },
      "stages" -> stages.asScala.toSeq.sortBy(_._1).map { case (id, s) =>
        Map("id" -> id, "submit_ms" -> s.submitMs,
          "tasks" -> s.tasks, "cpu_ns" -> s.cpuNs, "run_ms" -> s.runMs,
          "gc_ms" -> s.gcMs, "shuffle_read" -> s.shuffleRead,
          "shuffle_write" -> s.shuffleWrite, "spill" -> s.spill,
          "input" -> s.input, "output" -> s.output) },
      "plans" -> plans.asScala.toSeq)
  }
}
