package graftbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, SparkInternals}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a benchmark call into one public function of the program.
  * `request` groups the spans of one client request (one hop query,
  * one increment); `pass` is the workload pass it ran in.
  */
final case class Span(id: Int, name: String, parent: Int, request: Int, pass: Int,
    startMs: Long, endMs: Long, durS: Double, extra: Map[String, Double])

/** Records spans and the raw engine events that fall inside them.
  *
  * The client is single-threaded, so spans nest as a stack. Each open
  * span tags the jobs it causes with `setJobGroup`; Spark copies that
  * thread-local property into the jobs operators launch internally
  * (broadcast and subquery threads included). Jobs that carry another
  * group (a streaming query sets its own) are attributed by time in
  * `metrics.py`, which also does all of the arithmetic: attribution,
  * self time, idle gaps and skew.
  *
  * When `enabled` is false nothing is recorded and no job group is
  * set, so untraced passes run the program exactly as a user would.
  */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  @volatile var enabled = false
  var pass = 0

  private var nextId = 0
  private var nextRequest = 0
  private val stack = mutable.Stack.empty[(Int, Int)] // (span id, request)
  val spans = mutable.ArrayBuffer.empty[Span]

  // raw events; written by the listener-bus threads, read after drain
  val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), mutable.Map[String, Any]]
  val queries = mutable.ArrayBuffer.empty[Map[String, Any]]
  val blocks = mutable.ArrayBuffer.empty[Map[String, Any]]

  def newRequest(): Int = { nextRequest += 1; nextRequest }

  /** Run `body` as a span named after the public function it calls. */
  def span[T](name: String, request: Int = -1)(body: => T): T = {
    if (!enabled) return body
    val id = { nextId += 1; nextId }
    val parent = stack.headOption.map(_._1).getOrElse(0)
    val req = if (request > 0) request else stack.headOption.map(_._2).getOrElse(0)
    SparkInternals.drain(sc)
    stack.push((id, req))
    sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body
    finally {
      val dur = (System.nanoTime() - n0) / 1e9
      val t1 = System.currentTimeMillis()
      SparkInternals.drain(sc)
      stack.pop()
      stack.headOption match {
        case Some((p, _)) => sc.setJobGroup(s"span-$p", "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      val (blocks, bytes) = SparkInternals.heldBlocks(sc)
      val extra = Map("blocks_held_after" -> blocks.toDouble, "bytes_held_after" -> bytes.toDouble)
      spans += Span(id, name, parent, req, pass, t0, t1, dur, extra ++ pendingExtra)
      pendingExtra = Map.empty
    }
  }

  private var pendingExtra = Map.empty[String, Double]

  /** Attach a measured counter (files written, rows out) to the span
    * that closes next. */
  def note(k: String, v: Double): Unit =
    if (enabled) pendingExtra += k -> (pendingExtra.getOrElse(k, 0.0) + v)

  def drain(): Unit = SparkInternals.drain(sc)

  // ---- SparkListener ------------------------------------------------------

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs += Map("job" -> e.jobId, "t_ms" -> e.time, "group" -> group.getOrElse(""),
      "stages" -> e.stageIds)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (enabled) synchronized {
    val i = e.stageInfo
    val s = stageOf(i.stageId, i.attemptNumber())
    s("name") = i.name
    s("submit_ms") = i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) synchronized {
    val i = e.stageInfo
    stageOf(i.stageId, i.attemptNumber())("complete_ms") =
      i.completionTime.getOrElse(System.currentTimeMillis())
  }

  private def stageOf(id: Int, attempt: Int): mutable.Map[String, Any] =
    stages.getOrElseUpdate((id, attempt), mutable.LinkedHashMap[String, Any](
      "stage" -> id, "attempt" -> attempt,
      "tasks" -> mutable.ArrayBuffer.empty[Seq[Long]]))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) synchronized {
    val s = stageOf(e.stageId, e.stageAttemptId)
    val m = e.taskMetrics
    val ti = e.taskInfo
    if (m != null) {
      def add(k: String, v: Long): Unit = s(k) = s.getOrElse(k, 0L).asInstanceOf[Long] + v
      add("run_ms", m.executorRunTime)
      add("cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("input_rows", m.inputMetrics.recordsRead)
      add("output_bytes", m.outputMetrics.bytesWritten)
      add("output_rows", m.outputMetrics.recordsWritten)
    }
    s("tasks").asInstanceOf[mutable.ArrayBuffer[Seq[Long]]] +=
      Seq(ti.launchTime, ti.finishTime, if (ti.successful) 1L else 0L)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (enabled) {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) synchronized {
      blocks += Map("t_ms" -> System.currentTimeMillis(),
        "valid" -> b.storageLevel.isValid,
        "bytes" -> (b.memSize + b.diskSize),
        "block" -> b.blockId.name)
    }
  }

  // ---- QueryExecutionListener --------------------------------------------

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (enabled) record(funcName, qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    if (enabled) record(funcName, qe)

  private def record(funcName: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    val start = if (phases.isEmpty) System.currentTimeMillis()
      else phases.values.map(_.startTimeMs).min
    var bcast = 0
    var shuffled = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => bcast += 1
        case _: SortMergeJoinExec | _: ShuffledHashJoinExec => shuffled += 1
        case _ =>
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ => (p.children ++ p.subqueries).foreach(walk)
      }
    }
    try walk(qe.executedPlan) catch { case _: Throwable => }
    synchronized {
      queries += Map("func" -> funcName, "t_ms" -> start, "plan_s" -> planMs / 1000.0,
        "broadcast_joins" -> bcast, "shuffle_joins" -> shuffled)
    }
  }
}
