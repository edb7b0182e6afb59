package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution. Spans and op
  * windows use it; Spark's listener events carry plain epoch ms, so both
  * sit on one time axis.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Spans the benchmark records around its own calls into `graft.*`. Kept
  * in memory and dumped when the run ends. While `enabled` is off, `span`
  * only runs its body.
  */
final class Spans {
  @volatile var enabled = false
  private val all = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val ids = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  @volatile var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val start = Clock.nowMs
      try body
      finally {
        all.add(Map("id" -> id, "parent" -> parents.headOption.getOrElse(0L),
          "op" -> op, "name" -> name, "start_ms" -> start,
          "end_ms" -> Clock.nowMs))
        stack.set(parents)
      }
    }

  def dump: Seq[Map[String, Any]] = all.asScala.toSeq
}

/** Raw layer events from Spark's public listener APIs, aggregated per
  * stage (task metrics) and kept in memory. Attribution to ops happens
  * afterwards, by time window: one op runs at a time, and the pool
  * threads of `Par.both` do not reliably carry job-group properties.
  */
final class Events extends SparkListener with QueryExecutionListener {
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int])]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[(Int, Int), StageAcc]()
  private val queries = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val blocks = new ConcurrentLinkedQueue[(Double, Long)]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val open = new AtomicInteger(0)
  @volatile private var lastEventMs = Clock.nowMs

  private final class StageAcc(val info: StageInfo, val submittedMs: Long) {
    var completedMs = 0L
    var failed = false
    val sums = new Array[Long](Events.TaskFields.size)
  }

  private def touch(): Unit = lastEventMs = Clock.nowMs

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    open.incrementAndGet()
    jobStarts.put(e.jobId, (e.time, e.stageIds))
    touch()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (start, stageIds) = jobStarts.getOrDefault(e.jobId, (e.time, Nil))
    jobs.add(Map("id" -> e.jobId, "start_ms" -> start, "end_ms" -> e.time,
      "stage_ids" -> stageIds,
      "ok" -> (e.jobResult == JobSucceeded)))
    open.decrementAndGet()
    touch()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val si = e.stageInfo
    stages.putIfAbsent((si.stageId, si.attemptNumber()),
      new StageAcc(si, si.submissionTime.getOrElse(System.currentTimeMillis())))
    touch()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    Option(stages.get((si.stageId, si.attemptNumber()))).foreach { acc =>
      acc.synchronized {
        acc.completedMs = si.completionTime.getOrElse(System.currentTimeMillis())
        acc.failed = si.failureReason.isDefined
      }
    }
    touch()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Option(stages.get((e.stageId, e.stageAttemptId))).foreach { acc =>
      val ti = e.taskInfo
      val m = Option(e.taskMetrics)
      def v(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
      val run = v(_.executorRunTime)
      val delay = math.max(0L, ti.duration - run - v(_.executorDeserializeTime) -
        v(_.resultSerializationTime) - ti.gettingResultTime)
      val values = Seq(1L, if (ti.successful) 0L else 1L, run,
        v(_.executorCpuTime), v(_.jvmGCTime), delay,
        v(_.inputMetrics.bytesRead), v(_.inputMetrics.recordsRead),
        v(_.shuffleWriteMetrics.bytesWritten),
        v(t => t.shuffleReadMetrics.localBytesRead + t.shuffleReadMetrics.remoteBytesRead),
        v(_.shuffleReadMetrics.fetchWaitTime),
        v(t => t.memoryBytesSpilled + t.diskBytesSpilled), v(_.resultSize))
      acc.synchronized {
        values.zipWithIndex.foreach { case (x, i) => acc.sums(i) += x }
      }
    }
    touch()
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      blocks.add((Clock.nowMs, b.memSize + b.diskSize))
    touch()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordQuery(funcName, qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordQuery(funcName, qe, ok = false)

  private def recordQuery(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    val end = if (phases.isEmpty) System.currentTimeMillis() else phases.values.map(_.endTimeMs).max
    queries.add(Map("func" -> funcName, "end_ms" -> end, "ok" -> ok,
      "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
      "planning_ms" -> ms("planning")))
    touch()
  }

  /** The streaming side: one record per micro-batch progress report. */
  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, x) => k -> x.longValue }.toMap
      progress.add(Map("at_ms" -> Clock.nowMs, "input_rows" -> p.numInputRows,
        "duration_ms" -> d,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_mem_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum))
      touch()
    }
  }

  private val watched = java.util.concurrent.ConcurrentHashMap.newKeySet[SparkSession]()

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    watchQueries(spark)
    spark.streams.addListener(streaming)
  }

  /** Also record the queries of `session` (once per session). */
  def watchQueries(session: SparkSession): Unit =
    if (watched.add(session)) session.listenerManager.register(this)

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    watched.asScala.foreach(_.listenerManager.unregister(this))
    watched.clear()
    spark.streams.removeListener(streaming)
  }

  /** Wait until the listener buses have delivered what the ops caused:
    * every started job has ended and nothing arrived for a quiet spell.
    */
  def settle(timeoutMs: Long = 15000L): Unit = {
    val deadline = Clock.nowMs + timeoutMs
    while (Clock.nowMs < deadline && (open.get() > 0 || Clock.nowMs - lastEventMs < 300))
      Thread.sleep(50)
  }

  def dump: Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq,
    "stages" -> stages.values.asScala.toSeq.map { a =>
      a.synchronized {
        Map("id" -> a.info.stageId, "attempt" -> a.info.attemptNumber(),
          "submitted_ms" -> a.submittedMs, "completed_ms" -> a.completedMs,
          "failed" -> a.failed, "num_tasks" -> a.info.numTasks,
          "rdds" -> a.info.rddInfos.map(r => Map("id" -> r.id,
            "parents" -> r.parentIds, "persisted" -> r.storageLevel.isValid))) ++
          Events.TaskFields.zip(a.sums.toSeq)
      }
    },
    "queries" -> queries.asScala.toSeq,
    "blocks" -> blocks.asScala.toSeq.map { case (t, b) => Seq(t, b) },
    "progress" -> progress.asScala.toSeq)
}

object Events {
  /** Per-stage task sums, in the order `onTaskEnd` fills them. */
  val TaskFields: Seq[String] = Seq("tasks", "task_failures", "run_ms",
    "cpu_ns", "gc_ms", "sched_delay_ms", "input_bytes", "input_records",
    "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_ms",
    "spill_bytes", "result_bytes")
}
