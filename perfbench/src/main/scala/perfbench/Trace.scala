package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A timed interval at a layer boundary. `op` is the trigger or query the
  * span belongs to; `parent` is the id of the span that caused it (0: none).
  */
final case class Span(id: Long, name: String, startMs: Double, endMs: Double, parent: Long, op: String)

/** In-memory recorder for a traced run. Spans come from the benchmark's
  * own calls into each layer ([[span]]) and from public Spark hooks: a
  * SparkListener (jobs, stages, task metrics), a QueryExecutionListener
  * (planning phases, files scanned and written) and a
  * StreamingQueryListener (per-trigger progress). Nothing is written until
  * [[writeTo]] at the end of the run.
  */
final class Recorder(spark: SparkSession) {
  private val t0Nanos = System.nanoTime()
  private val t0Wall = System.currentTimeMillis()
  private def nowMs: Double = (System.nanoTime() - t0Nanos) / 1e6
  private def wallToMs(epochMs: Long): Double = (epochMs - t0Wall).toDouble

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)
  private val stack = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }

  // counters, all guarded by `this`
  private var jobs, stages, tasks, taskFailures = 0L
  private var runMs, cpuNs, shuffleRead, shuffleWrite, spill, peakExecMem = 0L
  private var bytesRead, recordsRead, rowsWritten, bytesWritten = 0L
  private var filesRead, filesWritten = 0L
  private var planMs = 0.0
  private val jobStart = mutable.HashMap.empty[Int, (Double, String, Long)]
  private val markerStages = mutable.HashSet.empty[Int]
  private val jobIntervals = mutable.ArrayBuffer.empty[(String, Double, Double)]
  private val gcAtStart = gcMs()
  private var gcAtStop = -1L
  private var stoppedAtMs = -1.0

  private def gcMs(): Long = HeapWatch.workloadGcMs

  /** Runs `body` inside a span; Spark jobs it submits become its children. */
  def span[T](name: String, op: String = "")(body: => T): T = {
    val parent = stack.get.headOption
    val s = Span(nextId.incrementAndGet(), name, nowMs, 0, parent.map(_.id).getOrElse(0L),
      if (op.nonEmpty) op else parent.map(_.op).getOrElse(""))
    val sc = spark.sparkContext
    val prevSpan = sc.getLocalProperty("perfbench.span")
    val prevOp = sc.getLocalProperty("perfbench.op")
    sc.setLocalProperty("perfbench.span", s.id.toString)
    sc.setLocalProperty("perfbench.op", s.op)
    stack.set(s :: stack.get)
    try body
    finally {
      stack.set(stack.get.tail)
      sc.setLocalProperty("perfbench.span", prevSpan)
      sc.setLocalProperty("perfbench.op", prevOp)
      add(s.copy(endMs = nowMs))
    }
  }

  private def add(s: Span): Unit = synchronized { spans += s }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      if (prop(Recorder.MarkerProperty).isDefined) { markerStages ++= e.stageIds; return }
      jobs += 1
      // streaming jobs carry the trigger's batch id instead of a span
      val op = prop("perfbench.op").filter(_.nonEmpty)
        .orElse(prop("streaming.sql.batchId").map(b => s"trigger-$b")).getOrElse("")
      jobStart(e.jobId) = (wallToMs(e.time), op, prop("perfbench.span").map(_.toLong).getOrElse(0L))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (start, op, parent) =>
        val end = wallToMs(e.time)
        jobIntervals += ((op, start, end))
        spans += Span(nextId.incrementAndGet(), s"spark.job.${e.jobId}", start, end, parent, op)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Recorder.this.synchronized { if (!markerStages(e.stageInfo.stageId)) stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
      if (markerStages(e.stageId)) return
      tasks += 1
      if (e.reason != org.apache.spark.Success) taskFailures += 1
      Option(e.taskMetrics).foreach { m =>
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
        bytesRead += m.inputMetrics.bytesRead
        recordsRead += m.inputMetrics.recordsRead
        rowsWritten += m.outputMetrics.recordsWritten
        bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
        durationNs: Long): Unit = Recorder.this.synchronized {
      planMs += qe.tracker.phases.values.map(_.durationMs).sum
      val plan = qe.executedPlan
      filesRead += Recorder.PlanWalk.scans(plan).flatMap(_.metrics.get("numFiles")).map(_.value).sum
      filesWritten += Recorder.PlanWalk.writes(plan).flatMap(_.metrics.get("numFiles")).map(_.value).sum
    }
    override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
        exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Recorder.this.synchronized {
        val p = e.progress
        val start = wallToMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.toLong }
        val trig = Span(nextId.incrementAndGet(), "streaming.trigger", start,
          start + d.getOrElse("triggerExecution", 0L), 0L, s"trigger-${p.batchId}")
        spans += trig
        // the trigger's phases, laid end to end in Spark's order
        var at = start
        for (k <- Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets");
             v <- d.get(k)) {
          spans += Span(nextId.incrementAndGet(), s"streaming.$k", at, at + v, trig.id, trig.op)
          at += v
        }
      }
  }

  def attach(): this.type = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    this
  }

  /** Detaches the hooks once the listener bus has delivered every event. */
  def detach(): Unit = {
    Recorder.drainListenerBus(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    synchronized { gcAtStop = gcMs(); stoppedAtMs = nowMs }
  }

  /** Sum over ops of the idle time between one Spark job's end and the
    * next job's start within the same trigger or query.
    */
  def schedulerGapMs: Double = synchronized {
    jobIntervals.groupBy(_._1).filter(_._1.nonEmpty).values.map { js =>
      val sorted = js.sortBy(_._2)
      var end = sorted.head._3
      var gap = 0.0
      for ((_, s, e) <- sorted.tail) { if (s > end) gap += s - end; end = math.max(end, e) }
      gap
    }.sum
  }

  /** The counters every workload reports, over the attached interval. */
  def sparkLayers(cores: Int): Map[String, Double] = synchronized {
    val wall = if (stoppedAtMs > 0) stoppedAtMs else nowMs
    Map(
      "spark.jobs" -> jobs.toDouble, "spark.stages" -> stages.toDouble, "spark.tasks" -> tasks.toDouble,
      "spark.scheduler_gap_ms" -> schedulerGapMs,
      "spark.executor_run_ms" -> runMs.toDouble, "spark.executor_cpu_ms" -> cpuNs / 1e6,
      "spark.core_busy_ratio" -> runMs / (wall * cores),
      "spark.gc_ms" -> ((if (gcAtStop >= 0) gcAtStop else gcMs()) - gcAtStart).toDouble,
      "spark.shuffle_read_bytes" -> shuffleRead.toDouble, "spark.shuffle_write_bytes" -> shuffleWrite.toDouble,
      "spark.spill_bytes" -> spill.toDouble, "spark.peak_exec_mem_bytes" -> peakExecMem.toDouble,
      "spark.task_failures" -> taskFailures.toDouble,
      "sources.bytes_read" -> bytesRead.toDouble, "sources.records_read" -> recordsRead.toDouble,
      "sources.files_read" -> filesRead.toDouble,
      "sinks.rows_written" -> rowsWritten.toDouble, "sinks.bytes_written" -> bytesWritten.toDouble,
      "sinks.files_written" -> filesWritten.toDouble,
      "queries.plan_ms" -> planMs)
  }

  def writeTo(path: Path): Unit = synchronized {
    Files.createDirectories(path.getParent)
    val lines = spans.sortBy(_.startMs).map { s =>
      JsonOut.obj("id" -> s.id, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "parent" -> s.parent, "op" -> s.op).s
    }
    Files.write(path, lines.asJava)
  }
}

object Recorder {
  private[perfbench] object PlanWalk extends AdaptiveSparkPlanHelper {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = collectWithSubqueries(p) { case s: FileSourceScanExec => s }
    def writes(p: SparkPlan): Seq[DataWritingCommandExec] = collectWithSubqueries(p) { case w: DataWritingCommandExec => w }
  }

  /** Per-trigger p50s of the progress durations and the peaks of the state
    * counters, over the triggers that admitted data.
    */
  def streamingLayers(all: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val ps = all.filter(_.numInputRows > 0)
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val state = ps.flatMap(_.stateOperators.headOption)
    Map(
      "sources.offset_ms" -> Stats.median(ps.map(p => d(p, "latestOffset") + d(p, "getBatch"))),
      "streaming.add_batch_ms" -> Stats.median(ps.map(d(_, "addBatch"))),
      "streaming.query_planning_ms" -> Stats.median(ps.map(d(_, "queryPlanning"))),
      "streaming.wal_commit_ms" -> Stats.median(ps.map(d(_, "walCommit"))),
      "streaming.triggers" -> ps.size.toDouble) ++ (if (state.isEmpty) Map.empty else Map(
      "streaming.state_rows_peak" -> state.map(_.numRowsTotal).max.toDouble,
      "streaming.state_mem_peak_bytes" -> state.map(_.memoryUsedBytes).max.toDouble,
      "streaming.state_commit_ms" -> Stats.median(state.map(_.commitTimeMs.toDouble))))
  }

  /** Blocks until the listener events posted so far have been delivered:
    * an empty job's end event queues behind them on the same bus.
    */
  private val MarkerProperty = "perfbench.marker"

  def drainListenerBus(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val done = new java.util.concurrent.CountDownLatch(1)
    val marker = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = done.countDown()
    }
    sc.addSparkListener(marker)
    sc.setLocalProperty(MarkerProperty, "1")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(MarkerProperty, null)
    done.await(30, java.util.concurrent.TimeUnit.SECONDS)
    sc.removeSparkListener(marker)
  }

  /** `body` inside a span of `rec`, or plainly when the run is not traced. */
  def within[T](rec: Option[Recorder], name: String, op: String = "")(body: => T): T =
    rec.fold(body)(_.span(name, op)(body))
}
