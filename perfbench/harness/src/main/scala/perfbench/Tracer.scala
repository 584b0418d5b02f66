package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records what the engine did, through Spark's public listener APIs:
  * a SparkListener (jobs, stages, task metrics, block updates), a
  * QueryExecutionListener (Catalyst phase times per action) and a
  * StreamingQueryListener (trigger phase durations). Events stay in
  * memory; the harness writes them once, after the timed region. Only
  * [[drain]] reaches past the public API (see `ListenerBusDrain`).
  */
final class Tracer {
  import Tracer._

  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  val actions = new ConcurrentLinkedQueue[Map[String, Any]]()
  val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  val blocks = new ConcurrentLinkedQueue[Map[String, Any]]()

  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int])]()
  private val stageTasks =
    new java.util.concurrent.ConcurrentHashMap[Int, StageAcc]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart.put(e.jobId, (e.time, e.stageIds))

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (start, stageIds) = Option(jobStart.remove(e.jobId))
        .getOrElse((e.time, Seq.empty[Int]))
      jobs.add(Map("job" -> e.jobId, "start_ms" -> start, "end_ms" -> e.time,
        "stages" -> stageIds,
        "ok" -> (e.jobResult == JobSucceeded)))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val acc = stageTasks.computeIfAbsent(e.stageId, _ => new StageAcc)
      acc.synchronized { acc.add(e) }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val acc = Option(stageTasks.remove(info.stageId)).getOrElse(new StageAcc)
      stages.add(acc.synchronized(acc.summary) ++ Map(
        "stage" -> info.stageId,
        "attempt" -> info.attemptNumber(),
        "start_ms" -> info.submissionTime.getOrElse(0L),
        "end_ms" -> info.completionTime.getOrElse(0L),
        "num_tasks" -> info.numTasks))
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        blocks.add(Map("ms" -> System.currentTimeMillis(),
          "bytes" -> (b.memSize + b.diskSize)))
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(funcName, qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(funcName, qe, ok = false)
    private def record(funcName: String, qe: QueryExecution,
        ok: Boolean): Unit = {
      val phases = qe.tracker.phases
      def dur(p: String): Long = phases.get(p)
        .map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
      val end = if (phases.isEmpty) System.currentTimeMillis()
        else phases.values.map(_.endTimeMs).max
      actions.add(Map("func" -> funcName, "ok" -> ok, "end_ms" -> end,
        "analysis_ms" -> dur("analysis"),
        "optimization_ms" -> dur("optimization"),
        "planning_ms" -> dur("planning")))
    }
  }

  val streamingListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Map(
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "batch" -> p.batchId) ++
        p.durationMs.asScala.map { case (k, v) => s"$k" -> v.longValue })
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamingListener)
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)

  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq, "stages" -> stages.asScala.toSeq,
    "actions" -> actions.asScala.toSeq, "progress" -> progress.asScala.toSeq,
    "blocks" -> blocks.asScala.toSeq)
}

object Tracer {

  /** Process-wide counters read synchronously at span boundaries. */
  def counters(): Map[String, Long] = Map(
    "codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    "jvm_gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum)

  /** Per-stage task-metric sums, plus the task durations for skew. */
  final class StageAcc {
    private var n = 0
    private var failed = 0
    private val durations = scala.collection.mutable.ArrayBuffer[Long]()
    private val sums = scala.collection.mutable.LinkedHashMap[String, Long]()
    private def add(k: String, v: Long): Unit =
      sums(k) = sums.getOrElse(k, 0L) + v
    private var peakMem = 0L

    def add(e: SparkListenerTaskEnd): Unit = {
      n += 1
      if (!e.taskInfo.successful) failed += 1
      durations += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        add("run_ms", m.executorRunTime)
        add("cpu_ns", m.executorCpuTime)
        add("gc_ms", m.jvmGCTime)
        add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("input_bytes", m.inputMetrics.bytesRead)
        add("output_bytes", m.outputMetrics.bytesWritten)
        peakMem = peakMem.max(m.peakExecutionMemory)
      }
    }

    def summary: Map[String, Any] = sums.toMap ++ Map(
      "tasks" -> n, "task_failures" -> failed, "peak_mem_bytes" -> peakMem,
      "task_ms" -> durations.toSeq)
  }
}
