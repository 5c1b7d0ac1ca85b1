package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.Success
import org.apache.spark.perfbench.BusSync
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor-side counters of the tasks one span ran. */
final class TaskStats {
  var tasks, failedTasks, cpuNs, runMs, gcMs, spillBytes, inputBytes, inputRecords,
    shuffleWriteBytes, shuffleReadBytes = 0L
  /** stage → task durations (ms), for stages that read shuffle output */
  val postShuffle = mutable.HashMap.empty[Int, ArrayBuffer[Long]]

  def add(o: TaskStats): Unit = {
    tasks += o.tasks; failedTasks += o.failedTasks; cpuNs += o.cpuNs; runMs += o.runMs
    gcMs += o.gcMs; spillBytes += o.spillBytes; inputBytes += o.inputBytes
    inputRecords += o.inputRecords; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes
    o.postShuffle.foreach { case (s, d) => postShuffle.getOrElseUpdate(s, ArrayBuffer.empty) ++= d }
  }

  /** max ÷ median task time of the widest post-shuffle stage (1 if none) */
  def taskSkew: Double =
    if (postShuffle.isEmpty) 1.0
    else {
      val d = postShuffle.values.maxBy(_.size).sorted
      d.last.toDouble / math.max(1L, d(d.size / 2))
    }
}

/** A timed region of the benchmark around calls into one layer. */
final case class Span(id: Int, name: String, parent: Int, runId: String, startNs: Long) {
  var endNs: Long = -1L
  val tasks = new TaskStats
  /** each executed plan's operators in pre-order, with their SQL metrics */
  val plans = ArrayBuffer.empty[Seq[(String, Map[String, Long])]]
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans in memory: each span sets the Spark job group, so task
  * metrics from a SparkListener and operator metrics from a
  * QueryExecutionListener land on the span whose calls caused them.
  */
final class Tracer(spark: SparkSession, runId: String) {
  val spans = ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  @volatile private var current: Span = _
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val sc = spark.sparkContext
  private val GroupPrefix = "perfbench-"

  private val taskListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(GroupPrefix))
        .foreach { g =>
          val s = spans.synchronized(spans(g.stripPrefix(GroupPrefix).toInt))
          e.stageIds.foreach(stageSpan.put(_, s))
        }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      if (s != null && e.taskMetrics != null) s.tasks.synchronized {
        val m = e.taskMetrics
        val t = s.tasks
        t.tasks += 1
        if (e.reason != Success) t.failedTasks += 1
        t.cpuNs += m.executorCpuTime
        t.runMs += m.executorRunTime
        t.gcMs += m.jvmGCTime
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        t.inputBytes += m.inputMetrics.bytesRead
        t.inputRecords += m.inputMetrics.recordsRead
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        val read = m.shuffleReadMetrics.totalBytesRead
        t.shuffleReadBytes += read
        if (m.shuffleReadMetrics.totalBlocksFetched > 0 || read > 0)
          t.postShuffle.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private object Walk extends AdaptiveSparkPlanHelper
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val s = current
      if (s != null) {
        val ops = ArrayBuffer.empty[(String, Map[String, Long])]
        Walk.foreach(qe.executedPlan)(node => ops += node.nodeName -> node.metrics.map { case (k, m) => k -> m.value })
        s.synchronized(s.plans += ops.toSeq)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
  }

  /** Listeners are attached only while a span is open, so work between
    * top-level spans runs untraced.
    */
  def span[T](name: String)(body: => T): T = {
    if (open.isEmpty) {
      sc.addSparkListener(taskListener)
      spark.listenerManager.register(queryListener)
    }
    val s = spans.synchronized {
      val sp = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), runId, System.nanoTime())
      spans += sp
      sp
    }
    open.push(s)
    current = s
    sc.setJobGroup(s"$GroupPrefix${s.id}", name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      BusSync.drain(sc) // late events still belong to this span
      open.pop()
      open.headOption match {
        case Some(p) => current = p; sc.setJobGroup(s"$GroupPrefix${p.id}", p.name, interruptOnCancel = false)
        case None =>
          current = null
          sc.clearJobGroup()
          sc.removeSparkListener(taskListener)
          spark.listenerManager.unregister(queryListener)
      }
    }
  }

  /** The span's own task stats plus those of every span nested in it. */
  def tasksWithin(s: Span): TaskStats = {
    val t = new TaskStats
    t.add(s.tasks)
    spans.filter(_.parent == s.id).foreach(c => t.add(tasksWithin(c)))
    t
  }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    val t = s.tasks
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.runId,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "tasks" -> Map("tasks" -> t.tasks, "failed" -> t.failedTasks, "cpu_ns" -> t.cpuNs,
        "run_ms" -> t.runMs, "gc_ms" -> t.gcMs, "spill_bytes" -> t.spillBytes,
        "input_bytes" -> t.inputBytes, "input_records" -> t.inputRecords,
        "shuffle_write_bytes" -> t.shuffleWriteBytes, "shuffle_read_bytes" -> t.shuffleReadBytes),
      "plans" -> s.plans.map(_.map { case (n, m) => Map("op" -> n, "metrics" -> m) }))
  }
}
