package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** The engine mains' one metrics listener: scheduler job, stage and task
  * counters plus streaming micro-batch progress, read per interval through
  * [[measure]] under perfbench's layer metric names. Streaming progress
  * events are posted on the same bus and arrive through `onOtherEvent`, so
  * one registration covers every session on the context. The counters are
  * context-wide: measured intervals must not overlap. */
final class RunMetrics private (sc: SparkContext) extends SparkListener {
  private val sums = RunMetrics.Summed.map { case (k, _) => k -> new LongAdder }.toMap
  private def add(k: String, v: Long): Unit = sums(k).add(v)
  private val peakTaskMem = new AtomicLong
  // start times of running jobs, kept across resets: a job that starts
  // before an interval and ends inside it still covers part of it
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("spark.jobs", 1); jobStart.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobSpans.add((Option(jobStart.remove(e.jobId)).fold(e.time)(_.longValue), e.time))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    add("spark.stages", 1); add("spark.tasks", e.stageInfo.numTasks)
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      add("spark.executor_run_s", m.executorRunTime); add("spark.executor_cpu_s", m.executorCpuTime)
      add("spark.gc_s", m.jvmGCTime); add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  // the stage aggregate sums peak memory over its tasks; the largest
  // single task needs the per-task value
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null)
      peakTaskMem.accumulateAndGet(e.taskMetrics.peakExecutionMemory, math.max(_, _))
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent =>
      if (p.progress.numInputRows > 0) add("streaming.batches", 1)
      Option(p.progress.durationMs.get("addBatch")).foreach(ms => add("streaming.batch_s", ms))
    case _ =>
  }

  /** Run `body` as one measured interval and return its result with the
    * interval's metrics. The bus is drained before the counters are
    * zeroed (so no event of earlier work lands in the interval) and again
    * after `body` returns, outside any span `body` times. */
  def measure[A](body: => A): (A, Map[String, Double]) = {
    ListenerBridge.flush(sc)
    sums.values.foreach(_.reset()); peakTaskMem.set(0); jobSpans.clear()
    val t0 = System.currentTimeMillis()
    val out = body
    val t1 = System.currentTimeMillis()
    ListenerBridge.flush(sc)
    val busy = RunMetrics.unionMs(jobSpans.asScala.toSeq
      .map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }.filter(p => p._2 > p._1))
    (out, RunMetrics.Summed.map { case (k, unit) => k -> sums(k).sum / unit }.toMap ++ Map(
      "spark.peak_task_mem_bytes" -> peakTaskMem.get.toDouble,
      "spark.driver_gap_s" -> (t1 - t0 - busy) / 1e3))
  }
}

object RunMetrics {
  /** Summed counters, each with the divisor from its raw unit to its name's. */
  private val Summed = Seq("spark.jobs" -> 1.0, "spark.stages" -> 1.0, "spark.tasks" -> 1.0,
    "spark.executor_run_s" -> 1e3, "spark.executor_cpu_s" -> 1e9, "spark.gc_s" -> 1e3,
    "spark.shuffle_write_bytes" -> 1.0, "spark.spill_bytes" -> 1.0,
    "streaming.batches" -> 1.0, "streaming.batch_s" -> 1e3)

  /** The `RunMetrics` on `spark`'s context bus, added if there is none.
    * Found on the bus itself, so a context never holds two. */
  def setup(spark: SparkSession): RunMetrics = synchronized {
    val sc = spark.sparkContext
    ListenerBridge.listeners[RunMetrics](sc).headOption.getOrElse {
      val m = new RunMetrics(sc)
      sc.addSparkListener(m)
      m
    }
  }

  /** Length of the union of `[start, end)` intervals. */
  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { total += e - math.max(s, end); end = e }
    }
    total
  }
}
