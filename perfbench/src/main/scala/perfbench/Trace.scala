package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One span: a call from the benchmark into a layer of the engine. `tree`
  * is the day, request or drop id shared by all spans of one operation. */
final case class Span(id: Long, parent: Long, tree: String, name: String,
                      startNs: Long, endNs: Long) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to a span (through the `perfbench.span` local
  * property the span sets on its thread, which Spark copies into threads
  * the engine starts, e.g. `Pipeline.inParallel`). */
final class Work {
  val jobs = new LongAdder; val stages = new LongAdder; val tasks = new LongAdder
  val runNs = new LongAdder; val cpuNs = new LongAdder; val gcMs = new LongAdder
  val shuffleWrite = new LongAdder; val spill = new LongAdder
  val planningNs = new LongAdder; val filesRead = new LongAdder; val rowsScanned = new LongAdder
  val partitionsRead = new LongAdder; val filesWritten = new LongAdder
  val pairs = new LongAdder; val joinOut = new LongAdder
  /** (start, end) wall ns of each job, for the job-interval union. */
  val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
}

/** In-memory tracer. Spans are only recorded when `enabled`; the untraced
  * run still goes through `span` but pays one branch. */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  private val nextId = new AtomicLong(1)
  private val stack = new ThreadLocal[List[(Long, String)]] { override def initialValue() = Nil }
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  val work = new ConcurrentHashMap[Long, Work]()
  private val nsOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val sc: SparkContext = spark.sparkContext

  def workOf(span: Long): Work = work.computeIfAbsent(span, _ => new Work)

  /** Run `body` as span `name` of operation `tree` (inherited from the
    * enclosing span when empty). */
  def span[A](name: String, tree: String = "")(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val outer = stack.get()
      val (parent, t) = outer.headOption.getOrElse((0L, tree))
      val myTree = if (tree.nonEmpty) tree else t
      val prevProp = sc.getLocalProperty(Tracer.Prop)
      stack.set((id, myTree) :: outer)
      sc.setLocalProperty(Tracer.Prop, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, myTree, name, t0, System.nanoTime()))
        stack.set(outer)
        sc.setLocalProperty(Tracer.Prop, prevProp)
      }
    }

  /** Epoch milliseconds (listener event times) on the span clock. */
  def fromEpochMs(ms: Long): Long = ms * 1000000L - nsOffset
}

object Tracer { val Prop = "perfbench.span" }

/** Spark-side counters, attributed to spans by job properties. SQL
  * execution ends carry the executed plan, from which scan, write and join
  * node metrics are read. */
final class Counters(tracer: Tracer) extends SparkListener {
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  val streamBatches = new LongAdder
  val streamBatchNs = new LongAdder
  val streamCommitNs = new LongAdder
  val streamTriggerNs = new LongAdder
  def resetStream(): Unit = Seq(streamBatches, streamBatchNs, streamCommitNs, streamTriggerNs).foreach(_.reset())
  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.Prop))).map(_.toLong).getOrElse(0L)
  private def attribute(span: Long)(f: Work => Unit): Unit =
    if (span != 0L) f(tracer.workOf(span))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = spanOf(e.properties)
    jobSpan.put(e.jobId, s); jobStart.put(e.jobId, tracer.fromEpochMs(e.time))
    e.stageIds.foreach(stageSpan.put(_, s))
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(x => execSpan.putIfAbsent(x.toLong, s))
    attribute(s)(_.jobs.increment())
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobSpan.getOrDefault(e.jobId, 0L)
    val t1 = tracer.fromEpochMs(e.time)
    val t0 = Option(jobStart.remove(e.jobId)).map(_.longValue).getOrElse(t1)
    attribute(s)(_.jobIntervals.add((t0, t1)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stageSpan.getOrDefault(e.stageInfo.stageId, 0L)
    val m = e.stageInfo.taskMetrics
    attribute(s) { w =>
      w.stages.increment(); w.tasks.add(e.stageInfo.numTasks)
      if (m != null) {
        w.runNs.add(m.executorRunTime * 1000000L); w.cpuNs.add(m.executorCpuTime)
        w.gcMs.add(m.jvmGCTime); w.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        w.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      val s = execSpan.getOrDefault(end.executionId, 0L)
      val qe = org.apache.spark.sql.perfbench.QeBridge.qe(end)
      if (qe != null) {
        val phases = qe.tracker.phases
        val planning = phases.values.map(p => p.endTimeMs - p.startTimeMs).sum * 1000000L
        attribute(s)(_.planningNs.add(planning))
        planMetrics(qe.executedPlan, s)
      }
    case _ =>
  }

  private def metric(p: SparkPlan, key: String): Long =
    p.metrics.get(key).map(_.value).getOrElse(0L)
  /** Output rows of the nearest node at or under `p` that counts them
    * (projections in between keep the row count). */
  private def rowsOut(p: SparkPlan): Long = p match {
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => rowsOut(q.plan)
    case _ if p.metrics.contains("numOutputRows") => metric(p, "numOutputRows")
    case _ if p.children.length == 1 => rowsOut(p.children.head)
    case _ => 0L
  }

  private def planMetrics(plan: SparkPlan, s: Long): Unit = {
    def walk(p: SparkPlan): Unit = {
      val cls = p.getClass.getSimpleName
      if (cls.contains("FileSourceScanExec") || cls.contains("BatchScanExec")) {
        val files = metric(p, "numFiles")
        val rows = metric(p, "numOutputRows")
        val parts = metric(p, "numPartitions")
        attribute(s) { w => w.filesRead.add(files); w.rowsScanned.add(rows); w.partitionsRead.add(parts) }
      }
      if (cls.contains("BroadcastNestedLoopJoinExec") && p.children.length == 2) {
        val pairs = rowsOut(p.children(0)) * rowsOut(p.children(1))
        attribute(s) { w => w.pairs.add(pairs); w.joinOut.add(metric(p, "numOutputRows")) }
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
        case c: org.apache.spark.sql.execution.command.DataWritingCommandExec =>
          attribute(s)(_.filesWritten.add(c.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)))
        case _ =>
      }
    }
    walk(plan)
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      if (e.progress.numInputRows > 0) streamBatches.increment()
      streamBatchNs.add(ms("addBatch") * 1000000L)
      streamTriggerNs.add(ms("triggerExecution") * 1000000L)
      streamCommitNs.add((ms("walCommit") + ms("commitOffsets")) * 1000000L)
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}

/** Summaries of a span set: per-layer self time, driver gaps, coverage. */
object Spans {
  /** Length of the union of intervals. */
  def unionNs(iv: Iterable[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per span name: duration minus the union of its children. */
  def selfNs(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs) -
        unionNs(kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)))).sum
    }
  }

  /** Wall time of `span` not covered by any Spark job attributed to it or
    * to its descendants: driver-side work between jobs. */
  def driverGapNs(span: Span, spans: Seq[Span], tracer: Tracer): Long = {
    val kids = spans.groupBy(_.parent)
    def all(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(all)
    val iv = all(span).flatMap(s => Option(tracer.work.get(s.id)).toSeq
      .flatMap(_.jobIntervals.asScala)).map { case (a, b) =>
      (math.max(a, span.startNs), math.min(b, span.endNs)) }.filter(p => p._2 > p._1)
    (span.endNs - span.startNs) - unionNs(iv)
  }
}
