package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The mains' one metrics listener: one instance per context bus, counts
  * that match the scheduler's, intervals that never see earlier work, and
  * streaming progress through the same registration. */
class RunMetricsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val sc = spark.sparkContext

  test("setup is idempotent: the bus holds exactly one RunMetrics") {
    val a = RunMetrics.setup(spark)
    val b = RunMetrics.setup(spark.newSession())
    assert(a eq b)
    assert(ListenerBridge.listeners[RunMetrics](sc).size == 1)
  }

  test("a two-stage aggregate: jobs, stages and tasks match the scheduler's") {
    // 4 map tasks, then 3 reduce tasks after the shuffle
    val (out, m) = RunMetrics.setup(spark).measure {
      sc.parallelize(1 to 1000, 4).map(i => (i % 7, 1)).reduceByKey(_ + _, 3).collect()
    }
    assert(out.map(_._2).sum == 1000)
    assert(m("spark.jobs") >= 1)
    assert(m("spark.stages") == 2)
    assert(m("spark.tasks") == 4 + 3)
    assert(m("spark.shuffle_write_bytes") > 0)
    assert(m("spark.executor_run_s") >= 0 && m("spark.driver_gap_s") >= 0)
    assert(m("streaming.batches") == 0)
  }

  test("an interval without a Spark action reads zero right after a heavy one") {
    val metrics = RunMetrics.setup(spark)
    // hold the bus on the heavy job's first task end until 300 ms after
    // the action returns, so the rest of its events are still queued when
    // the interval starts
    val release = new CountDownLatch(1)
    val held = new AtomicBoolean(false)
    val blocker = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (held.compareAndSet(false, true)) release.await(30, TimeUnit.SECONDS)
    }
    sc.addSparkListener(blocker)
    try {
      sc.parallelize(1 to 100000, 16).map(i => (i % 97, i.toLong))
        .reduceByKey(_ + _, 16).count()
      new Thread(() => { Thread.sleep(300); release.countDown() }).start()
      val (_, m) = metrics.measure(())
      assert(held.get)
      assert(m("spark.jobs") == 0 && m("spark.stages") == 0 && m("spark.tasks") == 0)
      assert(m("spark.spill_bytes") == 0 && m("spark.peak_task_mem_bytes") == 0)
    } finally { release.countDown(); sc.removeSparkListener(blocker) }
  }

  test("a one-batch AvailableNow drain reads streaming.batches >= 1") {
    val dir = Files.createTempDirectory("run_metrics_stream")
    try {
      val in = dir.resolve("in").toString
      spark.range(20).write.parquet(in)
      val (_, m) = RunMetrics.setup(spark).measure {
        val q = spark.readStream.schema(spark.read.parquet(in).schema).parquet(in)
          .writeStream.format("memory").queryName(s"run_metrics_${System.nanoTime()}")
          .trigger(Trigger.AvailableNow()).start()
        try assert(q.awaitTermination(60000)) finally q.stop()
      }
      assert(m("streaming.batches") >= 1)
      assert(m("streaming.batch_s") >= 0 && m("spark.jobs") >= 1)
    } finally {
      val hp = new org.apache.hadoop.fs.Path(dir.toString)
      hp.getFileSystem(sc.hadoopConfiguration).delete(hp, true)
    }
  }
}
