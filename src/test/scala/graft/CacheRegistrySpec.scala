package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The session memo: nested builds, one build per key under concurrency,
  * retry after a failed build, and eviction with the session's frames.
  * Each test keys its entries under its own child session, so no other
  * suite's memoized marts are touched. */
class CacheRegistrySpec extends AnyFunSuite {
  private def session() = SparkTestSession.spark.newSession()

  test("memo: a build that memoizes 64 other keys inside itself completes") {
    val s = session()
    // with one shared ConcurrentHashMap and the build inside computeIfAbsent,
    // nested keys sharing a hash bin threw "Recursive update"
    val total = CacheRegistry.memo(s, "d", "outer") {
      (0 until 64).map(i => CacheRegistry.memo(s, "d", s"inner$i")(i)).sum
    }
    assert(total == (0 until 64).sum)
    assert(CacheRegistry.memo(s, "d", "inner5")(-1) == 5)
    assert(CacheRegistry.memo(s, "d", "outer")(-1) == total)
  }

  test("memo: 8 concurrent callers of one key run its build exactly once") {
    val s = session()
    val builds = new AtomicInteger
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val fs = (1 to 8).map(_ => pool.submit(new Callable[Int] {
        def call(): Int = {
          go.await()
          CacheRegistry.memo(s, "d", "k") { builds.incrementAndGet(); Thread.sleep(200); 42 }
        }
      }))
      go.countDown()
      assert(fs.map(_.get(60, TimeUnit.SECONDS)) == Seq.fill(8)(42))
      assert(builds.get == 1)
    } finally { pool.shutdownNow(); () }
  }

  test("memo: a build that throws is retried on the next call") {
    val s = session()
    val calls = new AtomicInteger
    intercept[IllegalStateException] {
      CacheRegistry.memo(s, "d", "k") {
        calls.incrementAndGet(); throw new IllegalStateException("transient")
      }
    }
    assert(CacheRegistry.memo(s, "d", "k") { calls.incrementAndGet(); 7 } == 7)
    assert(calls.get == 2)
  }

  test("unpersistAll evicts the session's memo entries and unpersists its frames") {
    val s = session()
    val other = session()
    val builds = new AtomicInteger
    // distinct plans per session: the cache manager is shared, and equal
    // plans would share one cache entry across the two sessions
    def frame(sess: org.apache.spark.sql.SparkSession, n: Long) =
      CacheRegistry.memo(sess, "d", "frame") {
        builds.incrementAndGet()
        val df = CacheRegistry.register(sess.range(n).toDF().persist(StorageLevel.MEMORY_ONLY))
        df.count()
        df
      }
    val df = frame(s, 10)
    frame(other, 20)
    assert(df.storageLevel != StorageLevel.NONE)
    try {
      assert(CacheRegistry.unpersistAll(s, blocking = true) == 1)
      assert(df.storageLevel == StorageLevel.NONE)
      assert(!(frame(s, 10) eq df), "evicted entry must be rebuilt")
      assert(builds.get == 3)
      frame(other, 20)
      assert(builds.get == 3, "another session's entry must survive")
    } finally {
      CacheRegistry.unpersistAll(s, blocking = true)
      CacheRegistry.unpersistAll(other, blocking = true)
    }
  }
}
