package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Registry of every DataFrame the graft operators persist internally
  * (minhash shingle projections, jaccard doc aggregates, CC edge lists, the
  * Queries marts), plus the session memo ([[memo]]) those marts and the
  * other per-session build artifacts live in. Operator outputs are lazy,
  * so the operators themselves have no safe point to unpersist — a
  * one-shot Verify/Bench process simply exits, but a long-lived service
  * embedding this module would otherwise accumulate cached RDDs without
  * bound. Such a host calls [[unpersistAll]] at its own quiescent points
  * (e.g. after consuming an operator's output, or on session close) to
  * bound cache growth.
  *
  * register/unpersistAll are mutually synchronized: a registration cannot
  * land in a queue a concurrent unpersistAll has already drained (which
  * would orphan the frame — cached forever, invisible to later calls).
  * The actual `unpersist` calls run outside the lock so a slow blocking
  * unpersist cannot stall operators registering on other threads.
  */
object CacheRegistry {
  private val frames = mutable.Map.empty[SparkSession, mutable.ListBuffer[DataFrame]]
  private val hooks = mutable.ListBuffer.empty[SparkSession => Unit]
  private val lock = new Object

  /** One memo entry: the build runs under THIS cell's monitor, never under
    * a map lock. `computeIfAbsent` below only inserts an empty cell (a
    * mapping function that cannot re-enter the map), so a build that
    * memoizes other keys — clusterAssignments → jaccardPairs → the
    * documents schema — cannot hit ConcurrentHashMap's "Recursive update"
    * (the round-7/8 flake: whether two nested keys shared a hash bin
    * depended on the sessions' identity hashes). Concurrent callers of one
    * key wait on its cell, so each build runs once; a build that throws
    * leaves the cell empty and the next call retries it. */
  private final class Cell {
    private var value: Option[Any] = None
    def get(build: => Any): Any = synchronized {
      if (value.isEmpty) value = Some(build)
      value.get
    }
  }
  private val cells =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), Cell]

  /** The session memo: `build` runs once per (session, dir, tag) until
    * [[unpersistAll]] evicts the session. Callers whose artifact goes stale
    * when a file changes put the file's mtime in the tag. */
  private[graft] def memo[A](spark: SparkSession, dir: String, tag: String)(build: => A): A =
    cells.computeIfAbsent((spark, dir, tag), _ => new Cell).get(build).asInstanceOf[A]

  /** Throwaway-artifact root (sinks, checkpoints, staged sources):
    * `spark.graft.scratchRoot` when set (the bench session points it at
    * tmpfs — sink/checkpoint fsync latency is environment, not engine,
    * cost), else `/tmp`. */
  private[graft] def scratchRoot(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.scratchRoot").getOrElse("/tmp")

  /** Track a frame the caller just persisted; returns it unchanged.
    * `owner` keys the frame under a session other than `df.sparkSession` —
    * used when an operator persists on a call-scoped cloned session (CC's
    * loop session) but the host only ever calls unpersistAll on the
    * original: the frame must be released from the session the host knows.
    */
  private[graft] def register(df: DataFrame, owner: SparkSession = null): DataFrame = {
    val key = if (owner != null) owner else df.sparkSession
    lock.synchronized {
      frames.getOrElseUpdate(key, mutable.ListBuffer.empty) += df
    }
    df
  }

  /** Extra per-session cleanup run by [[unpersistAll]] after the frames
    * are unpersisted. */
  private[graft] def addHook(h: SparkSession => Unit): Unit =
    lock.synchronized { hooks += h }

  /** Unpersist every operator-cached frame registered for `spark`, evict
    * the session's memo entries and run the cleanup hooks. Returns the
    * number of frames released. Safe to call repeatedly and concurrently
    * with operator builds; operators re-persist (and re-register) on next
    * use.
    */
  def unpersistAll(spark: SparkSession, blocking: Boolean = false): Int = {
    val (fs, hs) = lock.synchronized {
      cells.keySet.removeIf(_._1 == spark)
      (frames.remove(spark).map(_.toList).getOrElse(Nil), hooks.toList)
    }
    fs.foreach(_.unpersist(blocking))
    hs.foreach(h => h(spark))
    fs.size
  }
}
