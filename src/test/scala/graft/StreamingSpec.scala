package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingJobs

/** Executes the streaming paths themselves (round-2 VERDICT: only the batch
  * proxy was tested): file-source windowed aggregation with AvailableNow,
  * watermark-bounded streaming dedup, and flatMapGroupsWithState
  * sessionization.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowed counts: streaming AvailableNow equals the batch aggregate") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_stream_in").toString
    val events = Seq(
      (1L, ts("2024-01-01 00:10:00"), "click", 1.0),
      (2L, ts("2024-01-01 02:20:00"), "click", 2.0),
      (3L, ts("2024-01-01 07:00:00"), "view", 3.0),
      (4L, ts("2024-01-01 07:30:00"), "click", 4.0),
      (5L, ts("2024-01-02 01:00:00"), "view", 5.0)
    ).toDF("user_id", "ts", "event_type", "value")
    events.write.mode("overwrite").parquet(dir)

    val q = StreamingJobs.windowedCounts(spark, dir, events.schema,
      queryName = "wc_test")
    q.processAllAvailable()
    q.stop()
    val got = spark.table("wc_test")
      .select("bucket_start", "event_type", "n", "total_value")
    val want = events
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .select(col("window.start").as("bucket_start"), col("event_type"),
        col("n"), col("total_value"))
    assert(got.collect().toSet == want.collect().toSet)
    assert(got.count() == 4) // 3 distinct windows, one split by type
  }

  test("drainToMemory scratch dirs are deleted at CacheRegistry.unpersistAll") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_drain_clean_in").toString
    Seq((1L, ts("2024-01-01 00:10:00"), "click", 1.0))
      .toDF("user_id", "ts", "event_type", "value")
      .write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val drained = StreamingJobs.drainToMemory(
      spark.readStream.schema(schema).parquet(dir), "clean_probe")
    assert(drained.count() == 1)
    // the drain's sink+checkpoint live under scratchRoot until the host's
    // quiescent point; unpersistAll must remove them (ADVICE r10: a long
    // tmpfs bench session otherwise accumulates them in RAM)
    val root = CacheRegistry.scratchRoot(spark)
    val before = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("graft_drain_clean_probe")).toSeq
    assert(before.nonEmpty, s"expected a drain scratch dir under $root")
    CacheRegistry.unpersistAll(spark, blocking = true)
    val after = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("graft_drain_clean_probe")).toSeq
    assert(after.isEmpty,
      s"drain dirs survived unpersistAll: ${after.map(_.getName).mkString(",")}")
  }

  /** Drains `rows` through [[StreamingJobs.idempotentAppendSink]] from a
    * fresh checkpoint: a replay whenever the rows repeat. */
  private def drainAppend(rows: DataFrame, target: String,
                          keyCols: Seq[String] = Seq("k"),
                          partitionCols: Seq[String] = Nil): Unit = {
    val in = Files.createTempDirectory("graft_sink_in").toString
    rows.write.mode("overwrite").parquet(in)
    val q = StreamingJobs.idempotentAppendSink(
      spark.readStream.schema(rows.schema).parquet(in), target, keyCols,
      Files.createTempDirectory("graft_sink_ck").toString,
      partitionCols = partitionCols)
    q.awaitTermination(); q.stop()
  }

  test("idempotentAppendSink: replayed batches insert nothing (K1 streaming twin)") {
    import spark.implicits._
    // long keys, and md5 hash keys (the reference's K1 `event_hash` shape,
    // whose batch envelope spans the whole key space)
    val inputs = Seq[(String, DataFrame => DataFrame)](
      "long" -> identity,
      "md5" -> (_.withColumn("k", md5(col("k").cast("string")))))
    for ((name, keyed) <- inputs) {
      val target = Files.createTempDirectory("graft_sink_tgt").toString + "/t"
      val batch1 = keyed(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
      drainAppend(batch1, target)
      assert(spark.read.parquet(target).count() == 3, name)
      // full source replay from a FRESH checkpoint (the worst re-run case:
      // the stream re-delivers everything) + one genuinely new row
      val all = batch1.union(keyed(Seq((3L, "c"), (4L, "d")).toDF("k", "v")))
      drainAppend(all, target)
      val rows = spark.read.parquet(target).select("k").collect().map(_.get(0))
      val want = keyed((1L to 4L).map(k => (k, "")).toDF("k", "v"))
        .select("k").collect().map(_.get(0))
      assert(rows.length == 4, s"$name: duplicates appended: ${rows.toSeq}")
      assert(rows.toSet == want.toSet, name)
      // rows that external retention removed from the target are inserted
      // again by their replay: the probe reads the target as it is now
      val fs = new org.apache.hadoop.fs.Path(target)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val largest = fs.listStatus(new org.apache.hadoop.fs.Path(target))
        .filter(_.getPath.getName.startsWith("part-")).maxBy(_.getLen)
      assert(fs.delete(largest.getPath, false))
      assert(spark.read.parquet(target).count() < 4, name)
      drainAppend(all, target)
      val again = spark.read.parquet(target).select("k").collect().map(_.get(0))
      assert(again.length == 4 && again.toSet == want.toSet, s"$name: ${again.toSeq}")
    }
  }

  test("idempotentAppendSink: null keys and in-batch duplicates insert exactly once") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_sink_in2").toString
    val target = Files.createTempDirectory("graft_sink_tgt2").toString + "/t"
    val schema = Seq((Option(1L), "a")).toDF("k", "v").schema
    def run(): Unit = {
      val ck = Files.createTempDirectory("graft_sink_ck").toString
      val q = StreamingJobs.idempotentAppendSink(
        spark.readStream.schema(schema).parquet(in), target, Seq("k"), ck)
      q.awaitTermination(); q.stop()
    }
    // one microbatch carrying the same NEW key twice + a null-keyed row
    Seq((Option(5L), "x"), (Option(5L), "x2"), (None: Option[Long], "n"))
      .toDF("k", "v").write.mode("overwrite").parquet(in)
    run()
    val first = spark.read.parquet(target).collect()
    assert(first.length == 2, s"in-batch dup not collapsed: ${first.toSeq}")
    // replay everything (fresh checkpoint): the null-keyed row must be
    // blocked by null-safe equality, not re-appended forever
    Seq((None: Option[Long], "n"), (Option(5L), "x")).toDF("k", "v")
      .write.mode("append").parquet(in)
    run()
    val after = spark.read.parquet(target).collect()
    assert(after.length == 2, s"replayed null/dup keys re-appended: ${after.toSeq}")
  }

  test("idempotentAppendSink probe: the batch's key envelope is PUSHED into " +
    "the target scan (row-group pruning), null/empty batches handled") {
    import spark.implicits._
    val target = Files.createTempDirectory("graft_sink_prune").toString + "/t"
    // a multi-file target: each file carries a disjoint key range, so the
    // envelope predicate can actually skip files/row groups
    (0 until 5).foreach { f =>
      (f * 100L until f * 100L + 100L).map(k => (k, s"v$k")).toDF("k", "v")
        .coalesce(1).write.mode("append").parquet(target)
    }
    // batch inside one file's range
    val batch = Seq((Option(205L), "x"), (Option(210L), "y")).toDF("k", "v")
    val probe = StreamingJobs.prunedTargetKeys(spark, target, Seq("k"), batch)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      "GreaterThanOrEqual\\(k,205\\)".r.findFirstIn(plan).isDefined &&
      "LessThanOrEqual\\(k,210\\)".r.findFirstIn(plan).isDefined,
      s"key-envelope filters not pushed to the parquet scan:\n$plan")
    // only rows inside the envelope survive — the anti-join's probe side
    // is batch-envelope-sized, not O(target)
    val got = probe.collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (205L to 210L).toSeq, got.mkString(","))
    // a batch with a null key keeps the isNull arm: target has no null
    // keys here, so the probe returns just the range rows
    val withNull = Seq((Option(205L), "x"), (None: Option[Long], "n")).toDF("k", "v")
    val got2 = StreamingJobs.prunedTargetKeys(spark, target, Seq("k"), withNull)
      .collect().map(_.getLong(0)).sorted
    assert(got2.toSeq == Seq(205L))
    // an empty batch probes nothing (lit(false) short-circuit)
    val empty = batch.filter(col("k") < 0)
    assert(StreamingJobs.prunedTargetKeys(spark, target, Seq("k"), empty).count() == 0)
  }

  test("admitNearSink: cross-batch near-dups of one run both admit; " +
    "malformed sigs and null ids fail closed") {
    import spark.implicits._
    val base = "01" * 32
    val near = base.dropRight(1) + (if (base.last == '0') "1" else "0")
    val far = "0" * 32 + "1" * 32
    val in = Files.createTempDirectory("graft_anear_in").toString
    val target = Files.createTempDirectory("graft_anear_tgt").toString + "/t"
    val ck = Files.createTempDirectory("graft_anear_ck").toString
    // two files → two microbatches (maxFilesPerTrigger=1); mtime order
    Seq((Option(1L), base)).toDF("id", "sig")
      .coalesce(1).write.mode("append").parquet(in)
    Thread.sleep(1100) // file-source ordering is mtime-second-granular
    // the null-id row carries a perfectly good far signature — it must
    // STILL be rejected (fail closed): a null id cannot ride the
    // id-keyed admission anti-join
    Seq((Option(2L), near), (Option(3L), "not-a-sig"), (Option(4L), far),
      (None: Option[Long], "10" * 32))
      .toDF("id", "sig").coalesce(1).write.mode("append").parquet(in)
    val hist = Seq.empty[Tuple1[String]].toDF("sig")
    val src = spark.readStream
      .schema(Seq((Option(1L), "x")).toDF("id", "sig").schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = StreamingJobs.admitNearSink(src, hist, target, ck, "id", "sig")
    q.awaitTermination(); q.stop()
    // the near check probes the static history only, so batch 2's near
    // twin of batch 1 admits (the history-refresh cycle absorbs it); the
    // malformed sig and the null id are rejected; the far sig admits
    assert(spark.read.parquet(target).collect().map(_.getAs[String]("sig")).toSet ==
      Set(base, near, far))
    // exact replay of both files through a FRESH checkpoint: every admitted
    // signature is already in the target, so the replay inserts nothing
    val replay = StreamingJobs.admitNearSink(src, hist, target,
      Files.createTempDirectory("graft_anear_ck2").toString, "id", "sig")
    replay.awaitTermination(); replay.stop()
    val after = spark.read.parquet(target).collect().map(_.getAs[String]("sig"))
    assert(after.length == 3 && after.toSet == Set(base, near, far),
      s"replay re-admitted: ${after.toSeq}")
  }

  test("idempotentAppendSink: a key that is also a partition column keeps " +
    "its string value (\"7\" vs \"07\"), and \"\" inserts once") {
    import spark.implicits._
    val target = Files.createTempDirectory("graft_sink_pkey").toString + "/t"
    // ALL-numeric string partition values: partition-value inference would
    // read them back as ints, so the sink reads the target schema-typed
    def run(vs: Seq[String]): Unit =
      drainAppend(vs.zipWithIndex.toDF("d", "v"), target, Seq("d"), Seq("d"))
    run(Seq("7", "8", "100"))
    assert(spark.read.parquet(target).count() == 3)
    // replay + one new partition value: a string envelope ["100","8"]
    // against an inference-typed int column would re-insert everything
    run(Seq("7", "8", "100", "200"))
    val got = spark.read.parquet(target)
    assert(got.count() == 4, got.collect().mkString(","))
    // "07" is a DIFFERENT key than "7", and its replay is blocked
    run(Seq("7", "07"))
    assert(spark.read.parquet(target).count() == 5)
    run(Seq("07"))
    assert(spark.read.parquet(target).count() == 5)
    // partitionBy stores "" as the default partition (reads back NULL);
    // the sink aligns the batch to that, so "" inserts ONCE and its
    // replay is blocked instead of re-appending forever
    run(Seq(""))
    assert(spark.read.parquet(target).count() == 6)
    run(Seq(""))
    assert(spark.read.parquet(target).count() == 6)
  }

  test("idempotentAppendSink: an array key passes the envelope aggregate; " +
    "null-safe dedup holds") {
    import spark.implicits._
    val target = Files.createTempDirectory("graft_sink_complex").toString + "/t"
    def rows(ids: Seq[Option[Int]]): DataFrame =
      ids.map(i => (i.map(v => Seq(s"a$v", s"b$v")), i.getOrElse(-1)))
        .toDF("k", "v")
    drainAppend(rows(Seq(Some(1), Some(2), None)), target)
    // replay + one new key; the all-null key must not re-append (null-safe)
    drainAppend(rows(Seq(Some(2), None, Some(3))), target)
    assert(spark.read.parquet(target).count() == 4)
    drainAppend(rows(Seq(Some(3), Some(4), None)), target)
    assert(spark.read.parquet(target).count() == 5)
  }

  test("upsertSink: a target directory holding no data files merges as empty") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_ups0_in").toString
    val target = Files.createTempDirectory("graft_ups0_tgt").toString + "/t"
    // what external retention can leave behind: the directory and its
    // `_SUCCESS` marker, no parquet file to infer a schema from
    new java.io.File(target).mkdirs()
    new java.io.File(target, "_SUCCESS").createNewFile()
    val batch = Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("k", "v", "seq")
    batch.write.mode("overwrite").parquet(in)
    val q = StreamingJobs.upsertSink(
      spark.readStream.schema(batch.schema).parquet(in), target,
      Seq("k"), Seq("v"), "seq", Files.createTempDirectory("graft_ups0_ck").toString)
    q.awaitTermination(); q.stop()
    assert(spark.read.parquet(target).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap == Map(1L -> "a", 2L -> "b"))
  }

  test("upsertSink: streaming MERGE — updates overwrite, replays are noops, last-in-batch wins") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_ups_in").toString
    val target = Files.createTempDirectory("graft_ups_tgt").toString + "/t"
    val schema = Seq((1L, "a", 1L)).toDF("k", "v", "seq").schema
    def run(): Unit = {
      val ck = Files.createTempDirectory("graft_ups_ck").toString
      val q = StreamingJobs.upsertSink(
        spark.readStream.schema(schema).parquet(in), target,
        Seq("k"), Seq("v"), "seq", ck)
      q.awaitTermination(); q.stop()
    }
    // batch 1: two keys, plus an in-batch duplicate of k=1 (seq 2 wins)
    Seq((1L, "a", 1L), (1L, "a2", 2L), (2L, "b", 1L))
      .toDF("k", "v", "seq").write.mode("overwrite").parquet(in)
    run()
    val t1 = spark.read.parquet(target).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(t1 == Map(1L -> "a2", 2L -> "b"))
    // batch 2 (full replay from fresh checkpoint + update + insert):
    // replayed rows merge as noops, k=2 updates, k=3 inserts
    Seq((2L, "b9", 7L), (3L, "c", 1L)).toDF("k", "v", "seq")
      .write.mode("append").parquet(in)
    run()
    val t2 = spark.read.parquet(target).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(t2 == Map(1L -> "a2", 2L -> "b9", 3L -> "c"), s"got $t2")
  }

  test("upsertSink: equal-order duplicates resolve deterministically; interrupted swap heals") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_ups2_in").toString
    val target = Files.createTempDirectory("graft_ups2_tgt").toString + "/t"
    val schema = Seq((1L, "a", 1L)).toDF("k", "v", "seq").schema
    def run(): Unit = {
      val ck = Files.createTempDirectory("graft_ups2_ck").toString
      val q = StreamingJobs.upsertSink(
        spark.readStream.schema(schema).parquet(in), target,
        Seq("k"), Seq("v"), "seq", ck)
      q.awaitTermination(); q.stop()
    }
    // seq TIE: the attr-struct tiebreak must pick "zz" (max) every time
    Seq((1L, "aa", 5L), (1L, "zz", 5L)).toDF("k", "v", "seq")
      .write.mode("overwrite").parquet(in)
    run()
    assert(spark.read.parquet(target).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap == Map(1L -> "zz"))
    // simulate a crash between the two swap renames: target moved to .old,
    // no target — the next batch must heal from .old, not lose the table
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(target),
      new org.apache.hadoop.fs.Path(target + ".old")))
    Seq((2L, "b", 1L)).toDF("k", "v", "seq").write.mode("append").parquet(in)
    run()
    val healed = spark.read.parquet(target).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(healed == Map(1L -> "zz", 2L -> "b"), s"swap recovery lost rows: $healed")
  }

  test("stateMetrics: state rows equal the distinct open (window × key) groups") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_state_in").toString
    val events = Seq(
      (1L, ts("2024-01-01 00:10:00"), "click", 1.0),
      (2L, ts("2024-01-01 02:20:00"), "click", 2.0),
      (3L, ts("2024-01-01 07:00:00"), "view", 3.0),
      (4L, ts("2024-01-01 07:30:00"), "click", 4.0),
      (5L, ts("2024-01-02 01:00:00"), "view", 5.0)
    ).toDF("user_id", "ts", "event_type", "value")
    events.write.mode("overwrite").parquet(dir)
    val agg = spark.readStream.schema(events.schema).parquet(dir)
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val got = StreamingJobs.stateMetrics(agg).collect()
    assert(got.length == 1, s"one stateful operator expected: ${got.toSeq}")
    val r = got.head
    assert(r.getString(0) == "stateStoreSave", s"operator: $r")
    // 4 distinct (6h-window, event_type) groups, all open in Complete mode
    assert(r.getLong(1) == 4L, s"state rows: $r")
    assert(r.getBoolean(2), s"memory must be positive: $r")
  }

  test("trending tokens: append emits exactly the watermark-closed windows, equal to batch") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_trend_in").toString
    // three 6h windows across three days: the last window stays OPEN under
    // the 1-day watermark (max ts - 1d < its end) and must not emit
    val docs = Seq(
      (ts("2024-01-01 00:10:00"), "spam spam spam eggs"),
      (ts("2024-01-01 01:20:00"), "spam spam ham"),
      (ts("2024-01-02 00:05:00"), "spam eggs eggs"),
      (ts("2024-01-03 10:00:00"), "late late late")
    ).toDF("ts", "text")
    docs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val q = StreamingJobs.trendingTokens(stream, minCount = 3L)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("trend_test")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("trend_test")
      .select(col("bucket_start").cast("long"), col("term"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // batch twin restricted to windows closed by the final watermark
    // (watermark = 2024-01-03 10:00 - 1 day → the Jan-3 06:00 window is open)
    val want = StreamingJobs.trendingTokens(docs, minCount = 3L)
      .select(col("bucket_start").cast("long"), col("term"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      .filter(_._1 < ts("2024-01-03 00:00:00").getTime / 1000)
    assert(got === want, s"got $got want $want")
    assert(got.exists(_._2 == "spam") && !got.exists(_._2 == "late"),
      "open window leaked into append output")
  }

  test("streaming dedup within watermark drops replayed event hashes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "event_hash", "value")
    val q = StreamingJobs.dedupStream(df)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedup_test").start()
    in.addData(
      (ts("2024-01-01 10:00:00"), "h1", 1.0),
      (ts("2024-01-01 10:01:00"), "h2", 2.0),
      (ts("2024-01-01 10:02:00"), "h1", 9.0)) // in-batch replay
    q.processAllAvailable()
    in.addData(
      (ts("2024-01-01 10:03:00"), "h2", 9.0), // cross-batch replay
      (ts("2024-01-01 10:04:00"), "h3", 3.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_test").select("event_hash").as[String].collect().sorted
    assert(got.toSeq == Seq("h1", "h2", "h3"))
  }

  test("gopherRules on a stream: row-local gate, streaming output equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, ("the data of " * 20).trim),          // wordy, ≥2 distinct stopwords
      (2L, "of and the"),                        // too short
      (3L, ("supercalifragilistic " * 60).trim)) // long words, no stopwords
    val in = MemoryStream[(Long, String)]
    val q = operators.TextAnalysis
      .gopherRules(in.toDF().toDF("doc_id", "text"), "text")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("gopher_stream").start()
    in.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("gopher_stream")
      .select("doc_id", "pass").as[(Long, Boolean)].collect().toMap
    val batch = operators.TextAnalysis
      .gopherRules(rows.toDF("doc_id", "text"), "text")
      .select("doc_id", "pass").as[(Long, Boolean)].collect().toMap
    assert(streamed == batch)
    assert(streamed == Map(1L -> true, 2L -> false, 3L -> false))
  }

  test("admitStream: history dups rejected, in-stream replays collapse, fresh docs admitted") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val history = Seq("old doc one", "old doc two").toDF("text")
      .select(md5(col("text").cast("binary")).as("digest"))
    val in = MemoryStream[(Timestamp, Long, String)]
    val df = in.toDF().toDF("ts", "doc_id", "text")
    val q = StreamingJobs.admitStream(df, history)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("admit_test").start()
    in.addData(
      (ts("2024-01-01 10:00:00"), 1L, "old doc one"),   // exact dup of history
      (ts("2024-01-01 10:01:00"), 2L, "fresh doc a"),
      (ts("2024-01-01 10:02:00"), 3L, "fresh doc a"))   // in-batch replay
    q.processAllAvailable()
    in.addData(
      (ts("2024-01-01 10:03:00"), 4L, "fresh doc a"),   // cross-batch replay
      (ts("2024-01-01 10:04:00"), 5L, "fresh doc b"),
      (ts("2024-01-01 10:05:00"), 6L, "old doc two"))   // history dup, later batch
    q.processAllAvailable()
    q.stop()
    val got = spark.table("admit_test").select("text").as[String].collect().sorted
    assert(got.toSeq == Seq("fresh doc a", "fresh doc b"))
  }

  test("stream-static enrichment: PIP join against a broadcast dim equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def rectMp(x1: Double, y1: Double, x2: Double, y2: Double) =
      Seq(Seq(Seq(Seq(x1, y1), Seq(x2, y1), Seq(x2, y2), Seq(x1, y2), Seq(x1, y1))))
    val dim = Seq(
      ("M1", rectMp(0.0, 0.0, 10.0, 10.0), 0.0, 0.0, 10.0, 10.0),
      ("M2", rectMp(10.0, 0.0, 20.0, 10.0), 10.0, 0.0, 20.0, 10.0)
    ).toDF("cd_mun", "geom", "min_lon", "min_lat", "max_lon", "max_lat")

    val in = MemoryStream[(String, Timestamp, Double, Double)]
    val pts = in.toDF().toDF("event_hash", "ts", "lon", "lat")
    val q = StreamingJobs.enrichPoints(pts, dim)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("enrich_test").start()
    in.addData(
      ("e1", ts("2024-01-01 10:00:00"), 5.0, 5.0),    // inside M1
      ("e2", ts("2024-01-01 10:01:00"), 15.0, 5.0),   // inside M2
      ("e3", ts("2024-01-01 10:02:00"), 50.0, 50.0),  // no match -> null
      ("e1", ts("2024-01-01 10:03:00"), 5.0, 5.0))    // replay -> dropped
    q.processAllAvailable()
    q.stop()
    val got = spark.table("enrich_test").select("event_hash", "cd_mun")
      .as[(String, Option[String])].collect().toMap
    assert(got == Map("e1" -> Some("M1"), "e2" -> Some("M2"), "e3" -> None))
  }

  test("session_window boundary: an exact-gap event MERGES; one past it splits (pins oracle > semantics)") {
    import spark.implicits._
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1.0),
      (1L, ts("2024-01-01 11:00:00"), 2.0),  // exactly gap later -> merges
      (1L, ts("2024-01-01 12:00:01"), 3.0)   // 1s past the gap -> new session
    ).toDF("user_id", "ts", "value")
    val got = events
      .groupBy(col("user_id"), session_window(col("ts"), "1 hour").as("sw"))
      .agg(count(lit(1)).as("n"))
      .select(col("sw.start").cast("string").as("start"), col("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("2024-01-01 10:00:00" -> 2L, "2024-01-01 12:00:01" -> 1L))
  }

  test("session windows: streaming append emits watermark-closed sessions equal to batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Double)]
    val df = in.toDF().toDF("user_id", "ts", "value")
    val q = StreamingJobs.sessionWindows(df, gap = "1 hour", watermark = "10 minutes")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sw_test").start()
    try {
      in.addData(
        (1L, ts("2024-01-01 10:00:00"), 1.0),
        (1L, ts("2024-01-01 10:05:00"), 2.0), // same session as above
        (2L, ts("2024-01-01 10:00:00"), 4.0))
      q.processAllAvailable()
      // pushes the watermark to 19:50 -> both 10:xx sessions close and emit;
      // this event's own session stays open (not emitted)
      in.addData((1L, ts("2024-01-01 20:00:00"), 9.0))
      q.processAllAvailable()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (spark.table("sw_test").count() < 2 && System.nanoTime() < deadline)
        Thread.sleep(250)
    } finally q.stop()
    val got = spark.table("sw_test")
      .select(col("user_id"), col("session_start").cast("string"),
        col("session_end").cast("string"), col("n_events"), col("total_value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getDouble(4)))
      .toSet
    assert(got == Set(
      (1L, "2024-01-01 10:00:00", "2024-01-01 11:05:00", 2L, 3.0),
      (2L, "2024-01-01 10:00:00", "2024-01-01 11:00:00", 1L, 4.0)))
  }

  test("stream-stream interval join: attribution pairs equal batch, out-of-window dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Long, Long, Timestamp)]
    val buys = MemoryStream[(Long, Long, Timestamp)]
    val vdf = views.toDF().toDF("event_id", "user_id", "ts")
    val bdf = buys.toDF().toDF("event_id", "user_id", "ts")
    val q = StreamingJobs.correlateStreams(vdf, bdf, "user_id",
        maxDelayUs = 3600L * 1000000L, watermark = "10 minutes")
      .select(col("l.event_id").as("view_id"), col("r.event_id").as("purchase_id"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("corr_test").start()
    try {
      views.addData(
        (1L, 7L, ts("2024-01-01 10:00:00")),
        (2L, 7L, ts("2024-01-01 12:00:00")),
        (3L, 8L, ts("2024-01-01 10:00:00")))
      buys.addData(
        (101L, 7L, ts("2024-01-01 10:30:00")), // within 1h of view 1
        (102L, 7L, ts("2024-01-01 12:59:00")), // within 1h of view 2 only
        (103L, 8L, ts("2024-01-01 09:30:00")), // BEFORE the view — no credit
        (104L, 9L, ts("2024-01-01 10:30:00"))) // no view for this user
      q.processAllAvailable()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (spark.table("corr_test").count() < 2 && System.nanoTime() < deadline)
        Thread.sleep(250)
    } finally q.stop()
    val got = spark.table("corr_test").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 101L), (2L, 102L)), s"streaming pairs: $got")
    // batch twin of the same expression tree gives the identical pair set
    val bViews = Seq((1L, 7L, ts("2024-01-01 10:00:00")),
      (2L, 7L, ts("2024-01-01 12:00:00")), (3L, 8L, ts("2024-01-01 10:00:00")))
      .toDF("event_id", "user_id", "ts")
    val bBuys = Seq((101L, 7L, ts("2024-01-01 10:30:00")),
      (102L, 7L, ts("2024-01-01 12:59:00")), (103L, 8L, ts("2024-01-01 09:30:00")),
      (104L, 9L, ts("2024-01-01 10:30:00"))).toDF("event_id", "user_id", "ts")
    val batch = StreamingJobs.correlateStreams(bViews, bBuys, "user_id",
        maxDelayUs = 3600L * 1000000L)
      .select(col("l.event_id"), col("r.event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch == got, s"batch $batch != streaming $got")
  }

  test("stream-stream LEFT OUTER: unattributed view emits with nulls after watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Long, Long, Timestamp)]
    val buys = MemoryStream[(Long, Long, Timestamp)]
    val q = StreamingJobs.correlateStreams(
        views.toDF().toDF("event_id", "user_id", "ts"),
        buys.toDF().toDF("event_id", "user_id", "ts"), "user_id",
        maxDelayUs = 3600L * 1000000L, watermark = "10 minutes",
        joinType = "left_outer")
      .select(col("l.event_id").as("view_id"),
        col("r.event_id").as("purchase_id"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("corr_outer_test").start()
    try {
      views.addData(
        (1L, 7L, ts("2024-01-01 10:00:00")), // will be matched
        (2L, 8L, ts("2024-01-01 10:00:00"))) // never matched
      buys.addData((101L, 7L, ts("2024-01-01 10:30:00")))
      q.processAllAvailable()
      // advance BOTH watermarks far past view 2's join window (ts+1h+10m)
      // so the engine can prove no purchase can still arrive for it
      views.addData((3L, 9L, ts("2024-01-02 10:00:00")))
      buys.addData((102L, 9L, ts("2024-01-02 10:00:01")))
      q.processAllAvailable()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (spark.table("corr_outer_test")
               .filter(col("purchase_id").isNull).isEmpty &&
             System.nanoTime() < deadline) {
        Thread.sleep(250)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table("corr_outer_test").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    assert(got.contains((1L, Some(101L))), s"matched pair missing: $got")
    assert(got.contains((2L, None)), s"unattributed view must emit with null: $got")
  }

  test("file-source checkpoint: a restarted query resumes exactly-once, no reprocessing") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_ckpt_in").toString
    val out = Files.createTempDirectory("graft_ckpt_out").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_st").toString
    val one = Seq((1L, ts("2024-01-01 10:00:00"), 1.0)).toDF("user_id", "ts", "value")
    one.write.mode("append").parquet(in)
    // each run is a NEW query instance sharing only the checkpoint — the
    // Spark analog of the reference backfill's resumable state file
    def run(): Unit = {
      val q = spark.readStream.schema(one.schema).parquet(in)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(60000), "stream did not drain in time")
    }
    run()
    Seq((2L, ts("2024-01-01 11:00:00"), 2.0)).toDF("user_id", "ts", "value")
      .write.mode("append").parquet(in)
    run()
    run() // third run with nothing new must add nothing
    val got = spark.read.parquet(out).select("user_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 2L), s"expected exactly-once rows, got ${got.toSeq}")
  }

  test("sessionize: per-user state emits a summary after the quiet timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamingJobs.Event]
    // NOTE: with ProcessingTimeTimeout the engine keeps scheduling batches
    // to fire timeouts, so processAllAvailable never settles — poll the
    // memory sink with a deadline instead.
    val q = StreamingJobs.sessionize(in.toDS(), timeoutMs = 500)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sess_test").start()
    try {
      in.addData(
        StreamingJobs.Event(1L, ts("2024-01-01 10:00:00"), "click", 1.0),
        StreamingJobs.Event(1L, ts("2024-01-01 10:00:10"), "view", 2.5),
        StreamingJobs.Event(2L, ts("2024-01-01 10:00:20"), "click", 4.0))
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (spark.table("sess_test").count() < 2 && System.nanoTime() < deadline)
        Thread.sleep(250)
    } finally q.stop()
    val got = spark.table("sess_test").as[StreamingJobs.SessionSummary]
      .collect().map(s => s.user_id -> ((s.n_events, s.total_value))).toMap
    assert(got.keySet == Set(1L, 2L))
    assert(got(1L) == ((2, 3.5)))
    assert(got(2L) == ((1, 4.0)))
  }

  test("sessionizeByGap: streaming (multi-batch, sentinel-flushed) equals batch " +
    "fMGWS equals the session_window aggregate") {
    import spark.implicits._
    val gapUs = 3600000000L // 1 hour
    val evs = Seq(
      // user 1: two sessions (90-min gap between the pairs)
      StreamingJobs.Event(1L, ts("2024-01-01 00:00:00"), "click", 1.5),
      StreamingJobs.Event(1L, ts("2024-01-01 00:30:00"), "view", 2.0),
      StreamingJobs.Event(1L, ts("2024-01-01 02:00:00"), "click", 3.25),
      StreamingJobs.Event(1L, ts("2024-01-01 02:10:00"), "click", 0.5),
      // user 2: one session; equal-timestamp events exercise the tie key
      StreamingJobs.Event(2L, ts("2024-01-01 01:00:00"), "view", 7.0),
      StreamingJobs.Event(2L, ts("2024-01-01 01:00:00"), "view", 1.0),
      // user 3: events SPLIT ACROSS BATCHES bridge into one session
      StreamingJobs.Event(3L, ts("2024-01-01 03:00:00"), "view", 1.0),
      StreamingJobs.Event(3L, ts("2024-01-01 03:40:00"), "view", 2.0))
    // batch execution: complete input, everything emitted
    val batch = StreamingJobs.sessionizeByGap(evs.toDS(), gapUs)
      .collect().map(r => (r.user_id, r.session_start_us, r.session_end_us,
        r.n_events, math.round(r.total_value * 10000) / 10000.0)).toSet
    // reference: the built-in session_window aggregate over the same rows
    val ref = evs.toDF()
      .groupBy(col("user_id"), session_window(col("ts"), "1 hour").as("sw"))
      .agg(count(lit(1)).as("n"), sum("value").as("tv"))
      .select(col("user_id"), unix_micros(col("sw.start")),
        unix_micros(col("sw.end")), col("n"), round(col("tv"), 4))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(batch == ref)
    // streaming: first batch splits user 3's session start from its
    // continuation; sentinel (user -1, far future) closes every session
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamingJobs.Event]
    val out = StreamingJobs.sessionizeByGap(in.toDS(), gapUs)
    val q = out.toDF().writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("fmgws_spec").start()
    try {
      in.addData(evs.take(7))
      q.processAllAvailable()
      in.addData(evs.drop(7)) // user 3's second event arrives in batch 2
      q.processAllAvailable()
      in.addData(StreamingJobs.Event(-1L, ts("2024-02-01 00:00:00"), "x", 0.0))
      q.processAllAvailable()
      // the flush rides the trailing no-data microbatch — poll for it
      val deadline = System.nanoTime() + 30000000000L
      def emitted() = spark.table("fmgws_spec").count()
      while (emitted() < batch.size && System.nanoTime() < deadline)
        Thread.sleep(100)
      val streamed = spark.table("fmgws_spec")
        .filter(col("user_id") >= 0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), math.round(r.getDouble(4) * 10000) / 10000.0)).toSet
      assert(streamed == batch,
        s"streaming fMGWS diverged:\n  streamed=$streamed\n  batch=$batch")
    } finally {
      q.stop()
      spark.catalog.dropTempView("fmgws_spec")
    }
  }

  test("drainToMemory: a ZERO-ROW drain returns an empty frame with the " +
    "stream's schema (no footer-inference failure on the file sink)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Long]
    // no addData: the AvailableNow drain commits nothing
    val out = StreamingJobs.drainToMemory(
      in.toDS().toDF("v").filter(col("v") > 100), "drain_empty_spec")
    assert(out.schema.fieldNames.toSeq == Seq("v"))
    assert(out.count() == 0)
  }

  test("drainToMemory: an earlier drain's frame is still re-executable after " +
    "a later drain of the SAME prefix (self-contained, no temp-view dependency)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in1 = MemoryStream[Long]
    in1.addData(1L, 2L, 3L)
    val first = StreamingJobs.drainToMemory(in1.toDF().toDF("v"), "drain_spec")
    assert(first.count() == 3)
    val in2 = MemoryStream[Long]
    in2.addData(10L, 20L)
    val second = StreamingJobs.drainToMemory(in2.toDF().toDF("v"), "drain_spec")
    // lazy re-execution of the FIRST frame after the second drain must not
    // throw unresolved-relation (the pre-fix trap) and must see its own rows
    assert(first.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(second.as[Long].collect().sorted.toSeq == Seq(10L, 20L))
  }

  test("withDrainParallelism: applies shuffle/split confs only while the " +
    "drain runs and restores the previous values even when the body throws") {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.files.openCostInBytes", "spark.sql.files.maxPartitionBytes")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.graft.streamDrainPartitions", "8")
    try {
      var inside: Seq[String] = Nil
      StreamingJobs.withDrainParallelism(spark) {
        inside = keys.map(spark.conf.get(_, "?"))
      }
      assert(inside.head == "8", "shuffle partitions not applied in the wrap")
      intercept[RuntimeException] {
        StreamingJobs.withDrainParallelism(spark) { throw new RuntimeException("boom") }
      }
      val after = keys.map(k => k -> spark.conf.getOption(k))
      assert(after == before, s"confs not restored: $after vs $before")
    } finally spark.conf.unset("spark.graft.streamDrainPartitions")
  }
}
