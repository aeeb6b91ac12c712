package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{KeyIndex, StreamingJobs}

/** The rebuildable key-index sidecar (round-16 VERDICT #1): hash keys have
  * no useful batch envelope, so the idempotent-append probe reads a
  * bucket-pruned compacted key index instead of O(target) keyCols — and
  * because the index is a pure cache of the target (probe = index ∪ scan
  * of uncovered files), a crash between target append and index refresh
  * can never re-admit a duplicate.
  */
class KeyIndexSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  private lazy val spark = {
    val s = SparkTestSession.spark
    // the amortization gate would skip index bootstrap on these tiny
    // fixture targets — this suite exists to exercise the index itself.
    // Restored in afterAll: leaking the override to later suites would
    // make OTHER suites' sink behavior depend on execution order.
    s.conf.set("spark.graft.keyIndex.minTargetBytes", "0")
    s
  }

  override def afterAll(): Unit = {
    SparkTestSession.spark.conf.unset("spark.graft.keyIndex.minTargetBytes")
    super.afterAll()
  }

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def hfs(path: String) =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Drain `rows` through the sink once (fresh checkpoint = a replay when
    * the rows repeat). Keys are md5 digests — the hash-key shape. */
  private def drain(rows: DataFrame, target: String): Unit =
    StreamingJobs.withDrainParallelism(spark) {
      val in = tmp("graft_kidx_in")
      rows.write.mode("overwrite").parquet(in)
      val q = StreamingJobs.idempotentAppendSink(
        spark.readStream.schema(rows.schema).parquet(in),
        target, keyCols = Seq("k"), checkpoint = tmp("graft_kidx_ck"))
      q.awaitTermination(); q.stop()
    }

  private def digestRows(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map(i => (s"k$i", i)).toDF("raw", "v")
      .select(md5(col("raw")).as("k"), col("v"))
  }

  test("hash keys: replay inserts 0; manifest covers every data file") {
    val target = tmp("graft_kidx_tgt") + "/t"
    drain(digestRows(0 until 200), target)
    assert(spark.read.parquet(target).count() == 200)
    // replay the exact same batch through a FRESH checkpoint
    drain(digestRows(0 until 200), target)
    assert(spark.read.parquet(target).count() == 200)
    // second real batch overlapping the first half
    drain(digestRows(100 until 300), target)
    val got = spark.read.parquet(target)
    assert(got.count() == 300)
    assert(got.select("k").distinct().count() == 300)
    // the sidecar is invisible to the data read above, and its manifest
    // covers exactly the target's data files
    val fs = hfs(target)
    val m = KeyIndex.readManifest(fs, new Path(target, KeyIndex.DirName))
    assert(m.isDefined)
    val dataFiles = fs.listStatus(new Path(target)).filter(_.isFile)
      .map(_.getPath.getName).filterNot(n => n.startsWith("_") || n.startsWith("."))
    assert(m.get.covered.keySet == dataFiles.toSet)
    assert(m.get.keyCols == Seq("k"))
  }

  test("plan audit: the probe scans the _keyidx sidecar with a pushed " +
    "bucket IN-filter, not the target's data files") {
    val target = tmp("graft_kidx_plan") + "/t"
    drain(digestRows(0 until 500), target)
    val batch = digestRows(498 until 503) // 3 new, 2 dup keys
    val pr = KeyIndex.probe(spark, target, Seq("k"), batch)
    assert(pr.manifest.isDefined)
    val plan = pr.frame.queryExecution.executedPlan.toString
    assert(plan.contains(KeyIndex.DirName),
      s"probe does not read the sidecar:\n$plan")
    // covered is complete → no target data-file scan branch at all
    assert(!plan.contains("part-0"),
      s"probe still scans target data files:\n$plan")
    assert(("PushedFilters: \\[.*In\\(" + KeyIndex.BucketCol).r
      .findFirstIn(plan).isDefined,
      s"bucket IN-filter not pushed to the index scan:\n$plan")
    // pruned slice, not the whole index: 5 buckets of 1024 over 500 keys
    val probed = pr.frame.count()
    assert(probed < 100, s"probe read $probed of 500 index keys — not pruned")
    // and it still proves the duplicates: both dup keys are in the probe
    val hit = batch.join(pr.frame, Seq("k"), "left_semi").count()
    assert(hit == 2)
  }

  test("crash between target append and index refresh: uncovered delta is " +
    "scanned, replay inserts 0, and the index heals forward") {
    val target = tmp("graft_kidx_crash") + "/t"
    drain(digestRows(0 until 100), target)
    // simulate the crash: rows reach the TARGET but the refresh never ran
    // (a direct append leaves the manifest stale — exactly the crash gap)
    digestRows(100 until 150).write.mode("append").parquet(target)
    val fs = hfs(target)
    val before = KeyIndex.readManifest(fs, new Path(target, KeyIndex.DirName)).get
    // probe against a batch replaying the crashed rows: every key must be
    // proven duplicate even though the index doesn't cover its file
    val pr = KeyIndex.probe(spark, target, Seq("k"), digestRows(100 until 150))
    assert(pr.frame.join(digestRows(100 until 150), Seq("k"), "left_semi")
      .count() == 50)
    // end-to-end: the replayed batch inserts 0
    drain(digestRows(100 until 150), target)
    assert(spark.read.parquet(target).count() == 150)
    // and the refresh healed the manifest to cover the orphaned files
    val after = KeyIndex.readManifest(fs, new Path(target, KeyIndex.DirName)).get
    assert(after.covered.size > before.covered.size)
    assert(spark.read.parquet(target).count() ==
      spark.read.parquet(after.keyDirs.map(d =>
        new Path(target, KeyIndex.DirName + "/" + d).toString): _*).count())
  }

  test("compaction: key files collapse past compactAt, superseded " +
    "generations are GC'd, dedup still exact") {
    val target = tmp("graft_kidx_compact") + "/t"
    spark.conf.set("spark.graft.keyIndex.compactAt", "3")
    try {
      for (b <- 0 until 5)
        drain(digestRows(b * 50 until (b + 1) * 50), target)
      val fs = hfs(target)
      val idx = new Path(target, KeyIndex.DirName)
      val m = KeyIndex.readManifest(fs, idx).get
      assert(m.keyDirs.size <= 3, s"never compacted: ${m.keyDirs}")
      // everything under _keyidx is either the manifest or a live key dir
      val children = fs.listStatus(idx).map(_.getPath.getName).toSet
      assert(children == m.keyDirs.toSet + "manifest.json", children.toString)
      // replay a mid-history batch: still inserts 0 through the compacted index
      drain(digestRows(60 until 110), target)
      assert(spark.read.parquet(target).count() == 250)
    } finally spark.conf.unset("spark.graft.keyIndex.compactAt")
  }

  test("corrupt manifest: probe falls back to the full target scan and the " +
    "next refresh rebuilds a valid index") {
    val target = tmp("graft_kidx_corrupt") + "/t"
    drain(digestRows(0 until 80), target)
    val fs = hfs(target)
    val mf = new Path(target, KeyIndex.DirName + "/manifest.json")
    val out = fs.create(mf, true)
    try out.write("{not json".getBytes("UTF-8")) finally out.close()
    assert(KeyIndex.readManifest(fs, new Path(target, KeyIndex.DirName)).isEmpty)
    // replay with the index unusable: full-scan fallback still blocks all
    drain(digestRows(0 until 80), target)
    assert(spark.read.parquet(target).count() == 80)
    // and the refresh rebuilt a manifest covering everything
    val m = KeyIndex.readManifest(fs, new Path(target, KeyIndex.DirName))
    assert(m.isDefined && m.get.covered.nonEmpty)
  }

  test("amortization gate: under minTargetBytes no sidecar is built (the " +
    "full scan is cheaper), dedup still exact; an existing index is " +
    "always maintained") {
    val target = tmp("graft_kidx_amort") + "/t"
    spark.conf.set("spark.graft.keyIndex.minTargetBytes",
      (64L * 1024 * 1024).toString) // the default: far above this fixture
    try {
      drain(digestRows(0 until 50), target)
      drain(digestRows(25 until 75), target)
      assert(spark.read.parquet(target).count() == 75)
      val fs = hfs(target)
      assert(!fs.exists(new Path(target, KeyIndex.DirName)),
        "sidecar built below the amortization threshold")
      // once an index EXISTS (threshold dropped / target grew), it is
      // used and maintained even if the target is small again
      spark.conf.set("spark.graft.keyIndex.minTargetBytes", "0")
      drain(digestRows(50 until 100), target)
      assert(fs.exists(new Path(target, KeyIndex.DirName)))
      val m = KeyIndex.readManifest(fs, new Path(target, KeyIndex.DirName))
      assert(m.isDefined && m.get.covered.nonEmpty)
      spark.conf.set("spark.graft.keyIndex.minTargetBytes",
        (64L * 1024 * 1024).toString)
      drain(digestRows(75 until 125), target) // maintained despite threshold
      assert(spark.read.parquet(target).count() == 125)
      val m2 = KeyIndex.readManifest(fs, new Path(target, KeyIndex.DirName))
      assert(m2.get.covered.size > m.get.covered.size)
    } finally spark.conf.set("spark.graft.keyIndex.minTargetBytes", "0")
  }

  test("refresh revalidates against ITS OWN listing: a covered file " +
    "removed after the probe cannot bake stale keys into the index") {
    import org.apache.spark.sql.functions.col
    val target = tmp("graft_kidx_stale") + "/t"
    drain(digestRows(0 until 60), target)
    val fs = hfs(target)
    val idx = new Path(target, KeyIndex.DirName)
    val prior = KeyIndex.readManifest(fs, idx).get
    // external retention removes a covered data file AFTER the probe
    // validated `prior` (simulated by deleting now and calling refresh
    // with the stale prior directly)
    val victim = prior.covered.keys.min
    fs.delete(new Path(target, victim), false)
    val goneKeys = 60 - spark.read.parquet(target).count()
    assert(goneKeys > 0)
    KeyIndex.refresh(spark, target, Seq("k"), Some(prior))
    // the rebuilt index holds EXACTLY the surviving target keys — the
    // removed file's keys must not linger and block re-inserts
    val m = KeyIndex.readManifest(fs, idx).get
    val idxKeys = spark.read.parquet(m.keyDirs.map(d =>
      new Path(idx, d).toString): _*).select("k")
    assert(idxKeys.count() == 60 - goneKeys)
    assert(idxKeys.join(spark.read.parquet(target).select("k"), Seq("k"),
      "left_anti").count() == 0)
    // and a batch replaying the deleted rows now INSERTS them
    val all = digestRows(0 until 60)
    drain(all, target)
    assert(spark.read.parquet(target).select(col("k")).distinct().count() == 60)
  }

  test("key-column type change invalidates the manifest (xxhash64 buckets " +
    "are type-dependent) — probe falls back instead of mispruning") {
    import spark.implicits._
    val target = tmp("graft_kidx_type") + "/t"
    // long keys in the target + index
    StreamingJobs.withDrainParallelism(spark) {
      val in = tmp("graft_kidx_type_in")
      (0L until 40L).map(i => (i, i)).toDF("k", "v")
        .write.mode("overwrite").parquet(in)
      val q = StreamingJobs.idempotentAppendSink(
        spark.readStream.schema((0L until 1L).map(i => (i, i)).toDF("k", "v").schema)
          .parquet(in), target, Seq("k"), tmp("graft_kidx_type_ck"))
      q.awaitTermination(); q.stop()
    }
    // an int-keyed batch: same logical values, different xxhash64 widths
    val intBatch = (0 until 40).map(i => (i, i)).toDF("k", "v")
    val pr = KeyIndex.probe(spark, target, Seq("k"), intBatch)
    assert(pr.manifest.isEmpty,
      "type-mismatched batch must invalidate the index, not bucket-prune with it")
    // the fallback still proves every duplicate (equality coerces types)
    assert(intBatch.join(pr.frame,
      intBatch("k") === pr.frame("k"), "left_semi").count() == 40)
  }

  test("big-delta bootstrap (r17 VERDICT #2): bucket-range layout with " +
    "disjoint __kb file ranges, probe-equivalent, crash orphan GC'd") {
    val target = tmp("graft_kidx_big") + "/t"
    // multi-file target that EXISTS before any index — the bootstrap case
    digestRows(0 until 2000).repartition(4)
      .write.mode("overwrite").parquet(target)
    val fs = hfs(target)
    val idx = new Path(target, KeyIndex.DirName)
    // crash-mid-bootstrap: a key dir written but no manifest committed.
    // The orphan is invisible — the probe falls back to the full target
    // scan, which still blocks every duplicate — and the real bootstrap
    // GCs it after its own manifest commits.
    val orphan = new Path(idx, "keys-orphan")
    digestRows(0 until 5).select(col("k"))
      .withColumn(KeyIndex.BucketCol, lit(0))
      .coalesce(1).write.parquet(orphan.toString)
    val pre = KeyIndex.probe(spark, target, Seq("k"), digestRows(0 until 50))
    assert(pre.manifest.isEmpty)
    assert(pre.frame.join(digestRows(0 until 50), Seq("k"), "left_semi")
      .count() == 50)
    // bootstrap: with no prior the delta is the whole target, which must
    // take the bucket-range layout, not funnel through coalesce(1)
    KeyIndex.refresh(spark, target, Seq("k"), None)
    val m = KeyIndex.readManifest(fs, idx).get
    assert(m.covered.size == 4 && m.keyDirs.size == 1)
    assert(!fs.exists(orphan), "crash orphan survived the bootstrap GC")
    // (a) the layout: multiple key files, disjoint sorted __kb ranges
    // (range partitioning assigns each bucket value to exactly one file)
    val dir = new Path(idx, m.keyDirs.head)
    val parts = fs.listStatus(dir).map(_.getPath)
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
    assert(parts.length > 1, "bucket-range layout wrote a single file")
    val ranges = parts.toSeq.flatMap { p =>
      val r = spark.read.parquet(p.toString)
        .agg(min(col(KeyIndex.BucketCol)), max(col(KeyIndex.BucketCol)))
        .collect()(0)
      if (r.isNullAt(0)) None else Some((r.getInt(0), r.getInt(1)))
    }.sortBy(_._1)
    assert(ranges.size > 1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) =>
        assert(hi < lo, s"overlapping __kb ranges: $ranges")
      case _ => ()
    }
    // (b) probe equivalence with the small-delta path: dups proven, plan
    // reads the sidecar
    val batch = digestRows(1990 until 2010)
    val pr = KeyIndex.probe(spark, target, Seq("k"), batch)
    assert(pr.manifest.isDefined)
    assert(pr.frame.join(digestRows(1990 until 2000), Seq("k"), "left_semi")
      .count() == 10)
    assert(pr.frame.queryExecution.executedPlan.toString
      .contains(KeyIndex.DirName))
    // (c) end-to-end through the sink: 10 dups blocked, 10 new inserted
    drain(batch, target)
    val got = spark.read.parquet(target)
    assert(got.count() == 2010 && got.select("k").distinct().count() == 2010)
  }

  test("refresh skips maintenance when the batch's key types cannot match " +
    "the target's written types (ADVICE r17) — no per-batch rebuild churn") {
    val target = tmp("graft_kidx_btyp") + "/t"
    drain(digestRows(0 until 100), target)
    val fs = hfs(target)
    val idx = new Path(target, KeyIndex.DirName)
    val m0 = KeyIndex.readManifest(fs, idx).get
    assert(m0.keyTypes == Seq("string"))
    // a long-typed batch stream can never validate this string-typed
    // index (xxhash64 buckets are type-sensitive): refresh must neither
    // rebuild it per batch nor poison its manifest — byte-stable no-op
    KeyIndex.refresh(spark, target, Seq("k"), None, Some(Seq("bigint")))
    val m1 = KeyIndex.readManifest(fs, idx).get
    assert(m1 == m0, "mismatched-type refresh churned the manifest")
  }

  test("refresh cross-check (ADVICE r17): a retained prior whose keyTypes " +
    "diverge from the delta's read types triggers a full rebuild, never a " +
    "mixed-hash append") {
    val target = tmp("graft_kidx_xchk") + "/t"
    drain(digestRows(0 until 60), target)
    drain(digestRows(60 until 120), target)
    val fs = hfs(target)
    val idx = new Path(target, KeyIndex.DirName)
    val m = KeyIndex.readManifest(fs, idx).get
    // simulate the divergence: a prior that covers only part of the
    // target (so the delta is non-empty) and records the WRONG type for
    // the key its files were hashed under
    val doctored = m.copy(keyTypes = Seq("bigint"),
      covered = m.covered - m.covered.keys.min)
    KeyIndex.refresh(spark, target, Seq("k"), Some(doctored))
    val m2 = KeyIndex.readManifest(fs, idx).get
    assert(m2.keyTypes == Seq("string"))
    // full rebuild: no key dir of the doctored generation survives (its
    // files' __kb buckets are not trustworthy under the corrected type)
    assert(m2.keyDirs.toSet.intersect(doctored.keyDirs.toSet).isEmpty,
      s"mixed-hash generations retained: ${m2.keyDirs} vs ${doctored.keyDirs}")
    // the rebuild covers the WHOLE target again, including the file the
    // doctored prior had dropped
    assert(m2.covered == m.covered)
    // and the rebuilt index still proves every duplicate
    drain(digestRows(0 until 120), target)
    assert(spark.read.parquet(target).count() == 120)
  }

  test("partition-key intersection bypasses the sidecar (ADVICE r17): " +
    "inference-typed partition values cause no index churn, dedup holds") {
    import spark.implicits._
    val target = tmp("graft_kidx_pkey") + "/t"
    // ALL-numeric string partition values: partition-value inference
    // reads them back as ints — the type (and for "007" the VALUE) does
    // not round-trip, which is exactly why the index must stay out
    def rows(vs: Seq[String]): org.apache.spark.sql.DataFrame =
      vs.zipWithIndex.map { case (d, i) => (d, i) }.toDF("d", "v")
    def run(vs: Seq[String]): Unit =
      StreamingJobs.withDrainParallelism(spark) {
        val in = tmp("graft_kidx_pkey_in")
        rows(vs).write.mode("overwrite").parquet(in)
        val q = StreamingJobs.idempotentAppendSink(
          spark.readStream.schema(rows(Seq("x")).schema).parquet(in),
          target, keyCols = Seq("d"), checkpoint = tmp("graft_kidx_pkey_ck"),
          partitionCols = Seq("d"))
        q.awaitTermination(); q.stop()
      }
    run(Seq("7", "8", "100"))
    assert(spark.read.parquet(target).count() == 3)
    // no sidecar despite minTargetBytes=0 (suite-wide): the bypass, not
    // the amortization gate, kept it out
    assert(!hfs(target).exists(new Path(target, KeyIndex.DirName)),
      "sidecar built for a partition-column key")
    // replay + one new partition value: dedup via the schema-typed
    // envelope read (string envelope ["100","8"] would mis-coerce
    // against an inference-typed int column and re-insert everything)
    run(Seq("7", "8", "100", "200"))
    val got = spark.read.parquet(target)
    assert(got.count() == 4, got.collect().mkString(","))
    assert(!hfs(target).exists(new Path(target, KeyIndex.DirName)))
    // VALUE-exactness: "07" is a DIFFERENT key than "7" (inference would
    // collapse both to int 7 — under the schema-typed read they stay
    // distinct strings), and its replay is blocked like any other
    run(Seq("7", "07"))
    assert(spark.read.parquet(target).count() == 5)
    run(Seq("07"))
    assert(spark.read.parquet(target).count() == 5)
    // storage-semantics collapse: partitionBy stores "" as the default
    // partition (reads back NULL) — the sink aligns the batch to that,
    // so an ""-keyed row inserts ONCE and its replay is blocked instead
    // of re-appending forever (review r18)
    run(Seq(""))
    assert(spark.read.parquet(target).count() == 6)
    run(Seq(""))
    assert(spark.read.parquet(target).count() == 6)
  }

  test("scale shape (r17 VERDICT #4): at a target ~400x the batch, the " +
    "probe reads batch-bucket index row groups + the uncovered delta, " +
    "not O(target)") {
    val target = tmp("graft_kidx_scale") + "/t"
    // small parquet row groups so row-group pruning is measurable at
    // fixture scale (at 100 TB the default 128 MB groups play this role);
    // AQE off so the executed plan exposes raw FileSourceScan metrics
    spark.conf.set("parquet.block.size", (8 * 1024).toString)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      digestRows(0 until 40000).coalesce(1)
        .write.mode("overwrite").parquet(target)
      KeyIndex.refresh(spark, target, Seq("k"), None)
      // an uncovered delta exactly one "crashed microbatch" big
      digestRows(40000 until 40100).coalesce(1)
        .write.mode("append").parquet(target)
      // 5 keys: 3 covered by the index, 2 in the uncovered delta
      val batch = digestRows(39997 until 40002)
      val pr = KeyIndex.probe(spark, target, Seq("k"), batch)
      assert(pr.manifest.isDefined)
      // execute, then read the scans' own row counters
      assert(pr.frame.join(batch, Seq("k"), "left_semi").count() == 5)
      val probed = pr.frame
      val n = probed.collect().length
      assert(n >= 5)
      val scans = probed.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      val idxRows = scans.filter(_.toString.contains(KeyIndex.DirName))
        .map(_.metrics("numOutputRows").value).sum
      val uncRows = scans.filterNot(_.toString.contains(KeyIndex.DirName))
        .map(_.metrics("numOutputRows").value).sum
      // the uncovered side reads its one delta file, nothing more
      assert(uncRows <= 100, s"uncovered scan read $uncRows rows")
      // the index side reads only the row groups holding the batch's
      // buckets: a 5-bucket batch against 1024 buckets over ~200
      // row-groups must skip the overwhelming majority of the 40k keys
      assert(idxRows > 0 && idxRows < 4000,
        s"index scan read $idxRows of 40000 keys — not bucket-pruned")
      // the shape this replaced: the full keyCols scan reads O(target)
      // (hash keys — the batch envelope prunes nothing)
      val full = StreamingJobs.prunedTargetKeys(spark, target, Seq("k"), batch)
      val fullN = full.collect().length
      val fullScanRows = full.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.map(_.metrics("numOutputRows").value).sum
      assert(fullN <= 40100 && fullScanRows > 35000,
        s"expected the replaced full-scan shape to read O(target), " +
          s"read $fullScanRows")
    } finally {
      spark.conf.unset("parquet.block.size")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("admitNearSink probes through the sidecar (r17 VERDICT #1): index " +
    "at the sig key, replay blocked, crash heals") {
    import spark.implicits._
    def sigOf(i: Int): String = {
      val r = new java.util.Random(0x51600d + i * 7919L)
      (0 until 64).map(_ => if (r.nextBoolean()) '1' else '0').mkString
    }
    val target = tmp("graft_kidx_anear") + "/t"
    val hist = Seq.empty[Tuple1[String]].toDF("sig")
    val schema = Seq((1L, "x")).toDF("id", "sig").schema
    def run(rows: Seq[(Long, String)]): Unit =
      StreamingJobs.withDrainParallelism(spark) {
        val in = tmp("graft_kidx_anear_in")
        rows.toDF("id", "sig").write.mode("overwrite").parquet(in)
        val q = StreamingJobs.admitNearSink(
          spark.readStream.schema(schema).parquet(in), hist, target,
          tmp("graft_kidx_anear_ck"), "id", "sig")
        q.awaitTermination(); q.stop()
      }
    val batch1 = (0 until 300).map(i => (i.toLong, sigOf(i)))
    run(batch1)
    assert(spark.read.parquet(target).count() == 300)
    val fs = hfs(target)
    val m = KeyIndex.readManifest(fs, new Path(target, KeyIndex.DirName))
    assert(m.isDefined && m.get.keyCols == Seq("sig"),
      "admitNearSink built no sig-keyed sidecar")
    // exact replay through a fresh checkpoint: the bucket-pruned probe
    // blocks all 300
    run(batch1)
    assert(spark.read.parquet(target).count() == 300)
    // crash between target append and refresh: rows reach the target,
    // the index never hears of them — the uncovered delta must still
    // prove them on replay, then the refresh heals the manifest forward
    val crashed = (300 until 350).map(i => (i.toLong, sigOf(i)))
    crashed.toDF("id", "sig").write.mode("append").parquet(target)
    run(crashed)
    assert(spark.read.parquet(target).count() == 350)
    val m2 = KeyIndex.readManifest(fs, new Path(target, KeyIndex.DirName)).get
    assert(m2.covered.size > m.get.covered.size, "refresh did not heal")
  }

  test("complex-typed keys (ADVICE r16): array key neither breaks the " +
    "envelope aggregate nor the index; null-safe dedup holds") {
    import spark.implicits._
    val target = tmp("graft_kidx_complex") + "/t"
    def rows(ids: Seq[Option[Int]]): DataFrame =
      ids.map(i => (i.map(v => Seq(s"a$v", s"b$v")), i.getOrElse(-1)))
        .toDF("k", "v")
    drain(rows(Seq(Some(1), Some(2), None)), target)
    // replay + one new key; the all-null key must not re-append (null-safe)
    drain(rows(Seq(Some(2), None, Some(3))), target)
    assert(spark.read.parquet(target).count() == 4)
    // the envelope fallback (no index) analyzes too: no min/max on arrays
    val fs = hfs(target)
    assert(fs.delete(new Path(target, KeyIndex.DirName), true))
    assert(KeyIndex.probe(spark, target, Seq("k"),
      rows(Seq(Some(3), Some(4), None))).manifest.isEmpty)
    drain(rows(Seq(Some(3), Some(4), None)), target)
    assert(spark.read.parquet(target).count() == 5)
  }
}
