package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  /** Consume every row of the physical plan (not `.count()`, which lets
    * Catalyst prune all projected columns and time only the scan). */
  private def consume(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Host-health canary: a FIXED pure-JVM single-thread workload (integer
    * polynomial fold + a small allocation churn), timed and recorded as
    * `host_probe_sec` in the bench JSON. Identical code across rounds, so
    * the field separates machine-state drift from engine changes — the
    * round-10/11 adjudication problem (stream_admit_history 13.2 s vs
    * 1.33 s on a bit-identical commit) becomes machine-readable: a probe
    * far above its historical band marks the whole artifact as taken on a
    * degraded host. ~0.3 s on a healthy box. */
  private def hostProbeSec(): Double = {
    val t0 = System.nanoTime()
    var h = 1125899906842597L
    var i = 0
    while (i < 150000000) { h = h * 31 + i; i += 1 }
    val arr = new Array[Long](1 << 20)
    var j = 0
    while (j < arr.length) { arr(j) = h + j; j += 1 }
    var s = 0L
    j = 0
    while (j < arr.length) { s ^= arr(j); j += 1 }
    // fold the results into a visible side effect so the JIT cannot elide
    if ((h ^ s) == 42L) System.err.println("host-probe collision")
    (System.nanoTime() - t0) / 1e9
  }

  /** Same arithmetic split across every core: the round-12 r11→r12 bench
    * comparison showed a degradation mode the SERIAL probe is blind to —
    * single-thread compute normal (0.16 s) while every Spark row inflated
    * ~1.65× uniformly, i.e. the host lost effective PARALLEL capacity
    * (noisy neighbor / scheduler throttling), not scalar speed. The pair
    * (serial, parallel) separates the two: parallel ≈ serial/cores means
    * a healthy box; parallel ≫ serial/cores with serial normal means
    * cross-core contention — compare BOTH before reading row deltas. */
  private def hostProbeParSec(): Double = {
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val threads = (0 until cores).map { t =>
      new Thread(() => {
        var h = 1125899906842597L + t
        var i = 0
        while (i < 150000000) { h = h * 31 + i; i += 1 }
        if (h == 42L) System.err.println("host-probe collision")
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Degradation verdict over the in-loop canary series: any sample above
    * 3× the series minimum means the host lost capacity at some point
    * DURING the query loop (heavy-tail stall phase). Failed canary runs
    * arrive as the -1 sentinel: they measured nothing, so they are
    * excluded from the ratio — but any failure ALSO flags degraded (a
    * canary that cannot run cannot vouch for the window). Pure so the
    * flag logic is unit-testable against synthetic stall series
    * (BenchSpec). */
  private[graft] def isDegraded(samples: Seq[Double]): Boolean = {
    val clean = samples.filter(s => s > 0 && !s.isInfinity)
    samples.exists(s => !(s > 0) || s.isInfinity) ||
      (clean.size >= 2 && clean.max > 3.0 * clean.min)
  }

  /** FS settle barrier (round-17 VERDICT #3): the driver runs the
    * correctness gate in the same session right before this bench, and
    * the gate's warehouse writes (Verify outDir + /tmp scratch, real
    * disk) leave dirty pages whose background writeback lands INSIDE the
    * timed loop — the FS-heavy rows (`layout_partition_prune`,
    * `mart_bucketed_join`, `layout_compact_files`, `mm_build_pipeline`)
    * swung 3–7× between same-probe windows with zero code cause. `sync`
    * flushes that backlog here, OUTSIDE any timing; the short sleep lets
    * the elevator drain. Also sweeps stale `graft_bench_*` scratch roots
    * left by earlier invocations in the same driver session (each run
    * gets a fresh root, see below) so tmpfs never accumulates and no
    * timed overwrite inherits deletion work. SPARK_GRAFT_FS_SETTLE=0
    * skips both (spec runs / hosts without a sync binary). */
  private def fsSettle(scratchParent: String, keepRoot: String): Unit = {
    if (sys.env.getOrElse("SPARK_GRAFT_FS_SETTLE", "1") == "0") return
    try {
      val dir = new java.io.File(scratchParent)
      // only roots idle for >2h are reaped: a normal run deletes its own
      // root on exit, so an old root is a crashed session's leftover —
      // while a RECENT root may belong to a concurrently running
      // invocation whose live checkpoints must not vanish mid-loop
      val cutoff = System.currentTimeMillis() - 2L * 3600 * 1000
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("graft_bench") &&
          f.getAbsolutePath != keepRoot && f.lastModified < cutoff)
        .foreach(deleteRecursively)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] scratch sweep failed (continuing): $e") }
    try {
      // bounded wait: sync flushes EVERY filesystem, and one wedged
      // mount (stale NFS/fuse) would otherwise hang the bench before it
      // prints anything — a partial flush plus the settle sleep is
      // strictly better than no barrier
      val p = new ProcessBuilder("sync").inheritIO().start()
      if (!p.waitFor(60, java.util.concurrent.TimeUnit.SECONDS)) {
        p.destroyForcibly()
        System.err.println("[bench] sync timed out after 60s (continuing)")
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] sync unavailable (continuing): $e") }
    Thread.sleep(1500)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    // never FOLLOW a directory symlink (isDirectory is true for one):
    // recursing through it would delete files outside the scratch root —
    // unlink the link itself instead
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(); ()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // per-run scratch root (round-17 VERDICT #3): a FIXED root shared
    // across invocations let one run's leftovers add deletion work to the
    // next run's first overwrite of the same path — and the correctness
    // gate's churn reached the bench through it. Unique per run, swept
    // here at startup and deleted on exit.
    val scratchRoot = s"/dev/shm/graft_bench_${System.currentTimeMillis()}"
    // shutdown hook, not an end-of-main delete: a run that throws
    // mid-loop (failing query, OOM) must still return its multi-GB
    // tmpfs root — the startup sweep deliberately leaves roots younger
    // than 2h alone (they may be a live concurrent run), so a crash
    // leak would survive exactly the crash-retry window where it hurts
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try deleteRecursively(new java.io.File(scratchRoot))
      catch { case _: Throwable => () }))
    fsSettle("/dev/shm", scratchRoot)
    // probe BEFORE the Spark session spins up (clean JVM, no competing
    // executor threads) — the value reflects the host, not the workload
    val hostProbe = hostProbeSec()
    val hostProbePar = hostProbeParSec()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // the bench tables are single small parquet files, which scan as ONE
      // input partition — every CPU-heavy scan stage (tokenize/md5/explode)
      // would run single-threaded on a 32-core box, a local artifact a real
      // corpus (many files / many row groups) never has. Splitting the scan
      // to ≥ one partition per core restores the parallelism the same plan
      // gets at cluster scale.
      .config("spark.sql.files.minPartitionNum", cpus)
      // same artifact post-shuffle: AQE's coalescer targets its 1 MiB
      // minPartitionSize floor, which packs a sf0.1-sized shuffle (~2-3 MiB)
      // into 1-3 partitions and serializes the CPU-heavy stage after it
      // (tokenize/window/agg ran 0.5-0.9 s on one core of 32: compare a
      // row's layers spark.executor_run_s with spark.tasks and its wall
      // time). At cluster scale partitions are far above
      // any floor, so only the local bench needs it lowered.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // see Queries.fanOut: repartition ahead of CPU-heavy per-row stages to
      // undo the one-row-group/one-task local scan artifact; never set on a
      // real cluster, where scans already split
      .config("spark.graft.fanOutInputs", "true")
      // bench micro-streams carry a few thousand rows; 32 state-store
      // partitions per microbatch is per-task overhead, not parallelism
      // (see StreamingJobs.withDrainParallelism)
      // round-10 sweep picked 16; re-swept in round 12 AFTER the
      // finalWatermarkFlush skip landed and 8 now wins on both row
      // classes (flush-keeping rows -17%, flush-skipping rows -6%): the
      // skip removed the fixed no-data batch whose cost was partition-
      // independent, leaving per-partition state-store open/commit as
      // the dominant term
      .config("spark.graft.streamDrainPartitions", "8")
      // throwaway sink/checkpoint scratch on tmpfs: the lifecycle rows
      // (pipeline_*, stream_*, ingest roundtrips) are bounded by local-disk
      // fsync latency, which is bench-box environment, not engine cost
      .config("spark.graft.scratchRoot", scratchRoot)
      // let AQE coalesce the output partitioning of persisted frames: an
      // operator-internal mart (pruned postings, bigram streams) otherwise
      // caches at spark.sql.shuffle.partitions partitions however tiny it
      // is, and every consumer stage then schedules that many tasks
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", SparkEntry.CodegenCacheMaxEntries)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    LogHygiene.quietKnownBenign()
    // JVM/codegen/file-listing warmup so the first timed query isn't charged
    // for session startup (round-2 bench showed 3.8 s vs 0.15 s steady-state).
    // a12_distinct_days: a lineitem scan+shuffle with NO memoized mart —
    // a1_daily_mart (the previous warmup row) now runs the REAL municipality
    // mart over the memoized enrichedProxy, and warming it here would hide
    // the proxy's build cost from the timed loop instead of charging it to
    // the alphabetically first consumer per the timing contract
    SparkEntry.queries.get("a12_distinct_days")
      .foreach(fn => try consume(fn(spark, sfDir)) catch { case _: Throwable => })
    // warmup failures must not kill the run BUT must be LOUD: a swallowed
    // mid-warmup throw silently skips every remaining warmup row and the
    // first timed rows absorb 1-3 s of Janino/JIT — an artifact that reads as an
    // engine regression with no host-probe signal to exonerate it
    def warm(what: String)(body: => Unit): Unit =
      try body catch { case e: Throwable =>
        System.err.println(s"[bench] WARMUP ABORTED ($what): " +
          s"${e.getClass.getSimpleName}: ${e.getMessage} — one-shot timings " +
          "downstream of this point include first-use compilation")
      }
    // shared serve inputs are persisted marts in production — warm once here
    warm("warmupShared")(Queries.warmupShared(spark, sfDir))
    // compile the heavy dedup/LSH codegen classes on a tiny slice so the
    // one-shot timings below measure execution, not Janino compilation
    warm("warmupPlans")(Queries.warmupPlans(spark, sfDir))
    // optional comma-separated filter for local iteration (unset in CI)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // default 2: "queries" stays the ONE-SHOT (first-run) timing — fully
    // comparable with earlier rounds — and the second run puts the
    // steady-state decomposition (what a warm service pays once shared
    // marts/Janino are amortized) into the driver's own artifact instead
    // of only the README. Costs ~one extra minute per full run.
    // clamped to >= 1: REPEAT=0 would make times.head throw AFTER the full
    // multi-minute warmup, with no artifact written
    val repeat = math.max(1,
      sys.env.get("SPARK_GRAFT_REPEAT").map(_.toInt).getOrElse(2))
    // per-row layer metrics of the one-shot run (file artifacts only)
    val metrics = RunMetrics.setup(spark)
    // In-loop degradation canary (round-15): the serial/parallel host
    // probes run BEFORE the query loop, so a heavy-tail stall phase that
    // starts mid-run (the BENCH_r14 failure mode: probes near-normal,
    // individual rows 10-100× inflated) is invisible to them. A FIXED
    // tiny Spark query — generated input (no IO), codegen string+hash
    // work, one small shuffle, same plan every round — runs before the
    // loop, after every 20th query, and after the loop; the sample series
    // ships in the artifact and any sample > 3× the series minimum flags
    // the whole artifact "degraded": true, making a bad-window artifact
    // self-adjudicating.
    val canary: DataFrame = spark.range(0, 200000, 1, 8)
      .select((org.apache.spark.sql.functions.col("id") % 997).as("k"),
        org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.lit("canary"),
            org.apache.spark.sql.functions.col("id"))).as("h"))
      .groupBy("k")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.max("h").as("m"))
    // warm once so samples measure execution, not Janino compilation
    try consume(canary) catch { case _: Throwable => () }
    val canarySamples = scala.collection.mutable.ArrayBuffer[Double]()
    def sampleCanary(): Unit = {
      val t0 = System.nanoTime()
      // a FAILED canary run measures nothing: record the sentinel -1
      // (excluded from the verdict's min/max), never its time-to-throw —
      // a 5 ms failure sample would make every healthy sample look >3×
      // the minimum and flag a clean run degraded
      try { consume(canary); canarySamples += (System.nanoTime() - t0) / 1e9 }
      catch { case _: Throwable => canarySamples += -1.0 }
    }
    // sorted: Map iteration order shifts whenever a query is added, which
    // silently re-attributes shared memoized builds (e.g. the jaccard pair
    // mart) to whichever consumer happens to run first — name order keeps
    // per-query timings comparable across rounds
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // SPARK_GRAFT_EXPLAIN=1: print each selected query's formatted physical
    // plan (pre-execution, so AQE final shapes still show as initial) to
    // stderr before timing — the .explain feedback loop for plan iteration
    val doExplain = sys.env.contains("SPARK_GRAFT_EXPLAIN")
    sampleCanary()
    val results = selected.zipWithIndex.map { case ((name, fn), qi) =>
      if (qi > 0 && qi % 20 == 0) sampleCanary()
      if (doExplain) {
        System.err.println(s"==== EXPLAIN $name ====")
        try System.err.println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        catch { case e: Throwable => System.err.println(s"explain failed: $e") }
      }
      def run(): Double = {
        val t0 = System.nanoTime()
        val ok =
          try { consume(fn(spark, sfDir)); true } catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
              false
          }
        // a failed iteration must never masquerade as a (fast) timing; if
        // every iteration failed, report -1 so the JSON is loud too
        if (ok) (System.nanoTime() - t0) / 1e9 else Double.PositiveInfinity
      }
      // the one-shot run is the measured interval, so its layer metrics
      // describe exactly the time reported in "queries"
      val (first, layers) = metrics.measure(run())
      val times = first +: (2 to repeat).map(_ => run())
      def clean(v: Double) = if (v.isInfinity) -1.0 else v
      // "queries"/"value" are the FIRST run — the one-shot contract every
      // round has reported; best-of-rest is the steady-state split
      (name, clean(times.head),
        if (times.size > 1) clean(times.tail.min) else -1.0, layers)
    }
    sampleCanary()
    val qs = results.map { case (k, v, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // the headline total sums PASSING rows only: folding the -1 failure
    // sentinels in would make a lost row read as a speedup in any
    // round-over-round total comparison (per-row -1s stay in "queries")
    val total = results.map(_._2).filter(_ > 0).sum
    val canarySeq = canarySamples.toSeq
    val degraded = isDegraded(canarySeq)
    val canaryJson = canarySeq // Locale.ROOT: f"" uses the default locale
      .map(v => String.format(java.util.Locale.ROOT, "%.4f", Double.box(v)))
      .mkString("[", ",", "]")
    val steadySuffix = if (repeat > 1) {
      val ss = results.map { case (k, _, s, _) => s"\"" + k + "\":" + s }
        .mkString("{", ",", "}")
      s""","steady":$ss"""
    } else ""
    // the artifact documents its own timing contract so downstream parsers
    // can't misread the r9 schema change (value/queries switched from
    // best-of-N to first-run) or read memoized-mart rows as independent
    val contract = "value and queries are FIRST-RUN one-shot timings; " +
      s"steady is best-of-remaining (repeat=$repeat); queries run in name " +
      "order and rows sharing a memoized mart (e.g. embed_pq_codes and " +
      "sim_topk_pq share the PQ codebooks; bm25_topk and " +
      "retrieval_rrf_fusion share the ranking mart; the a3-a9 mart family " +
      "shares the enriched-fact proxy) charge the build to " +
      "the alphabetically first consumer, so such one-shot rows are not " +
      "independent measurements"
    val fields = s"""{"metric":"total","value":$total,"unit":"sec","bench_schema":2,"host_probe_sec":$hostProbe,"host_probe_par_sec":$hostProbePar,"canary_sec":$canaryJson,"degraded":$degraded,"timing_contract":"$contract","queries":$qs$steadySuffix,"sf":"$sfDir""""
    val line = fields + "}"
    // per-row RunMetrics of the one-shot run: file copies only, since a
    // full run's layers would overflow the byte-bounded stdout capture
    val layersJson = results.map { case (k, _, _, m) =>
      s"\"$k\":" + m.toSeq.sorted.map { case (mk, v) =>
        s"\"$mk\":" + java.math.BigDecimal.valueOf(v).stripTrailingZeros.toPlainString
      }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val fileLine = fields + s""","layers":$layersJson}"""
    if (degraded) System.err.println(
      s"[bench] DEGRADED WINDOW: canary series $canaryJson has a sample " +
        "> 3x its minimum — treat every row in this artifact as suspect")
    // self-preserving artifact: the driver's stdout capture tail-truncates
    // on a full 210-row run (BENCH_r12 lost ~150 per-query numbers to
    // "parsed": null), so the full line, with the layers map, is ALSO
    // written to a file that a later commit can preserve for cross-round
    // comparison. stdout keeps the one-JSON-line contract unchanged.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_last.json")
    // TWO copies: the mutable bench_last.json pointer (cheap to find), and
    // a timestamp-stamped immutable file under bench/ — bench_last.json is
    // overwritten by EVERY invocation including ad-hoc adjudication runs,
    // which once destroyed a full end-of-round artifact; the stamped copy
    // makes that impossible. SPARK_GRAFT_BENCH_STAMPED=0 disables the
    // stamped copy (spec runs).
    val stamped =
      if (sys.env.getOrElse("SPARK_GRAFT_BENCH_STAMPED", "1") == "0") Nil
      else {
        val dir = java.nio.file.Paths.get("bench")
        Seq(dir.resolve(s"bench_${System.currentTimeMillis()}_${results.length}q.json"))
      }
    (java.nio.file.Paths.get(outPath) +: stamped).foreach { pth =>
      try {
        if (pth.getParent != null) java.nio.file.Files.createDirectories(pth.getParent)
        // atomic tmp+move: a reader (the driver's PERF comparison, a
        // concurrent adjudication script) must never observe a half-written
        // bench_last.json — the r17 round lost its entire per-query PERF
        // table to a truncated capture, so the file copies are the
        // authoritative artifact and must be all-or-nothing
        // (per-process tmp name: two concurrent runs writing the same
        // artifact path must not overwrite each other's tmp file)
        val tmp = pth.resolveSibling(
          s"${pth.getFileName}.${ProcessHandle.current().pid()}.tmp")
        java.nio.file.Files.write(tmp, (fileLine + "\n").getBytes("UTF-8"))
        try java.nio.file.Files.move(tmp, pth,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
          java.nio.file.Files.move(tmp, pth,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING); ()
        }
        ()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $pth: $e") }
    }
    // stop BEFORE the println so the one-line JSON is the LAST stdout this
    // process emits (r18 VERDICT item 2: the driver's tail capture is
    // byte-bounded, and every stdout byte after the JSON line — session
    // teardown noise, trailers — eats into what survives of it)
    try spark.stop() catch { case e: Throwable =>
      System.err.println(s"[bench] spark.stop failed (continuing): $e") }
    println(line)
    // the shutdown hook registered at startup deletes scratchRoot on
    // every exit path, normal or thrown
  }
}
