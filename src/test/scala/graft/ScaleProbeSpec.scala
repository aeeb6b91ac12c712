package graft

import org.scalatest.funsuite.AnyFunSuite

/** CI ratio assertions over [[ScaleProbe]] — the 10×-scale evidence used to
  * live only in README notes and commit messages; here a scale regression
  * (an accidental all-pairs join, a window that went corpus-global, a
  * driver-side loop that grew with the input) fails a test, not a vibe.
  *
  * Runs at sf0.001 where a 10× replication is cheap. Ceilings are set for
  * signal, not precision: at this scale fixed overhead dominates, so a
  * scale-linear operator lands well under 13× (typically 2–8×) while a
  * quadratic regression does ~100× the work and blows far past it.
  * Connected components is pinned tighter: the probe graph has fixed
  * diameter, so rounds stay constant and cost must track edges (~linear,
  * measured 1.2× at sf0.1) — a ceiling of 4× leaves noise headroom while
  * still catching a rounds-grow-with-n or state-not-shrinking regression.
  */
class ScaleProbeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val timings: Map[String, ScaleProbe.Timing] =
    // configure() sets nanosAsLong — without it a TIMESTAMP(NANOS)
    // testdata generation fails the events scan (order-dependently, when
    // no earlier suite has configured the shared session)
    ScaleProbe.run(SparkEntry.configure(spark), sf, mult = 10)
      .map(t => t.op -> t).toMap

  private val linearCeiling = 13.0
  private val ccCeiling = 4.0

  /** One retry for TIMING-ratio exceedances only: under full-suite load a
    * single probe sample can stall past the ceiling on a machine blip
    * (round-18 driver run: 13.9× under suite co-tenancy, 9/9 passing in
    * isolation). Re-measure JUST the offending operators once and fail only
    * if the fresh sample exceeds too — a genuinely super-linear operator
    * does ~100× the work at 10× data, so it cannot pass the retry, which
    * keeps the assertion's catch-a-quadratic intent intact while removing
    * the co-tenancy flake. Memory/spill assertions get no retry: they are
    * not load-sensitive. */
  private def confirmOver(over: Set[String], ceiling: Double): Map[String, ScaleProbe.Timing] =
    if (over.isEmpty) Map.empty
    else {
      val retry = ScaleProbe.run(SparkEntry.configure(spark), sf, mult = 10,
        only = over).map(t => t.op -> t).toMap
      retry.filter { case (_, t) => t.ratio > ceiling }
    }

  test("scale probe: flagship operators stay ~linear at 10x (ceiling 13x)") {
    val linear = timings.keySet - "connected_components"
    val over = confirmOver(
      linear.filter(op => timings(op).ratio > linearCeiling), linearCeiling)
    assert(over.isEmpty, over.map { case (op, t) =>
      f"$op: ${t.t1}%.2fs -> ${t.tN}%.2fs (${t.ratio}%.1fx) on first run AND retry"
    }.mkString("; "))
  }

  test("scale probe: connected components cost tracks edges, not rounds " +
    "(fixed-diameter graph, ceiling 4x)") {
    val first = timings("connected_components")
    val over = confirmOver(
      Set("connected_components").filter(_ => first.ratio > ccCeiling), ccCeiling)
    assert(over.isEmpty, over.map { case (_, t) =>
      f"CC: ${t.t1}%.2fs -> ${t.tN}%.2fs (${t.ratio}%.1fx) exceeds " +
        f"$ccCeiling%.1fx on first run AND retry"
    }.mkString("; "))
  }

  test("scale probe: memory footprint scales like the data, not worse " +
    "(CC + LSH, ceiling 13x over a 1 MiB floor)") {
    // the regression time alone can't see: an operator that stays
    // time-linear by CACHING corpus-super-linear state. State for both of
    // these is data-proportional by design (active subgraph / banded
    // shingle projections), so 10x data may cost ~10x memory — never ~100x
    for (op <- Seq("connected_components", "dedup_minhash_lsh")) {
      val t = timings(op)
      assert(t.memRatio <= linearCeiling,
        f"$op memory: ${t.mem1} -> ${t.memN} bytes " +
          f"(${t.memRatio}%.1fx) exceeds $linearCeiling%.1fx")
    }
  }

  test("100x-shaped probes: CC rounds stay O(log d) at 100x edges; " +
    "incremental-dedup batch cost is history-size-independent") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    def consume(df: org.apache.spark.sql.DataFrame): Unit = {
      df.queryExecution.toRdd.count(); ()
    }
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // --- CC: fixed-diameter graph (disjoint 4-node chains) at 1x and
    // 100x the edge count. Rounds must NOT grow (that is the O(log d)
    // claim — d is fixed), and cost must stay far from edge-linear's
    // worst case at this fixed-overhead-dominated scale.
    def ccRun(nChains: Int): (Double, Int) = {
      val nodes = spark.range(1, nChains * 4L + 1).toDF("id")
      val pairs = spark.range(0, nChains.toLong).select(col("id").as("k"))
        .select(col("k"), explode(array(lit(1L), lit(2L), lit(3L))).as("o"))
        .select((col("k") * 4 + col("o")).as("a"),
          (col("k") * 4 + col("o") + 1).as("b"))
      spark.conf.set("spark.graft.cc.localEdgeThreshold", "0") // iterative path
      try {
        val t = time(consume(
          Dedup.connectedComponents(nodes, "id", pairs, "a", "b")))
        (t, Dedup.lastCcRounds.get)
      } finally {
        spark.conf.unset("spark.graft.cc.localEdgeThreshold")
        CacheRegistry.unpersistAll(spark, blocking = true); ()
      }
    }
    ccRun(30) // warm the loop's plan shapes
    val (tCc1, r1) = ccRun(300)      //    900 edges
    val (tCc100, r100) = ccRun(30000) // 90,000 edges
    // ≤ 2 pins the round-17 double-hop round: a 4-node chain is one
    // two-hop propagation round plus the hop-1-only confirmation round
    assert(r100 <= r1 && r100 <= 2,
      s"CC rounds grew with edges on a fixed-diameter graph: $r1 -> $r100")
    assert(tCc100 / tCc1 <= 8.0,
      f"CC at 100x edges cost ${tCc100 / tCc1}%.1fx " +
        f"($tCc1%.2fs -> $tCc100%.2fs, rounds $r1 -> $r100)")

    // --- incremental dedup: the SAME 50-doc batch admitted against a
    // standing history mart at 1x and 100x docs (vocab-salted replicas, so
    // near-dup structure is per-replica and posting lists stay realistic).
    // The mart (digests + shingles + signatures) is materialized OUTSIDE
    // the timed region — the production standing artifact — so the timing
    // is the per-batch probe cost the 100 TB claim is about.
    def salted(df: org.apache.spark.sql.DataFrame, k: Int) =
      df.select(col("doc_id"), col("text"),
          explode(sequence(lit(0), lit(k - 1))).as("__rep"))
        .select((col("doc_id") + col("__rep").cast("long") * 1000000000L).as("doc_id"),
          concat_ws(" ",
            expr("transform(split(text, ' '), w -> concat(w, '_r', __rep))")).as("text"))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    // half the batch duplicates replica-0 history rows (exact digests hit
    // at BOTH scales), half is fresh
    val batch = salted(docs.limit(50), 1)
      .select((col("doc_id") + 5000000000L).as("doc_id"), col("text"))
    def admitTime(k: Int): Double = {
      val mart = Dedup.dedupHistoryMart(salted(docs, k), "doc_id", "text")
      consume(mart) // standing artifact: built+cached outside the timing
      consume(Dedup.incrementalDedupPrepped(mart, batch, "doc_id", "text")) // warm
      val t = (1 to 3).map(_ => time(consume(
        Dedup.incrementalDedupPrepped(mart, batch, "doc_id", "text")))).min
      CacheRegistry.unpersistAll(spark, blocking = true)
      t
    }
    val tInc1 = admitTime(1)
    val tInc100 = admitTime(100)
    assert(tInc100 / tInc1 <= 8.0,
      f"incremental-dedup batch admit at 100x history cost " +
        f"${tInc100 / tInc1}%.1fx ($tInc1%.2fs -> $tInc100%.2fs)")
  }

  test("CC byte-budget edge: driver union-find and the two-hop loop agree " +
    "on a propagation-limited graph (multi-round on the loop side)") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    // The OperatorQualitySpec boundary tests pin the conf gate on graphs
    // that converge at init; here the SAME budget edge is pinned on a graph
    // the two-hop loop has to actually iterate (a 64-node chain, diameter
    // 63), so the equivalence covers the round structure — hop 1, hop 2,
    // pointer jump, hop-1 early exit — not just the degenerate first round.
    val chain = (100L until 163L).map(i => (i, i + 1))       // 63 edges
    val extras = Seq((500L, 501L), (502L, 503L), (504L, 505L),
      (600L, 601L), (600L, 602L))                            // 5 edges
    val edges = chain ++ extras                              // 68 edges
    import spark.implicits._
    val nodes = ((100L to 163L) ++ (500L to 505L) ++ (600L to 602L) ++
      Seq(900L, 901L)).toDF("id")                            // + singletons
    val pairs = edges.toDF("a", "b").persist()
    def run(threshold: Long): (Map[Long, Long], Int) = {
      spark.conf.set("spark.graft.cc.localEdgeThreshold", threshold.toString)
      try {
        val m = Dedup.connectedComponents(nodes, "id", pairs, "a", "b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        (m, Dedup.lastCcRounds.get)
      } finally {
        spark.conf.unset("spark.graft.cc.localEdgeThreshold")
        CacheRegistry.unpersistAll(spark, blocking = true); ()
      }
    }
    val budget = edges.size.toLong                   // 68 edges
    val (fastLabels, fastRounds) = run(budget)       // at budget → driver
    val (loopLabels, loopRounds) = run(budget - 1L)  // one edge under → loop
    assert(fastRounds == 0, s"expected driver fast path at the edge budget, " +
      s"rounds=$fastRounds")
    assert(loopRounds >= 2,
      s"loop converged in $loopRounds round(s) on a 63-edge chain — the " +
        "graph no longer exercises the multi-round two-hop structure")
    assert(fastLabels == loopLabels,
      "driver union-find and the two-hop loop diverged at the edge budget " +
        s"edge (rounds=$loopRounds)")
    assert(fastLabels(163L) == 100L && fastLabels(505L) == 504L &&
      fastLabels(602L) == 600L && fastLabels(900L) == 900L)
    pairs.unpersist()
  }

  test("containmentPairs maxDf: capped candidates track MATCHES, not " +
    "postings² (boilerplate-shingle skew fixture)") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    // B unrelated docs all sharing one boilerplate 5-word run (each pair's
    // ONLY common shingle), plus one genuine containment pair. Uncapped,
    // the boilerplate posting list alone yields ~B² candidate pairs; the
    // maxDf cap must make output INDEPENDENT of B — the stop-token
    // catastrophe this guard exists for.
    def fixture(b: Int) = {
      import spark.implicits._
      val boiler = "standard license header words five"
      val quote = "alpha bravo charlie delta echo foxtrot golf hotel"
      ((1 to b).map(i => (i.toLong + 100L, s"$boiler u${i}a u${i}b u${i}c u${i}d u${i}e")) ++
        Seq((1L, quote),
          (2L, s"prefix tokens then $quote trailing run november oscar papa " +
            "quebec romeo sierra tango uniform victor whiskey")))
        .toDF("doc_id", "text")
    }
    def rows(b: Int, maxDf: Long): Long = {
      val n = Dedup.containmentPairs(fixture(b), "doc_id", "text", lit(1),
        shingleSize = 5, num = 1, den = 10, maxDf = maxDf).count()
      CacheRegistry.unpersistAll(spark, blocking = true)
      n
    }
    val uncapped30 = rows(30, 0L)
    assert(uncapped30 >= 30L * 29L,
      s"fixture lost its boilerplate blowup: $uncapped30")
    val capped30 = rows(30, 5L)
    val capped120 = rows(120, 5L)
    assert(capped30 == capped120,
      s"capped output grew with boilerplate corpus size: $capped30 -> $capped120")
    assert(capped30 == 2L, // the genuine pair, both directions at 1/10
      s"cap dropped genuine containment: $capped30")
  }

  test("semanticDedup with k ∝ N stays ~linear at 10x (the production " +
    "parameterization — the sf1 run showed fixed k grows cells with the " +
    "corpus and within-cell pair work superlinearly)") {
    import org.apache.spark.sql.functions._
    import graft.operators.{Dedup, Similarity}
    def vecs(n: Int) = spark.range(0, n.toLong, 1, 8)
      .select(col("id"), expr(
        "transform(sequence(0, 15), i -> " +
          "cast(pmod(hash(id, i), 997) as double) / 997.0)").as("v"))
    def run(n: Int, k: Int): Double = {
      val df = vecs(n).cache()
      df.count()
      // centroids are the coarse quantizer — fit OUTSIDE the timing (a
      // standing artifact in production, like the IVF quantizer)
      val cents = Similarity.kmeansFit(df, "id", "v", k = k, iters = 2)
      def consume() = Dedup.semanticDedup(df, "id", "v", cents, threshold = 0.9)
        .queryExecution.toRdd.count()
      consume() // warm the plan shape
      val t0 = System.nanoTime()
      consume()
      val t = (System.nanoTime() - t0) / 1e9
      df.unpersist()
      CacheRegistry.unpersistAll(spark, blocking = true)
      t
    }
    run(500, 4) // JIT/codegen warm
    val t1 = run(2000, 8)
    val t10 = run(20000, 80) // k scales with N → cell size ~constant
    assert(t10 / t1 <= 8.0,
      f"semanticDedup at 10x with k∝N cost ${t10 / t1}%.1fx " +
        f"($t1%.2fs -> $t10%.2fs) — cells are not staying bounded")
  }

  test("scan layout: a multi-file parquet layout parallelizes the " +
    "scan stage the single-row-group local artifact serializes") {
    val (tOne, tMany) = ScaleProbe.scanLayout(spark, sf)
    // ideal speedup is bounded by the session's core count: the shared
    // test session runs local[4] (~3-3.5x real), the sf0.1 evidence run
    // (ScaleProbe main, local[32]) documents the >=4x form in the README
    val cores = spark.sparkContext.defaultParallelism
    val floor = if (cores >= 16) 4.0 else 2.0
    assert(tOne / tMany >= floor,
      f"single-file $tOne%.2fs vs $tMany%.2fs multi-file — " +
        f"expected >= $floor%.1fx on $cores cores")
  }

  test("scale probe: no operator spills at 10x (state mis-sizing shows as " +
    "spill long before it shows as wall time)") {
    // zero-spill is only an ENGINE claim when the box has the memory to
    // honor it: on a constrained JVM a fine, data-proportional operator can
    // legitimately spill. Below the heap floor, require instead that spill
    // stays proportional (≤8× the 1× spill over a 64 MiB floor) — state
    // super-linearity still fails, environment pressure doesn't.
    val spilled = timings.values.filter(_.spillN > 0)
    if (Runtime.getRuntime.maxMemory >= (4L << 30)) {
      assert(spilled.isEmpty, spilled.map(t =>
        s"${t.op}: ${t.spillN} bytes spilled").mkString("; "))
    } else {
      val bad = spilled.filter(t => t.spillN > 8L * math.max(t.spill1, 64L << 20))
      assert(bad.isEmpty, bad.map(t =>
        s"${t.op}: spill ${t.spill1} -> ${t.spillN} bytes (super-proportional)")
        .mkString("; "))
    }
  }
}
