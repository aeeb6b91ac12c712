package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the properties that decide 100 TB behavior, pinned
  * as tests so a refactor that silently loses a pushdown/broadcast fails CI.
  * Runs against sf0.001 (plan shape is scale-invariant).
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  /** AQE prints WholeStageCodegen spans only once the plan is final —
    * execute, then read the final plan. */
  private def executedPlan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, sf)
    df.queryExecution.toRdd.count()
    df.queryExecution.executedPlan.toString
  }

  test("p11_api_where: predicates reach the parquet scan") {
    val p = plan("p11_api_where")
    assert(p.contains("PushedFilters: [") && p.contains("IsNotNull"),
      s"no pushed filters:\n$p")
    // column pruning: only the needed columns are read
    val read = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(!read.contains("props"), s"props column not pruned: $read")
  }

  test("sample_stratified: per-stratum top-k rides the WindowGroupLimit rank " +
    "pushdown — no reducer materializes a full stratum") {
    val p = plan("sample_stratified")
    assert(p.contains("WindowGroupLimit"),
      s"stratum cap not pushed into a group limit:\n$p")
    assert(!p.contains("ScalaUDF"), p)
  }

  test("ingest_orc_partitioned: ORC scan prunes partitions and pushes the value " +
    "predicate down") {
    val p = plan("ingest_orc_partitioned")
    assert(p.contains("Format: ORC"), s"not an ORC scan:\n$p")
    // partition-column filter prunes directories, never reads rows
    assert("PartitionFilters: \\[[^\\]]*event_type".r.findFirstIn(p).isDefined,
      s"event_type not a partition filter:\n$p")
    // value predicate reaches the ORC reader
    assert("PushedFilters: \\[[^\\]]*value_milli".r.findFirstIn(p).isDefined,
      s"value predicate not pushed into the ORC scan:\n$p")
  }

  test("a8_fact_cube: shuffle join + partial/final hash aggregation") {
    val p = plan("a8_fact_cube")
    assert(p.contains("HashAggregate"), p)
    assert("partial_count|partial_".r.findFirstIn(p).isDefined,
      s"no map-side partial aggregation:\n$p")
  }

  test("j2_pip_join: dimension broadcast, bbox conjuncts evaluated with the join") {
    val p = plan("j2_pip_join")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("min_lon"), "bbox prefilter columns missing from join condition")
  }

  test("enrichMunicipio: one broadcast nested-loop join and one window — the " +
    "exact match and the 2 km fallback are one ranked join") {
    import spark.implicits._
    def rect(x0: Double, x1: Double) =
      Seq(Seq(Seq(Seq(x0, 0.0), Seq(x1, 0.0), Seq(x1, 10.0), Seq(x0, 10.0), Seq(x0, 0.0))))
    val muns = Seq(("1100015", "Alpha", "RO", 5000.0, rect(0, 10), 0.0, 0.0, 10.0, 10.0),
        ("1100023", "Beta", "AC", 7000.0, rect(10.5, 20), 10.5, 0.0, 20.0, 10.0))
      .toDF("cd_mun", "nm_mun", "uf", "area_km2", "geom", "min_lon", "min_lat", "max_lon", "max_lat")
    val facts = Seq(("h1", 5.0, 5.0), ("h2", 10.49, 5.0), ("h3", 10.25, 5.0))
      .toDF("event_hash", "lon", "lat")
    val df = graft.enrich.Enrich.enrichMunicipio(facts, muns)
    df.queryExecution.toRdd.count()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1, p)
    assert("""\bWindow\b""".r.findAllIn(p).size == 1, p)
  }

  test("j6_dim_rollup: both dimensions broadcast — fact side never shuffles for the join") {
    val p = plan("j6_dim_rollup")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
  }

  test("t1_topn: sort+limit fuses into TakeOrderedAndProject") {
    val p = plan("t1_topn")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("a1_daily_mart: the REAL municipality mart — broadcast dim joins, " +
    "one agg exchange + one output sort, whole-stage codegen") {
    // split at the AQE appendix: the final-plan string repeats every
    // exchange under "== Initial Plan =="
    val p = executedPlan("a1_daily_mart").split("== Initial Plan ==")(0)
    // codegen'd operators print with the *(stageId) marker
    assert("\\*\\(\\d+\\) HashAggregate".r.findFirstIn(p).isDefined, p)
    // the enriched proxy's customer/nation joins must broadcast — the
    // fact side never shuffles for a dimension
    assert(!p.contains("SortMergeJoin"), s"dim join fell back to SMJ:\n$p")
    // shuffles: exactly the mart's agg hash exchange + the ORDER BY range
    // exchange (broadcast exchanges are dim-sized, not data shuffles)
    val shuffles = "Exchange (hash|range)partitioning".r.findAllIn(p).size
    assert(shuffles <= 2, s"more than agg+sort shuffles ($shuffles):\n$p")
  }

  test("dedup_exact: one hash shuffle on the digest, nothing more") {
    val p = plan("dedup_exact")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p)
  }

  test("sim_topk_brute: query side broadcast — corpus scanned once, no corpus shuffle") {
    val p = plan("sim_topk_brute")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("sim_topk_lsh: probe side broadcast — corpus never shuffles for the bucket join") {
    val p = plan("sim_topk_lsh")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("dedup_minhash_lsh: the shingle projection is cached and reused across subtrees") {
    val p = plan("dedup_minhash_lsh")
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
      s"withShingles persist() lost — banded and verify subtrees re-shingle the corpus:\n$p")
  }

  test("dedup_jaccard_words: every Window is block-partitioned (no global sort task)") {
    val p = plan("dedup_jaccard_words")
    // row_number windows must partition by block — a Window whose
    // partition spec is empty funnels the vocabulary through one task
    val windows = "(?s)Window .{0,400}?windowspecdefinition\\([^\\)]*\\)".r.findAllIn(p).toList
    assert(windows.nonEmpty, s"expected a row_number window in the plan:\n$p")
    windows.foreach { w =>
      assert(w.contains("block"), s"un-partitioned window in plan:\n$w")
    }
  }

  test("text_pii_scrub: pure codegen regexp fold — no UDF, no shuffle before the output sort") {
    val p = plan("text_pii_scrub")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
    // row-local work: the only exchange is the rangepartitioning of the
    // deterministic output ORDER BY
    assert(!"Exchange hashpartitioning".r.findFirstIn(p).isDefined,
      s"PII scrub introduced a hash shuffle:\n$p")
  }

  test("sample_split: row-local hashing — no UDF, no hash shuffle") {
    val p = plan("sample_split")
    assert(!p.contains("ScalaUDF"), p)
    assert(!"Exchange hashpartitioning".r.findFirstIn(p).isDefined, p)
  }

  test("skew_salted_agg: two aggregation stages, hot-key exchange keyed by (key, salt)") {
    val p = plan("skew_salted_agg")
    // stage-1 exchange must include the salt so a hot key spreads; stage-2
    // combines per key
    val exs = "Exchange hashpartitioning\\([^\\)]*\\)".r.findAllIn(p).toList
    assert(exs.exists(_.contains("__salt")),
      s"no salted exchange — hot keys funnel to one reducer:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4, // partial+final × 2 stages
      s"missing two-stage aggregation:\n$p")
  }

  test("web_domain_cap: two-phase top-K — salted partial rank precedes the per-domain " +
    "rank, and WindowGroupLimit prunes both phases") {
    val p = plan("web_domain_cap")
    // phase-1 exchange must carry the salt so a hot template domain spreads
    // over salts reducers; phase 2 re-keys on the domain alone
    val exs = "Exchange hashpartitioning\\([^\\)]*\\)".r.findAllIn(p).toList
    assert(exs.exists(e => e.contains("__tksalt") && e.contains("reg_domain")),
      s"no salted phase-1 exchange — a hot domain funnels to one reducer:\n$p")
    assert(exs.exists(e => e.contains("reg_domain") && !e.contains("__tksalt")),
      s"missing phase-2 per-domain exchange:\n$p")
    assert("Window ".r.findAllIn(p).size >= 2, s"expected both rank windows:\n$p")
    // rank<=k is a WindowGroupLimit in both phases: each reducer keeps k
    // rows per group while sorting, instead of ranking everything
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"rank filter did not fuse into WindowGroupLimit:\n$p")
    // the PSL lookup is one opaque codegen node — no Expand, no UDF
    assert(!p.contains("Expand") && !p.contains("ScalaUDF"),
      s"registered-domain lookup must stay a single codegen node:\n$p")
  }

  test("a3_daily_uf: area dim broadcasts — the fact side never shuffles for the join") {
    val p = plan("a3_daily_uf")
    assert(p.contains("BroadcastHashJoin"), s"area join must broadcast:\n$p")
  }

  test("stats_approx_quantiles: every window is group-partitioned (no global sort funnel)") {
    val p = plan("stats_approx_quantiles")
    val windows = "(?s)Window .{0,400}?windowspecdefinition\\([^\\)]*\\)".r.findAllIn(p).toList
    assert(windows.nonEmpty, s"expected the audit's row_number window:\n$p")
    windows.foreach(w => assert(w.contains("event_type"),
      s"un-partitioned window in the quantile audit:\n$w"))
  }

  test("stats_mad_outliers: rank logic rides the (type, value) count collapse — " +
    "the corpus hash-aggregates, every window is group-partitioned and bounded") {
    val p = plan("stats_mad_outliers")
    assert("keys=\\[event_type#\\d+, value#\\d+\\]".r.findFirstIn(p).nonEmpty,
      s"expected the (event_type, value) count collapse:\n$p")
    val windows = "(?s)Window .{0,400}?windowspecdefinition\\([^\\)]*\\)".r.findAllIn(p).toList
    assert(windows.nonEmpty, s"expected the cumulative count windows:\n$p")
    windows.foreach(w => assert(w.contains("event_type"),
      s"un-partitioned window in the MAD pipeline:\n$w"))
  }

  test("quality_winsorize: thresholds and the clipped sum ride the same count " +
    "collapse (one corpus aggregation, no full-rank window)") {
    val p = plan("quality_winsorize")
    assert("keys=\\[event_type#\\d+, value#\\d+\\]".r.findFirstIn(p).nonEmpty,
      s"expected the (event_type, value) count collapse:\n$p")
    val windows = "(?s)Window .{0,400}?windowspecdefinition\\([^\\)]*\\)".r.findAllIn(p).toList
    windows.foreach(w => assert(w.contains("event_type"),
      s"un-partitioned window in winsorize:\n$w"))
  }

  test("corpus_epoch_shuffle: rank window partitioned by shard (pmod projected to _w0)") {
    val p = plan("corpus_epoch_shuffle")
    val specs = "windowspecdefinition\\(([^,]+),".r.findAllMatchIn(p).map(_.group(1)).toList
    assert(specs.nonEmpty, s"expected the in-shard rank window:\n$p")
    // a partitioned spec leads with a plain partition column; an
    // UNpartitioned one leads with an ordering ("... ASC NULLS FIRST")
    specs.foreach { first =>
      assert(!first.contains("ASC") && !first.contains("DESC"),
        s"rank window not shard-partitioned (leads with ordering $first):\n$p")
      // …and that partition attribute must be the projected SHARD key —
      // bind the windowspec's first arg back to its pmod(...) alias so a
      // refactor partitioning by some other column cannot sneak past
      assert(("pmod\\([^)]*\\)[^\\n]* AS " + java.util.regex.Pattern.quote(first.trim))
        .r.findFirstIn(p).isDefined,
        s"window partition attr ${first.trim} is not the pmod shard key:\n$p")
    }
  }

  test("profile_table: no Expand — per-column distincts aggregate as set partials in one job") {
    val p = plan("profile_table")
    assert(!p.contains("Expand"),
      s"multi-distinct Expand re-appeared (×ncols row multiplication):\n$p")
    assert("Exchange".r.findAllIn(p).size <= 1, s"more than the one 1-row shuffle:\n$p")
    assert(p.contains("collect_set") || p.contains("partial_collect_set"),
      s"set-partial aggregation missing:\n$p")
  }

  test("dynamic partition pruning: a selective dim filter prunes fact partitions at runtime") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    try {
      // date-partitioned fact (the day-keyed mart layout) + FILE-backed dim:
      // a LocalRelation dim gets its Filter constant-folded away before the
      // PartitionPruning rule looks for a selective predicate — exactly why
      // the marts join on the raw partition column against stored dims
      (0 until 2000).map(i => (i.toLong, f"2024-01-${i % 20 + 1}%02d"))
        .toDF("id", "day")
        .write.mode("overwrite").partitionBy("day").parquet(dir)
      (1 to 20).map(d => (f"2024-01-$d%02d", if (d <= 2) "hot" else "cold"))
        .toDF("day", "tag").write.mode("overwrite").parquet(dir + "_dim")
      val joined = spark.read.parquet(dir)
        .join(spark.read.parquet(dir + "_dim").filter(col("tag") === "hot"), "day")
      joined.queryExecution.toRdd.count()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("dynamicpruning"),
        s"no dynamic partition pruning on the partitioned fact scan:\n$p")
      assert(p.contains("SubqueryBroadcast"),
        s"DPP did not reuse the join's broadcast:\n$p")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir + "_dim"))
    }
  }

  test("co-bucketed tables join with NO exchange (write-time shuffle amortized)") {
    import spark.implicits._
    val a = (1 to 500).map(i => (i.toLong, s"a$i")).toDF("k", "va")
    val b = (1 to 500).map(i => (i.toLong, i * 2.0)).toDF("k", "vb")
    graft.marts.Marts.writeBucketed(a, "bkt_a", 4, Seq("k"))
    graft.marts.Marts.writeBucketed(b, "bkt_b", 4, Seq("k"))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"),
        s"co-bucketed join still shuffles — bucket metadata lost:\n$p")
      assert(joined.count() == 500)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
    }
  }

  test("dedup_incremental: every join is an equi-join — postings probe, digest lookup, never a nested loop") {
    val p = plan("dedup_incremental")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Join"), p)
    // the candidate dedup before the verify join is a real aggregation
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
  }

  test("dedup_image_near: banded 16-bit-chunk equi-join — no UDF in the " +
    "pair join, never a nested loop / cartesian (the image twin of the " +
    "simhash pigeonhole pin)") {
    val p = plan("dedup_image_near")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Join"), p)
    // the signature projection is cached so the self-join's two sides
    // don't re-decode every image
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
      s"withSig persist() lost — both join sides re-hash the corpus:\n$p")
  }

  test("dedup_winnow: codegen kernel (no UDF), gram equi-join, never a nested loop") {
    val p = plan("dedup_winnow")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Join"), p)
  }

  test("text_decontaminate: hash-payload equi-join, no UDF, no nested loop") {
    val p = plan("text_decontaminate")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"), p)
  }

  test("scd2_merge: exactly ONE join (the full-outer classify), no window, no nested loop") {
    val p = plan("scd2_merge")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), s"SCD2 must not need a window:\n$p")
    val joins = "Join".r.findAllIn(p).size
    assert(joins >= 1, p)
    // SortMergeJoin/ShuffledHashJoin/BroadcastHashJoin each print one
    // operator line containing 'Join'; the merge is single-join by design
    val joinOps = p.linesIterator.count(l => l.contains("Join") && !l.contains("ReusedExchange"))
    assert(joinOps == 1, s"expected exactly one join operator, got $joinOps:\n$p")
  }

  test("dedup_video_near: candidate generation is an equi-join on the " +
    "frame content key — no cartesian/nested-loop pair enumeration") {
    val p = plan("dedup_video_near")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"all-pairs shape in the video near-dup join:\n$p")
    assert(p.contains("Join"), p) // the key equi-join is present
  }

  test("crawl_build_pipeline: robots admission is a broadcast join, never " +
    "a shuffled self-join that re-executes the WARC build+parse lineage") {
    val p = plan("crawl_build_pipeline")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"robots rules not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"admission shuffled — the verdict self-join shape is back:\n$p")
    // the WARC fixture build (the first typed mapPartitions over the
    // documents scan) must appear in exactly ONE subtree: a verdict frame
    // joined back onto the same lineage would print the documents scan
    // twice (no cache/reuse in this query)
    val docScans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("documents"))
    assert(docScans == 1, s"expected one documents scan, got $docScans:\n$p")
  }

  test("text_bpe_encode: dictionary encode — the interpreted merge folds run on DISTINCT words only") {
    val p = plan("text_bpe_encode")
    // the fold (aggregate HOF) must sit above the distinct-vocab aggregate,
    // not on the per-occurrence explode side: exactly one explode feeds a
    // HashAggregate before any aggregate-lambda projection appears
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("BroadcastNestedLoop"), p)
  }

  test("stream_sessionize (batch form): session window agg with map-side partials") {
    val p = plan("stream_sessionize")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
    assert(p.contains("session_window") || p.contains("SessionWindow"), p)
  }

  test("bm25_topk: query-term pruning precedes the postings shuffle, top-k rank is " +
    "group-limit-pushed, pruned postings cached for the df and scoring subtrees") {
    // audit the OPERATOR plan: the gate query now reads the shared
    // bm25Rank20 mart, whose cache scan hides the build plan from toString
    val p = operators.Retrieval.bm25TopK(
        spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text",
        Seq(0L -> "fast table scan", 1L -> "window agg stream merge"), k = 10)
      .queryExecution.executedPlan.toString
    // Spark 3.5+ WindowGroupLimit truncates each map partition to k before
    // the query-keyed shuffle — no reducer sorts a full candidate list
    assert(p.contains("WindowGroupLimit"), s"rank filter not pushed into a group limit:\n$p")
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
      s"pruned postings not cached — corpus exploded twice:\n$p")
    // the only corpus-wide hash shuffles are the pruned (doc, dl, term) agg
    // and the (query, doc) score sum; the full-vocabulary tf must NOT shuffle
    val bigShuffles = "Exchange hashpartitioning\\((doc_id|query_id)[^\\)]*\\)".r
      .findAllIn(p).toList
    assert(bigShuffles.nonEmpty, p)
    assert(!p.contains("ScalaUDF"), p)
  }

  test("filter_blocklist_bloom: might_contain is a literal-sketch codegen predicate; " +
    "the clean branch reaches the union with NO join") {
    val p = plan("filter_blocklist_bloom")
    assert(p.contains("might_contain"), s"bloom predicate missing from plan:\n$p")
    assert(!p.contains("ScalaUDF"), p)
    assert(p.contains("Union"), p)
    // exactly one join operator (the candidate branch's FP-removing anti)
    val joinOps = p.linesIterator.count(l =>
      l.contains("Join") && !l.contains("ReusedExchange"))
    assert(joinOps == 1, s"expected one anti-join, got $joinOps:\n$p")
  }

  test("stats_zscore_outliers: moment frame broadcasts back, top-k is TakeOrdered (no global sort)") {
    val p = plan("stats_zscore_outliers")
    assert(p.contains("TakeOrderedAndProject"), s"global top-k not a TakeOrdered merge:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"moment frame did not broadcast:\n$p")
  }

  test("quality_percentile_gate: the corpus-sized row_number window is bin-partitioned " +
    "(the only global windows run on the aggregated bin frame)") {
    val p = plan("quality_percentile_gate")
    val windows = "(?s)Window \\[row_number.{0,300}?windowspecdefinition\\([^,]*".r
      .findAllIn(p).toList
    assert(windows.nonEmpty, s"expected a row_number window:\n$p")
    windows.foreach(w => assert(w.contains("windowspecdefinition(q"),
      s"corpus row_number window not partitioned by the score bin:\n$w"))
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
      s"scored frame not cached — corpus scored twice:\n$p")
  }

  test("dedup_substring: no joins at all — occurrence counting is a window over the gram key, " +
    "and the island agg reuses the doc-key partitioning") {
    val p = plan("dedup_substring")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"span detection must not pair-join (skew-safe by construction):\n$p")
    // shuffles: gram-key window + doc-key window + the output range sort;
    // the (id, isl) HashAggregate must NOT add a fourth — hash(id) already
    // clusters its keys
    val hashEx = "Exchange hashpartitioning\\([^\\)]*\\)".r.findAllIn(p).toList
    assert(hashEx.size <= 2, s"expected ≤2 hash shuffles (gram window, doc window):\n$p")
    assert(!p.contains("ScalaUDF"), s"gram hashing must stay codegen:\n$p")
  }

  test("sessionize_batch: ONE exchange end to end — the (user, session) rollup " +
    "reuses the window's user-hash partitioning") {
    val p = plan("sessionize_batch")
    val shuffles = "Exchange hashpartitioning\\([^\\)]*\\)".r.findAllIn(p).toList
    assert(shuffles.size == 1, s"expected exactly 1 hash exchange:\n$p")
    assert(shuffles.head.contains("user_id"), s"exchange not on user_id:\n$p")
    assert(!p.contains("ScalaUDF"), s"gap logic must stay codegen:\n$p")
  }

  test("agg_cube_gid: all four grouping sets in ONE Expand + one aggregation shuffle") {
    val p = plan("agg_cube_gid")
    assert("Expand".r.findAllIn(p).size == 1, s"expected a single Expand:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected a single aggregation shuffle:\n$p")
    assert("partial_".r.findFirstIn(p).isDefined,
      s"cube must combine map-side:\n$p")
  }

  test("zorder_layout: stats broadcast back, Morton code is codegen (no UDF), " +
    "one bucket-rollup shuffle") {
    val p = plan("zorder_layout")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"min/max stats must broadcast, not shuffle the fact side:\n$p")
    assert(!p.contains("ScalaUDF"), s"Morton interleave must stay codegen:\n$p")
    val shuffles = "Exchange hashpartitioning\\([^\\)]*\\)".r.findAllIn(p).toList
    assert(shuffles.size == 1 && shuffles.head.contains("bucket"),
      s"expected one bucket-rollup shuffle:\n$p")
  }

  test("merge_upsert: exactly ONE full-outer join — no window, no second pass") {
    val p = plan("merge_upsert")
    assert("FullOuter".r.findAllIn(p).size == 1, s"expected one full-outer:\n$p")
    assert("(?i)join".r.findAllIn(p).size <= 2, // the one join, maybe AQE echo
      s"extra joins crept in:\n$p")
    assert(!p.contains("Window"), s"no window expected:\n$p")
  }

  test("quality_winsorize / stats_mad_outliers: every window is event_type-partitioned " +
    "(no global sort), thresholds broadcast back") {
    for (q <- Seq("quality_winsorize", "stats_mad_outliers")) {
      val p = plan(q)
      val specs = "windowspecdefinition\\([^,)]*".r.findAllIn(p).toList
      assert(specs.nonEmpty, s"$q: expected windows:\n$p")
      specs.foreach(w => assert(w.contains("event_type"),
        s"$q: window not partitioned by event_type: $w"))
      assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
        s"$q: thresholds should broadcast:\n$p")
    }
  }

  test("embed_pca_power: one partial-agg shuffle of 64 pos-groups — the " +
    "update sums combine map-side, rows never shuffle") {
    val p = plan("embed_pca_power")
    assert("partial_".r.findFirstIn(p).isDefined,
      s"no map-side partial aggregation:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 1, s"one exchange expected:\n$p")
    assert(!p.contains("Window") && !"(?i)join".r.findFirstIn(p).isDefined,
      s"pure scan+agg expected:\n$p")
  }

  test("embed_pca_project: zero-exchange codegen scan — the trained " +
    "component rides as a literal") {
    val p = executedPlan("embed_pca_project")
    assert(!p.contains("Exchange"), s"projection must not shuffle:\n$p")
    assert("\\*\\(\\d+\\) Project".r.findFirstIn(p).isDefined,
      s"projection should be whole-stage codegen:\n$p")
  }

  test("funnel_steps: step frontiers join on the user key only — no nested loop " +
    "against events; the final conv join broadcasts the 1-row base") {
    val p = plan("funnel_steps")
    assert(!p.contains("CartesianProduct"), s"no cartesian allowed:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"only the 1-row conv-base join may be nested-loop:\n$p")
    assert(p.contains("event_type = view") || p.contains("event_type#"),
      s"step filters missing:\n$p")
  }

  test("retrieval_rrf_fusion: both rankers group-limit-pushed, fusion shuffle is " +
    "ranking-sized, no cartesian candidate generation") {
    val p = plan("retrieval_rrf_fusion")
    // the two input rank windows AND the fused top-k all truncate map-side
    assert("WindowGroupLimit".r.findAllIn(p).size >= 3,
      s"a rank filter lost its group-limit pushdown:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"jaccard candidates must come from the pruned postings join:\n$p")
    assert(!p.contains("ScalaUDF"), p)
  }

  test("quality_dsir_weights: the 256-bucket model broadcasts back; the only wide " +
    "shuffles are bucket counts and the per-doc sum") {
    val p = plan("quality_dsir_weights")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"bucket model must broadcast, not shuffle-join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no sort-merge join belongs in this plan:\n$p")
    assert(!p.contains("ScalaUDF"), p)
  }

  test("dedup_containment: inverted-index self-join — no cartesian, no UDF; " +
    "verification is the pair groupBy itself") {
    val p = plan("dedup_containment")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"containment must candidate via the (block, shingle) equi-join:\n$p")
    assert(!p.contains("ScalaUDF"), s"shingling must be the codegen kernel:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("dedup_keep_best: the pick is a cluster-partitioned window — the only global " +
    "sort is the output orderBy") {
    val p = plan("dedup_keep_best")
    assert("Window .*cluster_id".r.findFirstIn(p).isDefined ||
      p.contains("windowspecdefinition(cluster_id"),
      s"keep-best window must partition by cluster:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("quality_ccnet_buckets: no corpus-wide global sort — the total window runs " +
    "on the distinct-score bin frame only") {
    val p = plan("quality_ccnet_buckets")
    // binnedRank's global window follows the score-bin aggregate; a corpus
    // window would show a Sort+Window directly over the scored rows with no
    // intervening aggregate. The bin aggregate must be present.
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
    assert(!p.contains("ScalaUDF"), p)
  }

  test("quality_ccnet_buckets: ranking score is quantized — the bin frame stays " +
    "bounded (not one bin per doc)") {
    // the plan pin above cannot catch cardinality: a raw e8 score still
    // produces a HashAggregate, just a corpus-sized one. Pin the contract
    // numerically — milli-nat bins must collapse docs by orders of
    // magnitude (at sf0.001: 500 docs → a few dozen bins).
    import org.apache.spark.sql.functions._
    val docs = SparkEntry.queries("text_lm_score")(spark, sf)
    val nDocs = docs.count()
    val nBins = docs
      .select(expr("(nll_e8 div greatest(n_toks, 1L)) div 100000L").as("b"))
      .distinct().count()
    assert(nBins * 4 <= nDocs,
      s"quantized score has $nBins bins for $nDocs docs — not bounded")
  }

  test("quality_gopher_rules: row-local codegen — no shuffle before the output sort, no UDF") {
    val p = executedPlan("quality_gopher_rules")
    // the only exchange is the final global orderBy's range partitioning
    assert(!p.contains("Exchange hashpartitioning"),
      s"a row-local gate must not hash-shuffle:\n$p")
    assert(!p.contains("ScalaUDF"), p)
    // codegen'd operators print with the *(stageId) marker
    assert("\\*\\(\\d+\\) Project".r.findFirstIn(p).isDefined, p)
  }

  test("web_url_canonical: row-local codegen'd string normalization — no shuffle " +
    "before the output sort, no UDF") {
    val p = executedPlan("web_url_canonical")
    assert(!p.contains("Exchange hashpartitioning"),
      s"canonicalization must stay a scan-stage projection:\n$p")
    assert(!p.contains("ScalaUDF"), p)
    assert("\\*\\(\\d+\\) Project".r.findFirstIn(p).isDefined, p)
  }

  test("web_host_stats: single distinct aggregate plans two-phase without " +
    "an Expand of the canonicalized stream") {
    val p = executedPlan("web_host_stats")
    assert(!p.contains("Expand"), s"host rollup must not Expand:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("text_char_entropy: row-local histogram — no corpus explode, no " +
    "hash shuffle before the output sort") {
    val p = executedPlan("text_char_entropy")
    assert(!p.contains("Exchange hashpartitioning"),
      s"the per-doc char histogram must not shuffle:\n$p")
    assert(!p.toLowerCase.contains("generate"), // explode would print Generate
      s"entropy must not explode the corpus:\n$p")
  }

  test("quality_repetition_rules: all metrics row-local kernels — no shuffle " +
    "before the output sort, no explode, no UDF") {
    val p = executedPlan("quality_repetition_rules")
    assert(!p.contains("Exchange hashpartitioning"),
      s"repetition screens must not shuffle:\n$p")
    assert(!p.toLowerCase.contains("generate"), // explode would print Generate
      s"repetition screens must not explode the corpus:\n$p")
    assert(!p.contains("ScalaUDF"), p)
  }

  test("dedup_lines_indoc: row-local kernel — no shuffle before the output " +
    "sort, no UDF, codegen projection") {
    val p = executedPlan("dedup_lines_indoc")
    assert(!p.contains("Exchange hashpartitioning"),
      s"in-doc line dedup must not shuffle:\n$p")
    assert(!p.contains("ScalaUDF"), p)
    assert("\\*\\(\\d+\\) Project".r.findFirstIn(p).isDefined, p)
  }

  test("split_cluster_aware: digest-keyed shuffles only — the corpus text " +
    "never reaches a join payload twice, audit joins as a broadcast, and " +
    "the per-cluster distincts don't Expand the member stream") {
    val p = executedPlan("split_cluster_aware")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"1-row audit must broadcast:\n$p")
    assert(p.contains("HashAggregate"), p)
    // two countDistincts in one agg would rewrite through Expand —
    // collect_set partials keep the member stream single-width
    assert(!p.contains("Expand"), s"member stream must not Expand:\n$p")
  }

  test("stats_drift_windows: the monitored corpus is aggregated ONCE — " +
    "win_tot comes from a partitioned window over the bin frame, not a " +
    "second corpus aggregate") {
    val p = executedPlan("stats_drift_windows").split("== Initial Plan ==").head
    // partial+final pairs for (monitored bins, reference bins, refTot,
    // final drift) plus AQE stage splits — the bound catches a REPEATED
    // corpus aggregate (which would add a pair + its exchange)
    assert("HashAggregate".r.findAllIn(p).size <= 10,
      s"unexpected aggregate count:\n$p")
    assert(p.contains("Window"), s"win_tot must be a window, not a join:\n$p")
    assert(!p.contains("Exchange hashpartitioning(bin"),
      s"no bin-keyed re-shuffle expected:\n$p")
  }

  test("stats_ks_drift: ONE corpus hash aggregate; windows run on the bin frame") {
    // count only the AQE final-plan section (toString repeats the
    // exchanges in its "Initial Plan" appendix)
    val p = executedPlan("stats_ks_drift").split("== Initial Plan ==").head
    // corpus → bin counts is the only hash exchange; the single-partition
    // window exchange operates on the aggregated bin frame (bounded by
    // value-range × binsPerUnit), and the top-1 is a TakeOrdered merge
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected exactly one corpus shuffle:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"sup must be a top-1 merge:\n$p")
  }

  test("warmup rows are real query rows") {
    val names = Queries.queries.keySet
    val missing = (Queries.warmupRows ++ Queries.warmupShuffledJoinRows).filterNot(names)
    assert(missing.isEmpty, s"warmup names with no query row: $missing")
  }

  test("warmupPlans runs its rows over the snapshots without throwing") {
    // own child session: the warmup's memoized snapshot marts are evicted
    // afterwards without touching the shared session's entries
    val s = SparkEntry.configure(spark.newSession())
    try Queries.warmupPlans(s, sf)
    finally { CacheRegistry.unpersistAll(s, blocking = true); () }
  }
}
