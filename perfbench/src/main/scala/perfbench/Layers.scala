package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, from the spans the benchmark recorded
  * around its calls into each layer and the Spark work attributed to them.
  * Every name is reported on every workload; a layer the workload does not
  * call reads 0. Spark counts are per operation (day, request or drop). */
object Layers {
  val Units: Seq[(String, String)] = Seq(
    "gen.inputs_s" -> "s", "spark.session_s" -> "s", "bench.warmup_s" -> "s", "jvm.peak_rss_mb" -> "MB",
    "sources.self_s" -> "s", "pipeline.self_s" -> "s", "serve.self_s" -> "s", "streaming.self_s" -> "s",
    "sources.resolve_s" -> "s", "sources.bytes_read" -> "B",
    "ingest.transform_s" -> "s", "ingest.rows_in" -> "count", "ingest.rows_dropped" -> "count",
    "ingest.dedup_dropped" -> "count", "ingest.shuffle_bytes" -> "B",
    "enrich.municipio_s" -> "s", "enrich.first_match_s" -> "s", "enrich.pairs_per_event" -> "count",
    "enrich.join_rows_per_pair" -> "ratio", "enrich.knn_fallback_ratio" -> "ratio",
    "enrich.unmatched_ratio" -> "ratio",
    "pipeline.day_p50_s" -> "s", "pipeline.refetch_p50_s" -> "s",
    "pipeline.load_enrich_s" -> "s", "pipeline.marts_s" -> "s", "pipeline.check_s" -> "s",
    "pipeline.state_s" -> "s", "pipeline.span_coverage" -> "ratio", "pipeline.jobs_per_day" -> "count",
    "pipeline.driver_gap_s" -> "s", "pipeline.insert_ratio" -> "ratio",
    "pipeline.files_written_per_day" -> "count",
    "marts.jobs_per_day" -> "count", "marts.rows_scanned_per_day" -> "count",
    "marts.partitions_scanned_per_day" -> "count") ++
    ServeLoad.Routes.map(r => s"serve.${r}_ms" -> "ms") ++ Seq("serve.request_p50_ms" -> "ms",
    "serve.planning_ms" -> "ms", "serve.files_scanned_per_req" -> "count",
    "serve.rows_scanned_per_req" -> "count", "serve.jobs_per_req" -> "count",
    "serve.tasks_per_req" -> "count",
    "streaming.query_start_s" -> "s", "streaming.batch_s" -> "s", "streaming.commit_s" -> "s",
    "streaming.batches_per_drop" -> "count", "streaming.files_read_per_batch" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "B", "spark.spill_bytes" -> "B", "spark.planning_s" -> "s",
    "spark.codegen_compiles" -> "count", "spark.driver_gap_s" -> "s")

  /** The per-day stage spans whose sum `pipeline.span_coverage` compares
    * with the day's wall time. */
  val Stages: Set[String] = Set("pipeline.load_enrich", "pipeline.marts", "pipeline.check", "pipeline.state")

  /** Streaming metrics of the drops `ops` (spans `streaming.drop` >
    * `streaming.drain`), from their spans and the streaming listener's
    * counters, which must hold these drops' batches only. */
  def streaming(ops: Seq[OpRec], tracer: Tracer, c: Counters): Map[String, Double] = {
    val trees = ops.map(_.tree).toSet
    val spans = tracer.spans.asScala.toSeq.filter(s => trees(s.tree))
    val files = spans.flatMap(s => Option(tracer.work.get(s.id))).map(_.filesRead.sum).sum.toDouble
    val drains = spans.filter(_.name == "streaming.drain")
    val batches = c.streamBatches.sum.toDouble
    val n = math.max(1, ops.length).toDouble
    Map(
      "streaming.query_start_s" -> (drains.map(s => s.endNs - s.startNs).sum - c.streamTriggerNs.sum) / 1e9 / n,
      "streaming.batch_s" -> c.streamBatchNs.sum / 1e9 / n,
      "streaming.commit_s" -> c.streamCommitNs.sum / 1e9 / n,
      "streaming.batches_per_drop" -> batches / n,
      "streaming.files_read_per_batch" -> files / math.max(1.0, batches),
      "streaming.self_s" -> Spans.selfNs(spans).filter(_._1.startsWith("streaming.")).values.sum / 1e9 / n)
  }

  def compute(wl: String, ops: Seq[OpRec], tracer: Tracer, c: Counters, extra: Map[String, Double],
              compiles: Long): Seq[(String, Double, String)] = {
    val spans = tracer.spans.asScala.toSeq
    val opTrees = ops.map(_.tree).toSet
    val byTree = spans.filter(s => opTrees(s.tree)).groupBy(_.tree)
    val roots = byTree.values.flatMap(_.find(_.parent == 0L)).toSeq
    def work(ss: Seq[Span]): Seq[Work] = ss.flatMap(s => Option(tracer.work.get(s.id)))
    val opWork = work(byTree.values.flatten.toSeq)
    val n = math.max(1, ops.length).toDouble
    def perOp(f: Work => Long): Double = opWork.map(f).sum / n
    def med(name: String): Double = Stats.median(spans.filter(s => s.name == name && opTrees(s.tree)).map(_.durS))
    def named(name: String) = work(spans.filter(s => s.name == name && opTrees(s.tree)))
    def kindMed(k: String, scale: Double) = Stats.median(ops.filter(_.kind == k).map(_.ns / scale))
    val m = scala.collection.mutable.Map[String, Double]()
    m ++= extra
    m("spark.jobs") = perOp(_.jobs.sum); m("spark.stages") = perOp(_.stages.sum)
    m("spark.tasks") = perOp(_.tasks.sum)
    m("spark.executor_run_s") = perOp(_.runNs.sum) / 1e9
    m("spark.executor_cpu_s") = perOp(_.cpuNs.sum) / 1e9
    m("spark.gc_s") = perOp(_.gcMs.sum) / 1e3
    m("spark.shuffle_write_bytes") = perOp(_.shuffleWrite.sum)
    m("spark.spill_bytes") = perOp(_.spill.sum)
    m("spark.planning_s") = perOp(_.planningNs.sum) / 1e9
    m("spark.codegen_compiles") = compiles / n
    m("spark.driver_gap_s") = Stats.median(roots.map(r => Spans.driverGapNs(r, spans, tracer) / 1e9))
    // self time per layer and op: span time not covered by child spans
    Spans.selfNs(byTree.values.flatten.toSeq).groupBy(_._1.takeWhile(_ != '.')).foreach {
      case (layer, v) => m(s"$layer.self_s") = v.values.sum / 1e9 / n
    }

    if (wl == "daily_refetch") {
      m("sources.resolve_s") = med("sources.resolve")
      Seq("load_enrich", "marts", "check", "state").foreach(s => m(s"pipeline.${s}_s") = med(s"pipeline.$s"))
      m("pipeline.day_p50_s") = kindMed("day", 1e9)
      m("pipeline.refetch_p50_s") = kindMed("refetch", 1e9)
      val kids = spans.groupBy(_.parent)
      m("pipeline.span_coverage") = roots.map { r =>
        kids.getOrElse(r.id, Nil).filter(k => Stages(k.name)).map(k => k.endNs - k.startNs).sum.toDouble /
          (r.endNs - r.startNs)
      }.minOption.getOrElse(0.0)
      m("pipeline.jobs_per_day") = perOp(_.jobs.sum)
      m("pipeline.driver_gap_s") = m("spark.driver_gap_s")
      m("pipeline.files_written_per_day") = perOp(_.filesWritten.sum)
      val marts = named("pipeline.marts")
      m("marts.jobs_per_day") = marts.map(_.jobs.sum).sum / n
      m("marts.rows_scanned_per_day") = marts.map(_.rowsScanned.sum).sum / n
      m("marts.partitions_scanned_per_day") = marts.map(_.partitionsRead.sum).sum / n
    }
    if (wl == "dashboard_serve") {
      ServeLoad.Routes.foreach(r => m(s"serve.${r}_ms") = kindMed(r, 1e6))
      m("serve.request_p50_ms") = Stats.median(ops.map(_.ns / 1e6))
      m("serve.planning_ms") = perOp(_.planningNs.sum) / 1e6
      m("serve.files_scanned_per_req") = perOp(_.filesRead.sum)
      m("serve.rows_scanned_per_req") = perOp(_.rowsScanned.sum)
      m("serve.jobs_per_req") = perOp(_.jobs.sum)
      m("serve.tasks_per_req") = perOp(_.tasks.sum)
    }
    if (wl == "stream_drops") {
      m ++= streaming(ops, tracer, c)
      val pairs = opWork.map(_.pairs.sum).sum.toDouble
      m("enrich.pairs_per_event") = pairs / math.max(1.0, ops.map(_.events).sum.toDouble)
      m("enrich.join_rows_per_pair") = opWork.map(_.joinOut.sum).sum / math.max(1.0, pairs)
    }
    Units.map { case (name, unit) => (name, m.getOrElse(name, 0.0), unit) }
  }
}
