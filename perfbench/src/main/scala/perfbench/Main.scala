package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed operation: a pipeline day, a dashboard request or a stream drop. */
final case class OpRec(kind: String, tree: String, ns: Long, events: Long, ok: Boolean, msg: String)

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val counters: Counters, val work: Path,
                val seed: Long, val geo: GeoDims) {
  def span[A](name: String, tree: String = "")(body: => A): A = tracer.span(name, tree)(body)
}

/** A workload: inputs, set-up (repeated; the last one is measured), the
  * measured loop, and the traced run's direct layer calls. */
trait Workload {
  /** How many times `setup` runs; `setup_s` is their median. */
  def setupReps: Int
  def gen(): Unit
  def setup(rep: Int): Unit
  /** Once, after the set-ups and outside `setup_s`: first use of the code
    * paths the measured loop takes (JIT, codegen), on inputs or a store
    * the measured loop does not use. */
  def warmup(): Unit
  def measure(deadlineNs: Long): Seq[OpRec]
  /** Layer metrics only the traced run computes (direct calls, ratios),
    * and the checked operations those calls made. */
  def traced(): (Map[String, Double], Seq[OpRec]) = (Map.empty, Nil)
  /** Bytes and events held by the store the measured loop wrote to. */
  def store(): (Long, Long)
}

object Main {
  private val born = System.nanoTime()
  /** Progress on stderr (the result goes to stdout). */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - born) / 1e9}%7.2fs] $msg")
  val Workloads = Seq("daily_refetch", "dashboard_serve", "stream_drops")

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = Paths.get(a("work"))
    if (a.get("mode").contains("gen-check")) { genCheck(a("seed").toLong, work); return }
    val wl = a("workload")
    require(Workloads.contains(wl), s"unknown workload $wl (one of ${Workloads.mkString(", ")})")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"

    val t0 = System.nanoTime()
    val geo = new GeoDims(seed)
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val tracer = new Tracer(trace, spark)
      val counters = new Counters(tracer)
      if (trace) {
        spark.sparkContext.addSparkListener(counters)
        spark.streams.addListener(counters.streaming)
      }
      val ctx = new Ctx(spark, tracer, counters, work, seed, geo)
      val w: Workload = wl match {
        case "daily_refetch" => new Refetch(ctx)
        case "dashboard_serve" => new Dashboard(ctx)
        case "stream_drops" => new StreamDrops(ctx)
      }
      log(f"session $sessionS%.2fs")
      val g0 = System.nanoTime(); w.gen(); val genS = (System.nanoTime() - g0) / 1e9
      log(f"inputs $genS%.2fs")
      val setups = (0 until w.setupReps).map { rep =>
        val s0 = System.nanoTime(); w.setup(rep); val s = (System.nanoTime() - s0) / 1e9
        log(f"setup $rep $s%.2fs"); s
      }
      val w0 = System.nanoTime(); w.warmup(); val warmupS = (System.nanoTime() - w0) / 1e9
      log(f"warm-up $warmupS%.2fs")
      org.apache.spark.graftbridge.ListenerBridge.flush(spark.sparkContext)
      tracer.spans.clear(); tracer.work.clear()
      counters.resetStream()
      val cg0 = codegenCompiles()
      val l0 = System.nanoTime()
      val ops = w.measure(l0 + (seconds * 1e9).toLong)
      val loopNs = System.nanoTime() - l0
      log(s"measured ${ops.length} ops: " + ops.groupBy(_.kind).map { case (k, v) =>
        f"$k n=${v.length} p50=${Stats.median(v.map(_.ns / 1e6))}%.0fms" }.mkString(" "))
      val compiles = codegenCompiles() - cg0
      val (extra, tracedOps) = if (trace) w.traced() else (Map.empty[String, Double], Nil)
      org.apache.spark.graftbridge.ListenerBridge.flush(spark.sparkContext)
      val (bytes, events) = w.store()

      val ms = ops.map(_.ns / 1e6)
      val evs = ops.map(_.events).sum.toDouble
      val throughput = if (wl == "dashboard_serve") ops.length / (loopNs / 1e9)
                       else evs / (ops.map(_.ns).sum / 1e9)
      val e2e = Seq(
        ("op_mean_ms", ms.sum / math.max(1, ms.length), "ms"),
        ("throughput", throughput, "1/s"),
        ("setup_s", Stats.quantile(setups.sorted, 0.5), "s"),
        ("store_bytes_per_event", bytes.toDouble / math.max(1L, events), "B"))
      val layer = if (trace) Layers.compute(wl, ops, tracer, counters,
        extra ++ Map("bench.warmup_s" -> warmupS, "gen.inputs_s" -> genS, "spark.session_s" -> sessionS,
          "jvm.peak_rss_mb" -> peakRssMb()), compiles) else Nil
      val checked = ops ++ tracedOps
      checked.filterNot(_.ok).take(5).foreach(o => log(s"FAILED ${o.kind} ${o.tree}: ${o.msg}"))
      a.get("spans").foreach(p => if (trace) writeSpans(Paths.get(p), tracer))
      val detail = Json.obj(Seq(
        "workload" -> Json.str(wl), "seed" -> seed.toString, "ops" -> ops.length.toString,
        "loop_s" -> Json.num(loopNs / 1e9), "gen_s" -> Json.num(genS), "session_s" -> Json.num(sessionS),
        "warmup_s" -> Json.num(warmupS),
        "op_ms" -> Json.arr(ops.map(o => Json.num(o.ns / 1e6))),
        "setup_reps_s" -> Json.arr(setups.map(Json.num)),
        "op_kinds" -> Json.obj(ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, v) =>
          k -> Json.obj(Seq("n" -> v.length.toString,
            "p50_ms" -> Json.num(Stats.quantile(v.map(_.ns / 1e6).sorted, 0.5))))
        }),
        "spark_version" -> Json.str(spark.version), "peak_rss_mb" -> Json.num(peakRssMb()),
        "e2e" -> Json.obj(e2e.map { case (n, v, _) => n -> Json.num(v) })))
      println("DETAIL " + detail)
      val shown = if (trace) layer else e2e
      val metrics = Json.obj(shown.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
      println(Json.obj(Seq(
        "correct" -> (checked.forall(_.ok) && ops.nonEmpty).toString,
        "attempted" -> checked.length.toString,
        "failed" -> checked.count(!_.ok).toString,
        "metrics" -> metrics)))
    } finally spark.stop()
  }

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.graft.scratchRoot", work.resolve("scratch").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.SparkEntry.configure(s)
  }

  private def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  private def writeSpans(p: Path, t: Tracer): Unit = {
    Files.createDirectories(p.getParent)
    val lines = t.spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "tree" -> Json.str(s.tree),
        "name" -> Json.str(s.name), "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString))
    }
    Files.write(p, (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }

  /** Generate every workload's inputs twice for one seed and compare bytes. */
  private def genCheck(seed: Long, work: Path): Unit = {
    def once(dir: Path): String = {
      val g = new GeoDims(seed)
      val dump = new StringBuilder
      (g.municipios ++ g.biomes ++ g.ucs ++ g.tis).foreach(f =>
        dump.append(s"${f.id};${f.code};${f.name};${f.uf};${f.area};${f.ring.mkString(" ")}\n"))
      Files.createDirectories(dir)
      Files.write(dir.resolve("dims.txt"), dump.toString.getBytes(UTF_8))
      val start = LocalDate.parse("2024-08-01")
      (0 until 3).foreach { k =>
        val f = Days.file(g, seed, start.plusDays(k.toLong), 2000)
        f.write(dir.resolve(s"day/${f.day}.csv"), g)
        Days.grown(g, seed, f, 0.1).write(dir.resolve(s"refetch/${f.day}.csv"), g)
      }
      Drops.make(g, seed, 6).foreach(d => Files.write(dir.resolve(s"drop-${d.index}.csv"), d.csv))
      val facts = new ServeFacts(g, seed, start, 365, 10)
      val load = new ServeLoad(facts, seed)
      Files.write(dir.resolve("serve.txt"), (0 until facts.n).map(k =>
        s"${facts.day(k)},${facts.hash(k)},${facts.place(k)}").mkString("\n").getBytes(UTF_8))
      Files.write(dir.resolve("requests.txt"), load.requests.zip(load.expected)
        .map { case (q, e) => s"$q => $e" }.mkString("\n").getBytes(UTF_8))
      Digest.tree(dir)
    }
    val a = once(work.resolve("gen-a")); val b = once(work.resolve("gen-b"))
    val other = { val g = new GeoDims(seed + 1); g.municipios(100).ring.mkString }
    val differs = other != new GeoDims(seed).municipios(100).ring.mkString
    println(s"gen-check seed=$seed a=$a b=$b same=${a == b} other-seed-differs=$differs")
    if (a != b || !differs) sys.exit(1)
  }
}

object Stats {
  /** Linear-interpolated quantile of sorted values. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = q * (sorted.length - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }
  def median(v: Seq[Double]): Double = quantile(v.sorted, 0.5)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(v: Seq[String]): String = v.mkString("[", ", ", "]")
}

/** Bytes of all data files under a directory. */
object Du {
  def apply(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(f => f.getFileName.toString.startsWith(".")).map(Files.size).sum
}
