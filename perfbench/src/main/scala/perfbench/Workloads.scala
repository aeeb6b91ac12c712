package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.Date
import java.time.{LocalDate, YearMonth}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.enrich.Enrich
import graft.functions.GeoFunctions
import graft.ingest.Ingest
import graft.marts.Marts
import graft.pipeline.Pipeline
import graft.sources.Sources
import graft.streaming.StreamingJobs

/** A pipeline warehouse: its root and the `Pipeline` writing it. */
final case class Store(root: Path, pipe: Pipeline)

/** daily_refetch: days of 1–3k events on a store that already holds a
  * 45-day retention window. Every new day is followed by a re-fetch of the
  * previous day's file grown by ~10%, as the reference re-downloads the
  * still-growing daily file; the re-fetch exercises the load as a dedup.
  * Each step: `Sources.resolveDaily` → `runDayFrom` → `writeMarts` →
  * `checkDay` → `writeState`, the calls `Pipeline.backfill` makes per day,
  * made one by one so each stage gets its own span. */
final class Refetch(ctx: Ctx) extends Workload {
  import ctx.spark
  val setupReps = 2
  private val geo = ctx.geo
  val HistoryDays = 45
  /** Older history days are small (they only fill the retention window);
    * the last one is day-sized because the first step re-fetches it. */
  val HistoryEvents = 20
  val MaxDays = 16
  private val first = LocalDate.parse("2024-08-01")
  /** Day sizes cycle through 1–3k events, the same for every seed. */
  private def events(k: Int) = 1000 + 500 * ((k * 3) % 5)
  private var history: Vector[DayFile] = _
  private var files: Vector[DayFile] = _
  private var grown: Vector[DayFile] = _
  /** A day distinct from the measured ones, for the warm-up step. */
  private var spare: DayFile = _
  private val inDir = ctx.work.resolve("in")
  private val spareDir = ctx.work.resolve("spare")
  private val refetchDir = ctx.work.resolve("refetch")
  private val histDir = ctx.work.resolve("history")

  /** One store per set-up; the last is measured, the first takes the
    * warm-up step. */
  private val stores = mutable.ArrayBuffer[Store]()
  private def measured = stores.last
  private var munDim: DataFrame = _
  private var attemptedTotal = 0L
  private var insertedTotal = 0L
  private var resolveBytes = 0L
  private var resolves = 0

  def gen(): Unit = {
    history = Vector.tabulate(HistoryDays) { k =>
      Days.file(geo, ctx.seed, first.plusDays(k.toLong), if (k == HistoryDays - 1) events(0) else HistoryEvents)
    }
    history.init.foreach(f => f.write(histDir.resolve(s"older/${f.day}.csv"), geo))
    history.last.write(histDir.resolve(s"${history.last.day}.csv"), geo)
    files = Vector.tabulate(MaxDays)(k => Days.file(geo, ctx.seed, first.plusDays((HistoryDays + k).toLong), events(k + 1)))
    files.foreach(f => f.write(inDir.resolve(s"${f.day}.csv"), geo))
    // step k re-fetches the day before day k: the last history day for k = 0
    grown = (history.last +: files.init).map(f => Days.grown(geo, ctx.seed, f, 0.1))
    grown.foreach(f => f.write(refetchDir.resolve(s"${f.day}.csv"), geo))
    spare = Days.file(geo, ctx.seed + 7919, files.head.day, events(1))
    spare.write(spareDir.resolve(s"${spare.day}.csv"), geo)
  }

  private def enrichDims(withMun: DataFrame): DataFrame =
    Enrich.enrichFirstMatch(Enrich.enrichFirstMatch(Enrich.enrichFirstMatch(withMun,
      Dims.biomas(spark, geo), Map("cd_bioma" -> "cd_bioma", "bioma_nome" -> "bioma"), "bioma_checked"),
      Dims.ucs(spark, geo), Map("cd_cnuc" -> "cd_cnuc", "nome_uc" -> "uc_nome"), "uc_checked"),
      Dims.tis(spark, geo), Map("terrai_cod" -> "terrai_cod", "terrai_nom" -> "ti_nome"), "ti_checked")

  /** A pipeline over the generated dims, and the retention window built in
    * bulk with the engine's own ingest and enrich functions: one transform
    * over the 44 older days' files (hashed with the first day's date, filed
    * under each row's own view day; they are never re-fetched) and one over
    * the last day, whose re-fetch must dedup against it. Then the daily UF
    * mart the trend view reads. */
  def setup(rep: Int): Unit = {
    val root = ctx.work.resolve(s"store-$rep")
    munDim = Dims.municipios(spark, geo)
    stores += Store(root, new Pipeline(spark, root.toString, munDim, Dims.biomas(spark, geo),
      Some(Dims.ucs(spark, geo)), Some(Dims.tis(spark, geo))))
    val old = Ingest.transform(Ingest.readCsv(spark, histDir.resolve("older").toString),
      Date.valueOf(history.head.day)).withColumn("file_date", to_date(col("view_ts")))
    val last = Ingest.transform(Ingest.readCsv(spark, histDir.resolve(s"${history.last.day}.csv").toString),
      Date.valueOf(history.last.day))
    // one file per day partition, as a per-day pipeline run leaves it
    val days = old.unionByName(last).repartition(col("file_date")).cache()
    days.write.partitionBy("file_date").parquet(root.resolve("curated").toString)
    enrichDims(Enrich.enrichMunicipio(days, munDim)).repartition(col("file_date"))
      .write.partitionBy("file_date").parquet(root.resolve("enriched").toString)
    days.unpersist()
    Marts.writePartitioned(Marts.focosDiarioUf(spark.read.parquet(root.resolve("enriched").toString),
      Marts.ufAreaRollup(munDim)), root.resolve("marts/focos_diario_uf").toString, "day")
  }

  /** One whole step (resolve, load, marts, check, state) of a spare day on
    * the first set-up's store, so the measured ops pay no first-use cost;
    * then the last history day's marts and checks on the measured store,
    * which leaves its marts as a daily run would. */
  def warmup(): Unit = {
    require(stores.length > 1, "the warm-up step needs a store other than the measured one")
    val w = step(stores.head, "warm", spare, spareDir, spare.day, spare.unique.length)
    require(w.ok, s"warm-up step fails its checks: ${w.msg}")
    resolveBytes = 0L; resolves = 0
    measured.pipe.writeMarts(Date.valueOf(history.last.day))
    val errs = measured.pipe.checkDay(history.last.day)
    require(errs.isEmpty, s"history store fails its checks: ${errs.mkString("; ")}")
  }

  private def expectUf(f: DayFile): Map[String, Long] =
    f.unique.filter(_.place.mun >= 0).groupBy(r => geo.municipios(r.place.mun).uf)
      .map { case (u, rs) => u -> rs.length.toLong }

  private def fsBytesRead(): Long =
    org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator().asScala
      .filter(_.getScheme == "file").map(s => Option(s.getLong("bytesRead")).map(_.longValue).getOrElse(0L)).sum

  /** Nothing else runs while the resolver does, so the local file system's
    * bytes read over the call (header sniffing, header job) are its own. */
  private def resolve(d: LocalDate, dir: Path, today: LocalDate): DataFrame = {
    val b0 = fsBytesRead()
    val df = Sources.resolveDaily(spark, d,
      daily = x => Some(dir.resolve(s"$x.csv")).filter(Files.exists(_)).map(_.toString),
      monthly = (_: YearMonth) => None, today = today).df
    resolveBytes += fsBytesRead() - b0; resolves += 1
    df
  }

  /** One day through the pipeline, then its checks: `checkDay` errors,
    * closed-form attempted/inserted counts and the UF mart per UF. */
  private def step(st: Store, kind: String, f: DayFile, dir: Path, today: LocalDate, inserted: Long): OpRec = {
    val tree = s"$kind-${f.day}"
    val pipe = st.pipe
    val t0 = System.nanoTime()
    val (a, i, errs) = ctx.span("pipeline.day", tree) {
      val raw = ctx.span("sources.resolve")(resolve(f.day, dir, today))
      val counts = ctx.span("pipeline.load_enrich")(pipe.runDayFrom(raw, f.day, Set.empty))
      ctx.span("pipeline.marts")(pipe.writeMarts(Date.valueOf(f.day)))
      val errs = ctx.span("pipeline.check")(pipe.checkDay(f.day))
      ctx.span("pipeline.state")(pipe.writeState(f.day))
      (counts("attempted"), counts("inserted"), errs)
    }
    val ns = System.nanoTime() - t0
    if (st == measured) { attemptedTotal += a; insertedTotal += i }
    val ufWant = expectUf(f)
    val err =
      if (errs.nonEmpty) Some(s"checkDay: ${errs.mkString("; ")}")
      else if (a != f.unique.length || i != inserted)
        Some(s"counts attempted=$a/${f.unique.length} inserted=$i/$inserted")
      else {
        val got = spark.read.parquet(st.root.resolve("marts/focos_diario_uf").toString)
          .filter(col("day") === lit(Date.valueOf(f.day))).select("uf", "n_focos").collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        if (got != ufWant) Some(s"uf mart for ${f.day}: got $got expected $ufWant")
        else None
      }
    OpRec(kind, tree, ns, f.rows.length, err.isEmpty, err.getOrElse(""))
  }

  def measure(deadlineNs: Long): Seq[OpRec] = {
    val out = mutable.ArrayBuffer[OpRec]()
    var k = 0
    while (k < MaxDays && (k == 0 || System.nanoTime() < deadlineNs)) {
      val f = files(k)
      out += step(measured, "day", f, inDir, f.day, f.unique.length)
      val before = if (k == 0) history.last else files(k - 1)
      out += step(measured, "refetch", grown(k), refetchDir, f.day, grown(k).unique.length - before.unique.length)
      k += 1
    }
    out.toSeq
  }

  def store(): (Long, Long) =
    (Du(measured.root), spark.read.parquet(measured.root.resolve("curated").toString).count())

  /** Direct calls of the ingest and enrich layers on the first day's file,
    * so each gets its own busy time (in the pipeline both run inside one
    * write job), plus ratios of the enrich outcome; then one stream drop
    * and its replay through the streaming layer (see [[StreamDrops]]). */
  override def traced(): (Map[String, Double], Seq[OpRec]) = {
    val d = files.head.day
    val dt = Date.valueOf(d)
    val tree = s"direct-$d"
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    // each call once untimed first, as the measured loop is warmed up
    def timed(name: String)(body: => Unit): Double = {
      body
      val t0 = System.nanoTime(); ctx.span(name, tree)(body); (System.nanoTime() - t0) / 1e9
    }
    val raw = Ingest.readCsv(spark, inDir.resolve(s"$d.csv").toString)
    val rowsIn = raw.count().toDouble
    val transformS = timed("ingest.transform")(noop(Ingest.transform(raw, dt)))
    val norm = Ingest.normalizeHeaders(raw)
    val lat = Ingest.resolveColumn(norm.columns.toSeq, Ingest.latPreferred).get
    val lon = Ingest.resolveColumn(norm.columns.toSeq, Ingest.lonPreferred).get
    val valid = norm.select(Ingest.localeDouble(col(lat)).as("a"), Ingest.localeDouble(col(lon)).as("o"))
      .filter(col("a").between(-90, 90) && col("o").between(-180, 180)).count().toDouble
    val curated = Ingest.transform(raw, dt).cache()
    val n = curated.count().toDouble
    val municipioS = timed("enrich.municipio")(noop(Enrich.enrichMunicipio(curated, munDim)))
    val withMun = Enrich.enrichMunicipio(curated, munDim).cache()
    withMun.count()
    val firstS = timed("enrich.first_match")(noop(enrichDims(withMun)))
    val unmatched = withMun.filter(col("mun_cd_mun").isNull).count().toDouble
    // matched rows whose municipality does not contain them came from the
    // nearest-municipality fallback
    val knn = withMun.join(munDim.select(col("cd_mun").as("mun_cd_mun"), col("geom")), "mun_cd_mun")
      .filter(!GeoFunctions.pointInMultiPolygon(col("lon"), col("lat"), col("geom"))).count().toDouble
    withMun.unpersist(); curated.unpersist()
    org.apache.spark.graftbridge.ListenerBridge.flush(spark.sparkContext)
    val spans = ctx.tracer.spans.asScala.filter(_.tree == tree)
    def w(name: String) = spans.filter(_.name == name).flatMap(s => Option(ctx.tracer.work.get(s.id))).toSeq
    val enrichWork = w("enrich.municipio") ++ w("enrich.first_match")
    val pairs = enrichWork.map(_.pairs.sum).sum.toDouble
    val (streamMetrics, streamOps) = StreamDrops.sample(ctx)
    (streamMetrics ++ Map("ingest.transform_s" -> transformS, "ingest.rows_in" -> rowsIn,
      "ingest.rows_dropped" -> (rowsIn - valid), "ingest.dedup_dropped" -> (valid - n),
      "ingest.shuffle_bytes" -> w("ingest.transform").map(_.shuffleWrite.sum).sum.toDouble,
      "enrich.municipio_s" -> municipioS, "enrich.first_match_s" -> firstS,
      "enrich.pairs_per_event" -> pairs / math.max(1.0, n),
      "enrich.join_rows_per_pair" -> enrichWork.map(_.joinOut.sum).sum / math.max(1.0, pairs),
      "enrich.knn_fallback_ratio" -> knn / math.max(1.0, n),
      "enrich.unmatched_ratio" -> unmatched / math.max(1.0, n),
      "pipeline.insert_ratio" -> insertedTotal.toDouble / math.max(1L, attemptedTotal),
      "sources.bytes_read" -> resolveBytes.toDouble / math.max(1, resolves)), streamOps)
  }
}

/** dashboard_serve: one dashboard client in a closed loop over a 60-day
  * cube: it sends its next request when the previous reply is in. Requests
  * follow a fixed route rotation with seeded parameters; the loop runs at
  * least `MinRotations` rotations and ends on a whole rotation once the time
  * is up, so every run sees the same route mix. One client, not `nproc`:
  * with as many clients as cores, each request's latency depended on how
  * the other clients' requests happened to be scheduled. */
final class Dashboard(ctx: Ctx) extends Workload {
  import ctx.spark
  val setupReps = 2
  val CubeDays = 60
  val PerDay = 200
  val MinRotations = 2
  /** Rotations sent before the measured loop. */
  val WarmRotations = 1
  private var facts: ServeFacts = _
  private var load: ServeLoad = _
  private var data: ServeData = _
  private var root: Path = _

  def gen(): Unit = {
    facts = new ServeFacts(ctx.geo, ctx.seed, LocalDate.parse("2024-05-01"), CubeDays, PerDay)
    load = new ServeLoad(facts, ctx.seed)
  }

  /** The facts table and the cube (`Marts.factCube`, `Marts.writePartitioned`)
    * plus the serving geometry. */
  def setup(rep: Int): Unit = {
    root = ctx.work.resolve(s"serve-$rep")
    val f = facts.frame(spark)
    f.write.parquet(root.resolve("facts").toString)
    Marts.writePartitioned(Marts.factCube(f), root.resolve("cube").toString, "day")
    data = ServeData(spark.read.parquet(root.resolve("cube").toString),
      spark.read.parquet(root.resolve("facts").toString),
      Dims.keyed(spark, ctx.geo.municipios), Dims.ufGeoms(spark, ctx.geo), Dims.keyed(spark, ctx.geo.ucs))
  }

  /** The last `WarmRotations` rotations of the request list (never reached
    * by the measured loop), from `nproc` threads: first use of every route. */
  def warmup(): Unit = {
    val qs = load.requests.takeRight(WarmRotations * ServeLoad.Rotation.length)
    val cores = Runtime.getRuntime.availableProcessors()
    qs.indices.groupBy(_ % cores).values.toSeq
      .map(ix => new Thread(() => ix.foreach(i => load.call(data, qs(i)))))
      .map { t => t.start(); t }.foreach(_.join())
  }

  def measure(deadlineNs: Long): Seq[OpRec] = {
    val rot = ServeLoad.Rotation.length
    val out = mutable.ArrayBuffer[OpRec]()
    val warmFrom = load.requests.length - WarmRotations * rot
    var i = 0
    while (i < warmFrom && (i < MinRotations * rot || i % rot != 0 || System.nanoTime() < deadlineNs)) {
      val q = load.requests(i)
      val t0 = System.nanoTime()
      val got = try ctx.span(s"serve.${load.layerRoute(q)}", s"req-$i")(load.call(data, q))
                catch { case e: Exception => s"error: $e" }
      val ns = System.nanoTime() - t0
      val want = load.expected(i)
      out += OpRec(load.layerRoute(q), s"req-$i", ns, 1, got == want,
        if (got == want) "" else s"$q: got ${got.take(300)} want ${want.take(300)}")
      i += 1
    }
    out.toSeq
  }

  def store(): (Long, Long) = (Du(root.resolve("cube")) + Du(root.resolve("facts")), facts.n.toLong)
}

/** stream_drops: file drops of 1–5k points, some re-dropping an earlier
  * drop, each drained with `Trigger.AvailableNow` through the streaming PIP
  * enrich and the idempotent append sink keyed on `event_hash`. */
final class StreamDrops(ctx: Ctx, make: Ctx => Vector[Drop] = c => Drops.make(c.geo, c.seed, 40))
    extends Workload {
  import ctx.spark
  val setupReps = 3
  private var drops: Vector[Drop] = _
  private var warm: Drop = _
  private var base: Path = _
  private val staged = ctx.work.resolve("drops")
  private var munDim: DataFrame = _
  private val seen = mutable.HashSet[String]()
  private val ufCounts = mutable.Map[String, Long]()
  private val schema = StructType(Seq(StructField("event_hash", StringType), StructField("ts", TimestampType),
    StructField("lon", DoubleType), StructField("lat", DoubleType)))

  def gen(): Unit = {
    drops = make(ctx)
    Files.createDirectories(staged)
    drops.foreach(d => Files.write(staged.resolve(s"drop-${d.index}.csv"), d.csv))
    val w = Drops.make(ctx.geo, ctx.seed + 7919, 1).head
    warm = w.copy(ids = w.ids.map("w" + _))
  }

  private def drain(): Unit = {
    val points = spark.readStream.schema(schema).option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss").csv(base.resolve("in").toString)
    val q = StreamingJobs.idempotentAppendSink(StreamingJobs.enrichPoints(points, munDim),
      base.resolve("target").toString, Seq("event_hash"), base.resolve("ckpt").toString)
    try q.awaitTermination() finally q.stop()
  }

  /** Atomic drop into the source directory. */
  private def dropFile(name: String, bytes: Array[Byte]): Unit = {
    val tmp = base.resolve(s"staging/$name")
    Files.createDirectories(tmp.getParent); Files.createDirectories(base.resolve("in"))
    Files.write(tmp, bytes)
    Files.move(tmp, base.resolve(s"in/$name"), StandardCopyOption.ATOMIC_MOVE)
  }

  /** The stream's dimension and an empty source, sink and checkpoint. */
  def setup(rep: Int): Unit = {
    base = ctx.work.resolve(s"stream-$rep")
    Files.createDirectories(base.resolve("in"))
    munDim = Dims.municipios(spark, ctx.geo).select("cd_mun", "nm_mun", "uf", "geom",
      "min_lon", "min_lat", "max_lon", "max_lat")
    seen.clear(); ufCounts.clear()
  }

  /** One drop of points distinct from the measured ones. */
  def warmup(): Unit = { dropFile("warm.csv", warm.csv); drain(); record(warm) }

  private def record(d: Drop): Unit =
    d.ids.indices.foreach { i =>
      if (seen.add(d.ids(i))) {
        val p = d.places(i)
        if (p.mun >= 0) {
          val uf = ctx.geo.municipios(p.mun).uf
          ufCounts(uf) = ufCounts.getOrElse(uf, 0L) + 1
        }
      }
    }

  def measure(deadlineNs: Long): Seq[OpRec] = {
    val out = mutable.ArrayBuffer[OpRec]()
    var k = 0
    while (k < drops.length && (k < 3 || System.nanoTime() < deadlineNs)) {
      val d = drops(k)
      val bytes = Files.readAllBytes(staged.resolve(s"drop-${d.index}.csv"))
      val t0 = System.nanoTime()
      ctx.span("streaming.drop", s"drop-${d.index}") {
        dropFile(s"drop-${d.index}.csv", bytes)
        ctx.span("streaming.drain")(drain())
      }
      val ns = System.nanoTime() - t0
      record(d)
      val n = spark.read.parquet(base.resolve("target").toString).count()
      out += OpRec(if (d.replayOf >= 0) "replay" else "drop", s"drop-${d.index}", ns, d.ids.length,
        n == seen.size, if (n == seen.size) "" else s"target holds $n rows, expected ${seen.size}")
      k += 1
    }
    val got = spark.read.parquet(base.resolve("target").toString).filter(col("uf").isNotNull)
      .groupBy("uf").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (got != ufCounts.toMap)
      out(out.length - 1) = out.last.copy(ok = false, msg = s"per-UF sink counts $got expected $ufCounts")
    out.toSeq
  }

  def store(): (Long, Long) = (Du(base.resolve("target")), seen.size.toLong)
}

object StreamDrops {
  /** The streaming layer inside another workload's traced run: after one
    * warm-up drop, one drop of 1k points and its replay, checked like the
    * stream_drops ops. Returns the streaming metrics and the two ops. */
  def sample(ctx: Ctx): (Map[String, Double], Seq[OpRec]) = {
    val s = new StreamDrops(ctx, c => {
      val d = Drops.make(c.geo, c.seed, 1).head
      Vector(d, d.copy(index = 1, replayOf = d.index))
    })
    s.gen(); s.setup(0); s.warmup()
    org.apache.spark.graftbridge.ListenerBridge.flush(ctx.spark.sparkContext)
    ctx.counters.resetStream()
    val ops = s.measure(0L)
    org.apache.spark.graftbridge.ListenerBridge.flush(ctx.spark.sparkContext)
    (Layers.streaming(ops, ctx.tracer, ctx.counters), ops)
  }
}
