package graft

import java.nio.file.Files
import java.sql.Date
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GeoFunctions, TextFunctions}
import graft.serve.Serve
import graft.serve.Serve.Filters

/** Serve-layer behaviors not covered by the oracle queries: the points
  * limit+1 truncation probe (single job), filter normalization, range
  * validation, timeseries auto-bucketing thresholds, and the cube routes'
  * contract — the same rows and schema as their lazy formulation
  * ([[LazyServe]]), one cube aggregate per request, a local result. */
class ServeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("points: one-job limit+1 probe reports truncation and keeps order") {
    import spark.implicits._
    val facts = (1 to 5).map(i =>
        (java.sql.Date.valueOf(f"2024-01-0$i"), s"h$i", -50.0 + i, -10.0 + i))
      .toDF("file_date", "event_hash", "lon", "lat")
    val (rows, truncated) = Serve.points(facts,
      LocalDate.parse("2024-01-01"), LocalDate.parse("2024-02-01"), None, limit = 3)
    assert(truncated)
    assert(rows.map(_.getAs[String]("event_hash")) == Seq("h1", "h2", "h3"))
    val (all, notTrunc) = Serve.points(facts,
      LocalDate.parse("2024-01-01"), LocalDate.parse("2024-02-01"), None, limit = 10)
    assert(!notTrunc && all.size == 5)
    // bbox filter composes
    val (boxed, _) = Serve.points(facts,
      LocalDate.parse("2024-01-01"), LocalDate.parse("2024-02-01"),
      Some((-48.5, -8.5, -46.5, -6.5)), limit = 10)
    assert(boxed.map(_.getAs[String]("event_hash")) == Seq("h2", "h3"))
  }

  test("filter normalization: trim + uppercase, empty -> None (main.py:136-158)") {
    val f = Serve.normalizeFilters(Serve.Filters(
      uf = Some("  mt "), bioma = Some(""), mun = Some(" x"), uc = None, ti = Some("   ")))
    assert(f == Serve.Filters(uf = Some("MT"), bioma = None, mun = Some("X"), uc = None, ti = None))
  }

  test("range validation: from < to, span <= 365 days") {
    intercept[IllegalArgumentException] {
      Serve.validateRange(LocalDate.parse("2024-01-02"), LocalDate.parse("2024-01-02"))
    }
    intercept[IllegalArgumentException] {
      Serve.validateRange(LocalDate.parse("2023-01-01"), LocalDate.parse("2024-06-01"))
    }
    Serve.validateRange(LocalDate.parse("2024-01-01"), LocalDate.parse("2024-12-31"))
  }

  test("geometryGeoJson renders canonical sorted-key compact GeoJSON; coordsHash is its sha1 prefix") {
    val mp: graft.geo.Geo.MultiPolygon = IndexedSeq(IndexedSeq(IndexedSeq(
      (0.0, 0.0), (10.0, 0.0), (10.5, 10.0), (0.0, 0.0))))
    val json = Serve.geometryGeoJson(mp)
    assert(json ==
      """{"coordinates":[[[[0.0,0.0],[10.0,0.0],[10.5,10.0],[0.0,0.0]]]],"type":"MultiPolygon"}""")
    assert(Serve.coordsHash(mp).length == 16)
    assert(Serve.coordsHash(mp) == Serve.coordsHash(mp)) // deterministic
  }

  test("geoShapeMetrics: overlapping parts union before area metrics; bounds empty on miss") {
    import spark.implicits._
    def rectMp(x1: Double, y1: Double, x2: Double, y2: Double) =
      Seq(Seq(Seq(Seq(x1, y1), Seq(x2, y1), Seq(x2, y2), Seq(x1, y2), Seq(x1, y1))))
    val geoms = Seq(
      ("K", "N", rectMp(0.0, 0.0, 1.0, 1.0)),
      ("K", "N", rectMp(0.5, 0.5, 1.5, 1.5))).toDF("key", "uf", "geom")
    val m = Serve.geoShapeMetrics(geoms, "K", simplify = false).get
    assert(m.nPartsBeforeUnion == 2)
    // union area = two 1°×1° cells minus the 0.5°×0.5° overlap: the concat
    // stand-in would report the full 2-cell sum (double-counting ~14%)
    val cell = graft.geo.Geo.ringAreaSqMeters(
      IndexedSeq((0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0)))
    assert(m.areaM2UnionBefore < 1.80 * cell,
      s"union area ${m.areaM2UnionBefore} should drop the double-counted overlap (cell=$cell)")
    assert(m.areaM2UnionBefore > 1.70 * cell)
    // empty ⇔ 404 contract for bounds on a missing key
    assert(Serve.bounds(geoms, "NOPE").isEmpty)
  }

  test("timeseries auto-bucketing thresholds (92/273 days, main.py:392-397)") {
    assert(Serve.granularity(92) == "day")
    assert(Serve.granularity(93) == "week")
    assert(Serve.granularity(273) == "week")
    assert(Serve.granularity(274) == "month")
  }

  // ------------------------------------------- the edge fixture

  private def d(s: String) = Date.valueOf(s)
  private def rect(x0: Double, y0: Double, x1: Double, y1: Double) =
    Seq(Seq(Seq(Seq(x0, y0), Seq((x0 + x1) / 2, y0 + 0.001), Seq(x1, y0), Seq(x1, y1),
      Seq(x0, y1), Seq(x0, y0))))

  // municipality keys whose UTF-8 byte order differs from UTF-16 order:
  // "Ａ1" (U+FF21, EF BC A1) sorts before "😀1" (U+1F600, F0 9F 98 80)
  private val MunKeys = Seq("A1", "Z9", "É1", "Ａ1", "😀1")

  /** The cube as parquet (so a listener can tell its scans from the local
    * geometry frames): null uf, null cd_mun, a UF with no geometry ("CC"),
    * a municipality with only null names ("Z9"), n_focos ties between
    * every MunKeys entry, and a tied peak day. */
  private lazy val (cube, cubeDir) = {
    def r(day: String, uf: String, mun: String, name: String, bioma: String, cdBioma: String,
          uc: String, ti: String, n: Long): Row =
      Row(d(day), uf, if (uf == null) null else uf + "0", mun, name, bioma, cdBioma,
        if (uc == null) null else s"UC $uc", uc, if (ti == null) null else s"TI $ti", ti, n)
    val rows = MunKeys.flatMap { k =>
      val name = if (k == "Z9") null else s"mun $k"
      Seq(r("2024-01-02", "AA", k, name, "Amazônia", "1", "U1", null, 2L),
        r("2024-01-05", "AA", k, name, "Cerrado", "2", null, "T1", 1L))
    } ++ Seq(
      r("2024-01-03", "AA", null, null, "Cerrado", "2", "U1", null, 5L),
      r("2024-01-05", "BB", "B1", "mun B1", "Cerrado", "2", null, null, 2L),
      r("2024-01-08", "CC", "C1", "mun C1", "Amazônia", "1", "U2", "T1", 4L),
      r("2024-01-09", null, null, null, null, null, null, null, 3L),
      r("2024-03-20", "BB", "B1", null, "Amazônia", "1", null, null, 7L))
    val schema = StructType(StructField("day", DateType) +: Seq("uf", "cd_uf", "cd_mun",
      "mun_nm_mun", "bioma", "cd_bioma", "uc_nome", "cd_cnuc", "ti_nome", "terrai_cod")
      .map(StructField(_, StringType)) :+ StructField("n_focos", LongType))
    val dir = Files.createTempDirectory("graft_serve_cube").toString + "/cube"
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .write.partitionBy("day").parquet(dir)
    (spark.read.parquet(dir), dir)
  }

  /** Municipality geometry: every MunKeys entry plus "N0" (no facts) in
    * UF "AA" (one row's uf in lower case), "B1" in "BB". */
  private lazy val munGeoms = {
    import spark.implicits._
    ((MunKeys :+ "N0").zipWithIndex.map { case (k, i) =>
      (k, if (i == 1) "aa" else "AA", rect(i, 0, i + 1, 1)) } :+ (("B1", "BB", rect(0, 5, 2, 6))))
      .toDF("key", "uf", "geom")
  }

  /** UF geometry: two versions of "AA" on different days, "BB", "DD"
    * (absent from the cube), and one with a null uf. */
  private lazy val ufGeoms = {
    import spark.implicits._
    Seq(("AA", d("2023-01-01"), rect(0, 0, 9, 9)), ("AA", d("2023-06-01"), rect(0, 0, 8, 8)),
      ("BB", d("2023-01-01"), rect(0, 5, 2, 6)), ("DD", d("2023-01-01"), rect(9, 9, 10, 10)),
      (null, d("2023-01-01"), rect(3, 3, 4, 4)))
      .toDF("uf", "day", "geom")
  }

  private val Ranges = Seq(
    LocalDate.parse("2024-01-01") -> LocalDate.parse("2024-01-11"), // every fixture day
    LocalDate.parse("2024-01-03") -> LocalDate.parse("2024-01-06"),
    LocalDate.parse("2025-01-01") -> LocalDate.parse("2025-01-08"), // empty
    LocalDate.parse("2023-12-01") -> LocalDate.parse("2024-04-01"), // week buckets
    LocalDate.parse("2023-06-01") -> LocalDate.parse("2024-05-01")) // month buckets
  private val Flts = Seq(Filters(), Filters(uf = Some(" aa ")), Filters(bioma = Some("cerrado")),
    Filters(uc = Some("u1")))

  private def same(label: String, got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema, s"$label: schema")
    assert(got.collect().toSeq == want.collect().toSeq, s"$label: rows")
  }

  test("cube routes return the lazy formulation's rows and schema on the edge fixture") {
    for ((from, to) <- Ranges; f <- Flts) {
      val at = s"$from..$to $f"
      same(s"totals $at", Serve.totals(cube, from, to, f), LazyServe.totals(cube, from, to, f))
      same(s"timeseries $at", Serve.timeseries(cube, from, to, f), LazyServe.timeseries(cube, from, to, f))
      same(s"summary $at", Serve.summary(cube, from, to, f), LazyServe.summary(cube, from, to, f))
      // limit 4 cuts between "Ａ1" and "😀1", which UTF-16 order would swap
      for (by <- Seq("uf", "mun", "bioma", "uc", "ti"))
        same(s"top $by $at", Serve.top(cube, from, to, f, by, 4), LazyServe.top(cube, from, to, f, by, 4))
      same(s"choroplethUf $at", Serve.choroplethUf(cube, ufGeoms, from, to, f),
        LazyServe.choroplethUf(cube, ufGeoms, from, to, f))
      for ((kind, key) <- Seq("uc" -> "u1", "ti" -> "T1", "uc" -> "nope"))
        same(s"geoOverlayStats $kind $key $at", Serve.geoOverlayStats(cube, kind, key, from, to, f),
          LazyServe.geoOverlayStats(cube, kind, key, from, to, f))
      assert(Serve.validateConsistency(cube, from, to, f) ==
        LazyServe.validateConsistency(cube, from, to, f), s"validate $at")
      if (java.time.temporal.ChronoUnit.DAYS.between(from, to) <= Serve.ChoroMaxDaysMun)
        for (uf <- Seq("aa", "BB", "DD")) {
          val fu = f.copy(uf = Some(uf))
          same(s"choroplethMun $uf $at", Serve.choroplethMun(cube, munGeoms, from, to, fu),
            LazyServe.choroplethMun(cube, munGeoms, from, to, fu))
        }
    }
    for (key <- MunKeys ++ Seq("N0", "b1", "nope")) {
      same(s"lookupMun $key", Serve.lookupMun(cube, munGeoms, key), LazyServe.lookupMun(cube, munGeoms, key))
      for (uf <- Seq(None, Some("aa"), Some("BB")))
        same(s"bounds $key $uf", Serve.bounds(munGeoms, key, uf), LazyServe.bounds(munGeoms, key, uf))
    }
  }

  test("edge fixture: ties by UTF-8 key order, zero-fill and label fallback, 404 as an empty frame") {
    val (from, to) = Ranges.head
    val mun = Serve.choroplethMun(cube, munGeoms, from, to, Filters(uf = Some("AA"))).collect()
    assert(mun.map(_.getAs[String]("key")).toSeq == MunKeys :+ "N0")
    assert(mun.map(_.getAs[Long]("n_focos")).toSeq == Seq(3L, 3L, 3L, 3L, 3L, 0L))
    assert(mun.map(_.getAs[String]("label")).toSeq ==
      Seq("mun A1", "Z9", "mun É1", "mun Ａ1", "mun 😀1", "N0"))
    assert(Serve.top(cube, from, to, Filters(uf = Some("AA")), "mun", 4).collect()
      .map(_.getAs[String]("key")).toSeq == MunKeys.take(4))
    val uf = Serve.choroplethUf(cube, ufGeoms, from, to, Filters()).collect()
    assert(uf.map(r => Option(r.getAs[String]("uf")) -> r.getAs[Long]("n_focos")).toSeq ==
      Seq(None -> 0L, Some("AA") -> 20L, Some("BB") -> 2L, Some("DD") -> 0L))
    assert(Serve.lookupMun(cube, munGeoms, "nope").isEmpty)
    assert(Serve.bounds(munGeoms, "A1", Some("BB")).isEmpty)
    assert(Serve.summary(cube, Ranges(2)._1, Ranges(2)._2, Filters()).head() == Row(0L, null, null, null))
  }

  test("choroplethUf: same-day UF versions resolve to one fixed geometry, whatever the row order") {
    import spark.implicits._
    val tie = Seq(("AA", d("2023-06-01"), rect(1, 0, 8, 8)), ("AA", d("2023-06-01"), rect(0, 0, 8, 8)),
      ("AA", d("2023-01-01"), rect(0, 0, 1, 1)), ("BB", d("2023-01-01"), rect(0, 5, 2, 6)))
    val (from, to) = Ranges.head
    def call(rows: Seq[(String, Date, Seq[Seq[Seq[Seq[Double]]]])]) =
      Serve.choroplethUf(cube, rows.toDF("uf", "day", "geom").repartition(3), from, to, Filters())
        .collect().toSeq
    val first = call(tie)
    assert(call(tie) == first)
    assert(call(tie.reverse) == first)
    // the smaller canonical GeoJSON ("[[[[0.0,…" < "[[[[1.0,…") wins
    assert(first.head.getAs[scala.collection.Seq[Any]]("geom") == rect(0, 0, 8, 8))
  }

  /** Runs `body`, returning (cube aggregates it ran, Spark jobs it ran). */
  private def executions(body: => Unit): (Seq[QueryExecution], Int) = {
    val cubeRuns = mutable.ArrayBuffer[QueryExecution]()
    def readsCube(qe: QueryExecution) = qe.analyzed.collectLeaves().exists {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.exists(_.toString.endsWith(cubeDir))
        case _ => false
      }
      case _ => false
    }
    val qel = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (readsCube(qe)) cubeRuns.synchronized(cubeRuns += qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val group = "serve-execution-guard"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val jl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    ListenerBridge.flush(sc)
    spark.listenerManager.register(qel)
    sc.addSparkListener(jl)
    sc.setJobGroup(group, "serve execution guard")
    try body finally {
      sc.clearJobGroup()
      ListenerBridge.flush(sc)
      spark.listenerManager.unregister(qel)
      sc.removeSparkListener(jl)
    }
    (cubeRuns.toSeq, jobs.get)
  }

  test("each cube route runs one cube aggregate; validate runs three; a returned frame runs none") {
    val (from, to) = Ranges.head
    val f = Filters(uf = Some("AA"))
    val routes: Seq[(String, () => Any)] = Seq(
      "totals" -> (() => Serve.totals(cube, from, to, f)),
      "summary" -> (() => Serve.summary(cube, from, to, f)),
      "timeseries" -> (() => Serve.timeseries(cube, from, to, f)),
      "top" -> (() => Serve.top(cube, from, to, f, "mun", 10)),
      "choroplethUf" -> (() => Serve.choroplethUf(cube, ufGeoms, from, to, f)),
      "choroplethMun" -> (() => Serve.choroplethMun(cube, munGeoms, from, to, f)),
      "lookupMun" -> (() => Serve.lookupMun(cube, munGeoms, "A1")),
      "geoOverlayStats" -> (() => Serve.geoOverlayStats(cube, "uc", "U1", from, to, f)))
    for ((name, call) <- routes) {
      val (runs, _) = executions(call())
      assert(runs.size == 1, s"$name ran ${runs.size} cube executions")
      assert(runs.forall(_.analyzed.find(_.isInstanceOf[Aggregate]).isDefined), name)
    }
    val (validateRuns, _) = executions(Serve.validateConsistency(cube, from, to, f))
    assert(validateRuns.size == 3)
    assert(validateRuns.forall(_.analyzed.find(_.isInstanceOf[Aggregate]).isDefined))

    val ch = Serve.choroplethMun(cube, munGeoms, from, to, f)
    val (after, jobs) = executions {
      Serve.legendFor(ch)
      ch.collect()
      ch.head()
      Serve.choroplethUf(cube, ufGeoms, from, to, f)
    }
    assert(after.size == 1, "only the second choropleth's own aggregate reads the cube")
    val (none, noJobs) = executions { Serve.legendFor(ch); ch.collect(); ch.head() }
    assert(none.isEmpty && noJobs == 0, s"legend/collect ran ${none.size} cube executions, $noJobs jobs")
    assert(jobs > 0)
  }
}

/** Each reworked route's former lazy formulation: the reference the local
  * results are compared against. */
private object LazyServe {
  import Serve.{factWhere, granularity, normalizeFilters, normText}

  def timeseries(cube: DataFrame, from: LocalDate, to: LocalDate, f: Filters): DataFrame = {
    val bucket = granularity(java.time.temporal.ChronoUnit.DAYS.between(from, to)) match {
      case "day" => col("day")
      case g => date_trunc(g, col("day")).cast("date")
    }
    cube.filter(factWhere(from, to, f))
      .groupBy(bucket.as("bucket"))
      .agg(sum("n_focos").as("n_focos"))
      .orderBy("bucket")
  }

  def totals(cube: DataFrame, from: LocalDate, to: LocalDate, f: Filters): DataFrame =
    cube.filter(factWhere(from, to, f))
      .agg(coalesce(sum("n_focos"), lit(0)).as("n_focos"))

  def top(cube: DataFrame, from: LocalDate, to: LocalDate, f: Filters,
          by: String, limit: Int): DataFrame = {
    val (keyCol, nameCol): (Column, Column) = by match {
      case "uf" => (col("uf"), col("uf"))
      case "mun" => (col("cd_mun"), col("mun_nm_mun"))
      case "bioma" => (col("cd_bioma"), col("bioma"))
      case "uc" => (col("cd_cnuc"), col("uc_nome"))
      case "ti" => (col("terrai_cod"), col("ti_nome"))
    }
    val effLimit =
      if (by == "mun" && normalizeFilters(f).uf.isEmpty) math.min(limit, Serve.MunGuardrailLimit)
      else limit
    cube.filter(factWhere(from, to, f) && keyCol.isNotNull)
      .groupBy(keyCol.as("key"))
      .agg(max(nameCol).as("name"), sum("n_focos").as("n_focos"))
      .orderBy(col("n_focos").desc, col("key").asc)
      .limit(effLimit)
  }

  def summary(cube: DataFrame, from: LocalDate, to: LocalDate, f: Filters): DataFrame = {
    val daily = cube.filter(factWhere(from, to, f))
      .groupBy("day").agg(sum("n_focos").as("n"))
    daily.agg(
      coalesce(sum("n"), lit(0)).as("total_focos"),
      round(avg("n"), 2).as("mean_daily"),
      max_by(col("day"), struct(col("n"), to_timestamp(col("day")).cast("long") * -1))
        .as("peak_day"),
      max("n").as("peak_n"))
  }

  /** Latest version per UF by `row_number` — arbitrary on same-day ties, so
    * the equivalence fixture has none. */
  def choroplethUf(cube: DataFrame, geoms: DataFrame,
                   from: LocalDate, to: LocalDate, f: Filters): DataFrame = {
    val agg = cube.filter(factWhere(from, to, f))
      .groupBy("uf").agg(sum("n_focos").as("n_focos"))
    val latest = geoms.withColumn("rn", row_number().over(
        Window.partitionBy("uf").orderBy(col("day").desc)))
      .filter(col("rn") === 1).drop("rn", "day")
    latest.join(agg, Seq("uf"), "left")
      .withColumn("n_focos", coalesce(col("n_focos"), lit(0)))
      .orderBy("uf")
  }

  def choroplethMun(cube: DataFrame, munGeoms: DataFrame,
                    from: LocalDate, to: LocalDate, f: Filters,
                    tol: Double = Serve.ChoroSimplifyTol): DataFrame = {
    val fn = normalizeFilters(f)
    val days = java.time.temporal.ChronoUnit.DAYS.between(from, to)
    val agg = cube.filter(factWhere(from, to, f))
      .groupBy(col("cd_mun").cast("string").as("key"))
      .agg(max("mun_nm_mun").cast("string").as("label"), sum("n_focos").as("n_focos"))
    val g = munGeoms.filter(upper(col("uf").cast("string")) === fn.uf.get)
      .select(col("key").cast("string").as("key"), col("uf"),
        GeoFunctions.simplifyDPUdf(col("geom"), lit(tol)).as("geom"))
    g.join(agg, Seq("key"), "left")
      .select(col("key"), col("uf"),
        coalesce(col("label"), col("key")).as("label"),
        coalesce(col("n_focos"), lit(0L)).as("n_focos"), col("geom"))
      .withColumn("mean_per_day",
        col("n_focos").cast("double") / math.max(1L, days).toDouble)
      .orderBy(col("n_focos").desc, col("key").asc)
  }

  def lookupMun(cube: DataFrame, munGeoms: DataFrame, key: String): DataFrame = {
    val k = normText(Some(key)).get
    val gm = munGeoms.filter(col("key").cast("string") === k)
      .select(col("key").cast("string").as("mun"), col("uf")).limit(1)
    val d = cube.filter(col("cd_mun").cast("string") === k)
      .groupBy(col("cd_mun").cast("string").as("mun"))
      .agg(max("mun_nm_mun").cast("string").as("mun_nome"))
    gm.join(d, Seq("mun"), "left")
      .select(col("mun"), coalesce(col("mun_nome"), col("mun")).as("mun_nome"),
        upper(col("uf").cast("string")).as("uf"),
        upper(col("uf").cast("string")).as("uf_nome"))
  }

  def bounds(geoms: DataFrame, key: String, uf: Option[String] = None): DataFrame = {
    val k = normText(Some(key)).get
    var g = geoms.filter(col("key").cast("string") === k)
    uf.flatMap(u => normText(Some(u))).foreach(u =>
      g = g.filter(upper(col("uf").cast("string")) === u))
    g.withColumn("bb", GeoFunctions.bboxUdf(col("geom")))
      .agg(min("bb._1").as("minx"), min("bb._2").as("miny"),
        max("bb._3").as("maxx"), max("bb._4").as("maxy"))
      .filter(col("minx").isNotNull)
      .withColumn("center_lat", (col("miny") + col("maxy")) / 2.0)
      .withColumn("center_lon", (col("minx") + col("maxx")) / 2.0)
  }

  def geoOverlayStats(cube: DataFrame, entity: String, key: String,
                      from: LocalDate, to: LocalDate, f: Filters): DataFrame = {
    val k = normText(Some(key)).get
    val (keyCol, labelCol) = entity match {
      case "uc" => (col("cd_cnuc"), col("uc_nome"))
      case "ti" => (col("terrai_cod"), col("ti_nome"))
    }
    val withKeyFilter = entity match {
      case "uc" => f.copy(uc = Some(k))
      case _ => f.copy(ti = Some(k))
    }
    cube.filter(factWhere(from, to, withKeyFilter) && keyCol.cast("string") === k)
      .agg(TextFunctions.cleanDisplayLabelUdf(
        coalesce(max(labelCol).cast("string"), lit(k))).as("label"),
        coalesce(sum("n_focos"), lit(0L)).as("n_focos"))
      .withColumn("entity", lit(entity)).withColumn("key", lit(k))
      .select("entity", "key", "label", "n_focos")
  }

  def validateConsistency(cube: DataFrame, from: LocalDate, to: LocalDate,
                          f: Filters): (Long, Long, Long) = {
    val filtered = cube.filter(factWhere(from, to, f))
    val total = filtered.agg(coalesce(sum("n_focos"), lit(0))).head().getLong(0)
    val tsSum = timeseries(cube, from, to, f)
      .agg(coalesce(sum("n_focos"), lit(0))).head().getLong(0)
    val byUf = filtered.groupBy("uf").agg(sum("n_focos").as("n"))
      .agg(coalesce(sum("n"), lit(0))).head().getLong(0)
    (total, tsSum, byUf)
  }
}
