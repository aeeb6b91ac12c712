package perfbench

import java.time.LocalDate
import java.time.temporal.{ChronoUnit, TemporalAdjusters}

import org.apache.spark.sql.DataFrame

import graft.serve.Serve

/** Dashboard traffic: a seeded list of requests over the 11 routes, each
  * with its expected answer from an aggregation of the generated facts
  * that does not touch the engine. */
final case class Req(route: String, from: LocalDate, to: LocalDate, uf: Option[String],
                     bioma: Option[String], key: String, bbox: Option[(Double, Double, Double, Double)])

/** What the serve layer is asked against: the cube, the facts, geometry. */
final case class ServeData(cube: DataFrame, facts: DataFrame, munGeoms: DataFrame,
                           ufGeoms: DataFrame, ucGeoms: DataFrame)

final class ServeLoad(f: ServeFacts, seed: Long) {
  private val geo = f.geo
  private def mun(k: Int) = geo.municipios(f.place(k).mun)

  /** The work shape of request i (route, range length, which filter) is
    * fixed by its position, so every seed asks for the same amount of work;
    * the seed picks the dates, filter values, keys and boxes. Range lengths
    * cycle evenly through `RangeDays` and filters evenly through UF, biome
    * and none (choropleth_mun always has its UF): both are assumptions, no
    * source gives the dashboard's real mix. */
  val requests: Vector[Req] = {
    val r = Rng.stream(seed, 10)
    val ufs = geo.UfCodes.map(_._1)
    Vector.tabulate(ServeLoad.Rotation.length * 30) { i =>
      val route = ServeLoad.Rotation(i % ServeLoad.Rotation.length)
      val len = math.min(ServeLoad.RangeDays(i % ServeLoad.RangeDays.length), f.days)
      val from = f.start.plusDays(r.nextInt(f.days - len + 1).toLong)
      val filter = i % 3 // 0: uf; 1: biome; 2: none
      val uf = if (route == "choropleth_mun" || filter == 0) Some(ufs(r.nextInt(ufs.length))) else None
      val bioma = if (filter == 1) Some((1 + r.nextInt(geo.biomes.length)).toString) else None
      val key = route match {
        case "lookup_mun" | "bounds" => geo.municipios(r.nextInt(geo.municipios.length)).code
        case "geo_qa" | "geo_overlay" => geo.ucs(r.nextInt(geo.ucs.length)).code
        case _ => ""
      }
      val bbox = if (route == "points") {
        val x = geo.Lon0 + r.nextDouble() * 30; val y = geo.Lat0 + r.nextDouble() * 30
        Some((x, y, x + 5, y + 5))
      } else None
      Req(route, from, from.plusDays(len.toLong), uf, bioma, key, bbox)
    }
  }

  private def inRange(q: Req, k: Int): Boolean = {
    val d = f.start.plusDays(f.day(k).toLong)
    !d.isBefore(q.from) && d.isBefore(q.to)
  }
  private def matches(q: Req, k: Int): Boolean = {
    val p = f.place(k)
    inRange(q, k) &&
      q.uf.forall(u => p.mun >= 0 && geo.municipios(p.mun).uf == u) &&
      q.bioma.forall(b => p.biome >= 0 && geo.biomes(p.biome).code == b)
  }
  private def sel(q: Req): Seq[Int] = (0 until f.n).filter(matches(q, _))

  /** Page size of the points route. */
  val Limit = 200

  /** Expected answer per request, as a canonical string. */
  val expected: Vector[String] = requests.map(expect)

  private def expect(q: Req): String = q.route match {
    case "totals" | "validate" => sel(q).length.toString
    case "summary" =>
      val byDay = sel(q).groupBy(f.day(_)).map { case (d, ks) => d -> ks.length }
      if (byDay.isEmpty) "0|null|null|null"
      else {
        val peak = byDay.toSeq.maxBy { case (d, n) => (n, -d) }
        val mean = BigDecimal(byDay.values.sum.toDouble / byDay.size).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        s"${byDay.values.sum}|$mean|${f.date(peak._1)}|${peak._2}"
      }
    case "timeseries" =>
      val g = Serve.granularity(ChronoUnit.DAYS.between(q.from, q.to))
      sel(q).groupBy { k =>
        val d = f.start.plusDays(f.day(k).toLong)
        g match {
          case "day" => d
          case "week" => d.`with`(TemporalAdjusters.previousOrSame(java.time.DayOfWeek.MONDAY))
          case _ => d.withDayOfMonth(1)
        }
      }.toSeq.sortBy(_._1.toEpochDay).map { case (b, ks) => s"$b=${ks.length}" }.mkString(",")
    case "top_uf" | "top_mun" =>
      val ks = sel(q).filter(f.place(_).mun >= 0)
      val keyed = ks.groupBy(k => if (q.route == "top_uf") mun(k).uf else mun(k).code)
        .map { case (key, v) => key -> v.length }.toSeq
      val lim = if (q.route == "top_mun" && q.uf.isEmpty) 10 else 20
      keyed.sortBy { case (key, n) => (-n, key) }.take(lim).map { case (k, n) => s"$k=$n" }.mkString(",")
    case "choropleth_uf" =>
      val counts = sel(q).filter(f.place(_).mun >= 0).groupBy(mun(_).uf).map { case (u, v) => u -> v.length }
      geo.UfCodes.map(_._1).sorted.map(u => s"$u=${counts.getOrElse(u, 0)}").mkString(",")
    case "choropleth_mun" =>
      val counts = sel(q).filter(f.place(_).mun >= 0).groupBy(mun(_).code).map { case (c, v) => c -> v.length }
      geo.municipios.filter(m => q.uf.contains(m.uf)).map(m => (m.code, counts.getOrElse(m.code, 0)))
        .sortBy { case (c, n) => (-n, c) }.map { case (c, n) => s"$c=$n" }.mkString(",")
    case "lookup_mun" =>
      val m = geo.municipios.find(_.code == q.key).get
      val name = if ((0 until f.n).exists(k => f.place(k).mun >= 0 && mun(k).code == q.key)) m.name else m.code
      s"${m.code}|$name|${m.uf}"
    case "bounds" =>
      val m = geo.municipios.find(_.code == q.key).get
      s"${m.minLon}|${m.minLat}|${m.maxLon}|${m.maxLat}"
    case "geo_qa" =>
      val u = geo.ucs.find(_.code == q.key).get
      s"1|${u.ring.length}|${u.minLon}|${u.minLat}|${u.maxLon}|${u.maxLat}"
    case "geo_overlay" =>
      val idx = geo.ucs.indexWhere(_.code == q.key)
      sel(q).count(f.place(_).uc == idx).toString
    case "points" =>
      val (x0, y0, x1, y1) = q.bbox.get
      val hits = (0 until f.n).filter { k =>
        val p = f.place(k)
        inRange(q, k) && p.lon >= x0 && p.lon <= x1 && p.lat >= y0 && p.lat <= y1
      }.map(k => (f.day(k), f.hash(k))).sorted
      s"${hits.length > Limit}|${hits.take(Limit).map(_._2).mkString(",")}"
  }

  /** Call the route; the response in the same canonical form. */
  def call(d: ServeData, q: Req): String = {
    val flt = Serve.Filters(uf = q.uf, bioma = q.bioma)
    def longs(df: DataFrame) = df.collect().toSeq
    q.route match {
      case "totals" => Serve.totals(d.cube, q.from, q.to, flt).head().getLong(0).toString
      case "validate" =>
        val (a, b, c) = Serve.validateConsistency(d.cube, q.from, q.to, flt)
        if (a == b && b == c) a.toString else s"inconsistent $a $b $c"
      case "summary" =>
        val r = Serve.summary(d.cube, q.from, q.to, flt).head()
        if (r.isNullAt(1)) s"${r.getLong(0)}|null|null|null"
        else s"${r.getLong(0)}|${BigDecimal(r.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP)}|${r.get(2)}|${r.getLong(3)}"
      case "timeseries" =>
        longs(Serve.timeseries(d.cube, q.from, q.to, flt)).map(r => s"${r.get(0)}=${r.getLong(1)}").mkString(",")
      case "top_uf" | "top_mun" =>
        longs(Serve.top(d.cube, q.from, q.to, flt, if (q.route == "top_uf") "uf" else "mun", 20))
          .map(r => s"${r.get(0)}=${r.getLong(2)}").mkString(",")
      case "choropleth_uf" =>
        longs(Serve.choroplethUf(d.cube, d.ufGeoms, q.from, q.to, flt))
          .map(r => s"${r.getAs[String]("uf")}=${r.getAs[Long]("n_focos")}").mkString(",")
      case "choropleth_mun" =>
        val ch = Serve.choroplethMun(d.cube, d.munGeoms, q.from, q.to, flt)
        val legend = Serve.legendFor(ch)
        val rows = ch.collect().map(r => s"${r.getAs[String]("key")}=${r.getAs[Long]("n_focos")}").mkString(",")
        if (Serve.legendMonotonic(legend) || rows.split(",").forall(_.endsWith("=0"))) rows
        else s"non-monotonic legend ${legend.breaks}"
      case "lookup_mun" =>
        val r = Serve.lookupMun(d.cube, d.munGeoms, q.key).head()
        s"${r.getString(0)}|${r.getString(1)}|${r.getString(2)}"
      case "bounds" =>
        val r = Serve.bounds(d.munGeoms, q.key).head()
        s"${r.getAs[Double]("minx")}|${r.getAs[Double]("miny")}|${r.getAs[Double]("maxx")}|${r.getAs[Double]("maxy")}"
      case "geo_qa" =>
        Serve.geoShapeMetrics(d.ucGeoms, q.key, simplify = false).map { m =>
          val (a, b, c, e) = m.bbox
          s"${m.nPartsBeforeUnion}|${m.npointsBeforeUnion}|$a|$b|$c|$e"
        }.getOrElse("missing")
      case "geo_overlay" =>
        Serve.geoOverlayStats(d.cube, "uc", q.key, q.from, q.to, flt).head().getAs[Long]("n_focos").toString
      case "points" =>
        val (rows, truncated) = Serve.points(d.facts, q.from, q.to, q.bbox, Limit)
        s"$truncated|${rows.map(_.getAs[String]("event_hash")).mkString(",")}"
    }
  }

  /** Route name as reported per layer (the two top and geo routes pool). */
  def layerRoute(q: Req): String = q.route match {
    case "top_uf" | "top_mun" => "top"
    case "geo_qa" | "geo_overlay" => "geo"
    case r => r
  }
}

object ServeLoad {
  /** Route order of the request list: the page-view batch a dashboard loads
    * together (totals, summary, timeseries, top uf/mun, UF choropleth),
    * then each drill-down once. One of each drill-down per page view is an
    * assumption: no source gives their real weights. */
  val Rotation: Seq[String] = Seq(
    "totals", "summary", "timeseries", "top_uf", "top_mun", "choropleth_uf",
    "choropleth_mun", "lookup_mun", "bounds", "geo_qa", "geo_overlay", "points", "validate")
  /** Date-range lengths, in days, cycled through by the requests. */
  val RangeDays: Seq[Int] = Seq(7, 14, 30, 60)
  val Routes: Seq[String] = Seq("totals", "summary", "timeseries", "top", "choropleth_uf",
    "choropleth_mun", "lookup_mun", "bounds", "geo", "points", "validate")
}
