package graft.serve

import java.sql.Date
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextFunctions
import graft.geo.{Geo, PolyUnion}
import graft.pipeline.Pipeline

/** The serving layer: parameterized query functions mirroring the
  * reference's 11 API routes over the persisted fact cube
  * (api/app/main.py:925-1866). The engine deliverable is these functions,
  * not an HTTP server (SURVEY §3 EP3).
  *
  * Spark aggregates the cube; routes shape bounded rows on the driver. The
  * cube (`mv_focos_day_dim` shape: day, uf, cd_uf, cd_mun, mun_nm_mun,
  * bioma, cd_bioma, uc_nome, cd_cnuc, ti_nome, terrai_cod, n_focos) is read
  * by ONE Spark aggregate per request — `cube.filter(where).groupBy(≤ 1
  * key).agg(...)`, built by `aggregate` — whose result is bounded by its
  * key (≤ 365 days, ≤ 27 UFs, ≤ 5 570 municipalities), as the reference
  * answers with one SQL statement over the materialized view and shapes
  * legend, GeoJSON and labels in Python (SURVEY EP3). Everything after the
  * aggregate — ordering, limits, zero-fill, the merge with one UF's or one
  * key's collected geometry rows, simplification, bboxes — runs on those
  * rows. Routes return local DataFrames with the same schema a lazy
  * formulation would have, so a later `collect`, `head` or [[legendFor]]
  * runs no Spark job. The cube itself is never collected.
  */
object Serve {

  val MaxRangeDays = 365 // APP_MAX_RANGE_DAYS, main.py:77
  val TsWeekThresholdDays = 92 // main.py:78
  val TsMonthThresholdDays = 273 // main.py:79
  val MunGuardrailLimit = 10 // main.py:76
  val PointsDefaultLimit = 20000 // main.py:84
  val PointsHardCap = 50000 // main.py:83
  val ChoroMaxDaysMun = 180 // CHORO_MAX_DAYS_MUN, main.py:80
  val ChoroSimplifyTol = 0.01 // CHORO_SIMPLIFY_TOL, main.py:81
  val GeoSimplifyDefaultTolM = 10.0 // GEO_SIMPLIFY_DEFAULT_TOL_M, main.py:82

  final case class Filters(uf: Option[String] = None, bioma: Option[String] = None,
                           mun: Option[String] = None, uc: Option[String] = None,
                           ti: Option[String] = None)

  /** P10 — trim + uppercase, empty → None (main.py:136-158). */
  def normText(v: Option[String]): Option[String] =
    v.map(_.trim).filter(_.nonEmpty).map(_.toUpperCase)

  def normalizeFilters(f: Filters): Filters =
    Filters(normText(f.uf), normText(f.bioma), normText(f.mun), normText(f.uc), normText(f.ti))

  def validateRange(from: LocalDate, to: LocalDate): Unit = {
    require(from.isBefore(to), "invalid range: require from < to (to is exclusive)")
    require(java.time.temporal.ChronoUnit.DAYS.between(from, to) <= MaxRangeDays,
      s"range too large: max $MaxRangeDays days")
  }

  /** P11 — dynamic WHERE: half-open [from, to) + per-dimension
    * "code OR upper(name)" equality (main.py:171-215). */
  def factWhere(from: LocalDate, to: LocalDate, f0: Filters): Column = {
    val f = normalizeFilters(f0)
    var c = col("day") >= lit(Date.valueOf(from)) && col("day") < lit(Date.valueOf(to))
    f.uf.foreach(v => c = c && col("uf") === v)
    f.bioma.foreach(v => c = c &&
      (col("cd_bioma").cast("string") === v || upper(coalesce(col("bioma"), lit(""))) === v))
    f.mun.foreach(v => c = c &&
      (col("cd_mun").cast("string") === v || upper(coalesce(col("mun_nm_mun"), lit(""))) === v))
    f.uc.foreach(v => c = c &&
      (col("cd_cnuc").cast("string") === v || upper(coalesce(col("uc_nome"), lit(""))) === v))
    f.ti.foreach(v => c = c &&
      (col("terrai_cod").cast("string") === v || upper(coalesce(col("ti_nome"), lit(""))) === v))
    c
  }

  /** Timeseries auto-bucketing (main.py:392-397). */
  def granularity(days: Long): String =
    if (days > TsMonthThresholdDays) "month"
    else if (days > TsWeekThresholdDays) "week"
    else "day"

  // ------------------------------------------------ the one Spark step

  /** The one Spark step of a cube route: filter, group by at most one key,
    * aggregate, collect. Returns the aggregate's schema with its rows. */
  private def aggregate(cube: DataFrame, where: Column, key: Seq[Column],
                        aggs: Column*): (StructType, Array[Row]) = {
    val df = cube.filter(where).groupBy(key: _*).agg(aggs.head, aggs.tail: _*)
    (df.schema, df.collect())
  }

  /** A route's response: driver-side rows as a local frame. */
  private def local(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  // The aggregate shapes the routes share; validateConsistency reuses them.
  private def totalAgg(cube: DataFrame, from: LocalDate, to: LocalDate, f: Filters) =
    aggregate(cube, factWhere(from, to, f), Nil, coalesce(sum("n_focos"), lit(0)).as("n_focos"))

  private def bucketAgg(cube: DataFrame, from: LocalDate, to: LocalDate, f: Filters,
                        bucket: Column) =
    aggregate(cube, factWhere(from, to, f), Seq(bucket.as("bucket")), sum("n_focos").as("n_focos"))

  private def ufAgg(cube: DataFrame, from: LocalDate, to: LocalDate, f: Filters) =
    aggregate(cube, factWhere(from, to, f), Seq(col("uf")), sum("n_focos").as("n_focos"))

  /** The timeseries bucket for a range: the day itself, or its week/month. */
  private def bucketOf(from: LocalDate, to: LocalDate): Column =
    granularity(java.time.temporal.ChronoUnit.DAYS.between(from, to)) match {
      case "day" => col("day")
      case g => date_trunc(g, col("day")).cast("date")
    }

  /** Σ of a collected long column, nulls skipped (SQL `sum`). */
  private def sumOf(rows: Seq[Row], i: Int): Long =
    rows.iterator.filterNot(_.isNullAt(i)).map(_.getLong(i)).sum

  /** Spark's ascending order over collected values: nulls first, strings
    * in UTF-8 byte order (as `UTF8String` compares them), the rest by their
    * natural order. */
  private val sparkAsc: Ordering[Any] = new Ordering[Any] {
    def compare(a: Any, b: Any): Int = (a, b) match {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x: String, y: String) => UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
      case (x: Comparable[_], y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
    }
  }

  /** `ORDER BY n_focos DESC, key ASC` over collected rows (Spark's DESC
    * puts nulls last, as the reversed [[sparkAsc]] does). */
  private def countDescKeyAsc(n: Int, key: Int): Ordering[Row] =
    Ordering.by[Row, Any](_.get(n))(sparkAsc.reverse).orElseBy(_.get(key))(sparkAsc)

  // ------------------------------------------------------------ routes

  /** /api/timeseries/total (main.py:1448-1506). */
  def timeseries(cube: DataFrame, from: LocalDate, to: LocalDate, f: Filters): DataFrame = {
    validateRange(from, to)
    val (schema, rows) = bucketAgg(cube, from, to, f, bucketOf(from, to))
    local(cube.sparkSession, schema, rows.sortBy(_.get(0))(sparkAsc).toSeq)
  }

  /** /api/totals (main.py:1597-1635). */
  def totals(cube: DataFrame, from: LocalDate, to: LocalDate, f: Filters): DataFrame = {
    validateRange(from, to)
    val (schema, rows) = totalAgg(cube, from, to, f)
    local(cube.sparkSession, schema, rows.toSeq)
  }

  /** /api/top — T1 with the municipality guardrail (main.py:1509-1594):
    * without a UF filter, `mun` is capped at 10 regardless of the requested
    * limit. Ordering: n_focos desc, key asc — fully tiebroken.
    */
  def top(cube: DataFrame, from: LocalDate, to: LocalDate, f: Filters,
          by: String, limit: Int): DataFrame = {
    validateRange(from, to)
    require(limit >= 1 && limit <= 100, "limit must be 1..100")
    val (keyCol, nameCol) = by match {
      case "uf" => (col("uf"), col("uf"))
      case "mun" => (col("cd_mun"), col("mun_nm_mun"))
      case "bioma" => (col("cd_bioma"), col("bioma"))
      case "uc" => (col("cd_cnuc"), col("uc_nome"))
      case "ti" => (col("terrai_cod"), col("ti_nome"))
      case other => throw new IllegalArgumentException(s"unsupported top dimension: $other")
    }
    val effLimit =
      if (by == "mun" && normalizeFilters(f).uf.isEmpty) math.min(limit, MunGuardrailLimit)
      else limit
    val (schema, rows) = aggregate(cube, factWhere(from, to, f) && keyCol.isNotNull,
      Seq(keyCol.as("key")), max(nameCol).as("name"), sum("n_focos").as("n_focos"))
    local(cube.sparkSession, schema, rows.sorted(countDescKeyAsc(2, 0)).take(effLimit).toSeq)
  }

  private val SummarySchema = StructType(Seq(
    StructField("total_focos", LongType, nullable = false),
    StructField("mean_daily", DoubleType),
    StructField("peak_day", DateType),
    StructField("peak_n", LongType)))

  /** /api/summary — totals + mean + peak day (T2 tiebreak: n_focos desc,
    * day asc; main.py:1638-1710), from the day-keyed aggregate rows: the
    * total, the mean of the daily counts rounded HALF_UP to 2 places, and
    * the day with the highest count, the earliest on ties.
    */
  def summary(cube: DataFrame, from: LocalDate, to: LocalDate, f: Filters): DataFrame = {
    validateRange(from, to)
    val days = bucketAgg(cube, from, to, f, col("day"))._2.toSeq
    val counted = days.filterNot(_.isNullAt(1))
    val mean = if (counted.isEmpty) None else Some(BigDecimal(
      counted.map(_.getLong(1).toDouble).sum / counted.length)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // a null count ranks below every count, as in max_by over struct(n, -day)
    val peak = days.maxByOption(r =>
      (if (r.isNullAt(1)) None else Some(r.getLong(1)), -r.getDate(0).toLocalDate.toEpochDay))
    local(cube.sparkSession, SummarySchema, Seq(Row(sumOf(days, 1),
      mean.map(Double.box).orNull, peak.map(_.getDate(0)).orNull,
      counted.map(_.getLong(1)).maxOption.map(Long.box).orNull)))
  }

  /** /api/points — T3 limit+1 truncation probe (main.py:496-526):
    * fetches lim+1 rows in ONE job (TakeOrderedAndProject) and slices
    * driver-side, exactly as the reference fetches limit+1 rows in a single
    * query — no second execution for the truncation flag.
    */
  def points(facts: DataFrame, from: LocalDate, to: LocalDate,
             bbox: Option[(Double, Double, Double, Double)],
             limit: Int = PointsDefaultLimit): (Seq[org.apache.spark.sql.Row], Boolean) = {
    validateRange(from, to)
    val lim = math.min(limit, PointsHardCap)
    var c = col("file_date") >= lit(Date.valueOf(from)) &&
      col("file_date") < lit(Date.valueOf(to))
    bbox.foreach { case (minLon, minLat, maxLon, maxLat) =>
      require(minLon < maxLon && minLat < maxLat, "invalid bbox")
      c = c && col("lon") >= minLon && col("lon") <= maxLon &&
        col("lat") >= minLat && col("lat") <= maxLat
    }
    val taken = facts.filter(c).orderBy(col("file_date"), col("event_hash")).take(lim + 1)
    (taken.take(lim).toSeq, taken.length > lim)
  }

  /** /api/choropleth/uf — J9: latest geometry per UF left-joined with the
    * period aggregate, zero-filled, ordered by uf (main.py:950-975).
    * `geoms` carries (uf, day, geom…) and is collected whole (≤ 27 UFs ×
    * their versions). Latest = the newest day; versions of one UF on the
    * same day are ranked by canonical GeoJSON ([[geometryGeoJson]]), then
    * by the row's rendered values, smallest first — so the choice never
    * depends on the order the rows arrive in.
    */
  def choroplethUf(cube: DataFrame, geoms: DataFrame,
                   from: LocalDate, to: LocalDate, f: Filters): DataFrame = {
    validateRange(from, to)
    // a null uf matches nothing, as in the SQL join
    val n = ufAgg(cube, from, to, f)._2.filterNot(r => r.isNullAt(0) || r.isNullAt(1))
      .map(r => r.get(0) -> r.getLong(1)).toMap
    val s = geoms.schema
    val (uf, day, geom) = (s.fieldIndex("uf"), s.fieldIndex("day"), s.fieldIndex("geom"))
    val kept = s.indices.filter(i => i != uf && i != day)
    val latestFirst = Ordering.by[Row, Any](_.get(day))(sparkAsc.reverse)
      .orElseBy(r => if (r.isNullAt(geom)) "" else geometryGeoJson(geomAt(r, geom)))
      .orElseBy(_.mkString("\u0000"))
    val rows = geoms.collect().groupBy(_.get(uf)).values.map(_.min(latestFirst)).toSeq
      .sortBy(_.get(uf))(sparkAsc)
      .map(r => Row.fromSeq(r.get(uf) +: kept.map(r.get) :+ n.getOrElse(r.get(uf), 0L)))
    local(cube.sparkSession, StructType(s(uf) +: kept.map(s(_)) :+
      StructField("n_focos", LongType, nullable = false)), rows)
  }

  // ------------------------------------------------------- legend breaks

  final case class Legend(breaks: Seq[Double], domain: (Double, Double),
                          method: String, zeroClass: Boolean)

  /** Exact port of compute_breaks (api/app/main.py:255-314): nearest-rank
    * quantiles with `round((n-1)*q)` indexing over positive values, a
    * separate zero class, equal-interval fallback when quantile breaks are
    * not strictly increasing. Runs driver-side on the aggregated values
    * (≤5 570 — one per municipality), as the reference does in Python.
    */
  def computeBreaks(values: Seq[Long], k: Int = 5, zeroClass: Boolean = true): Legend = {
    val classes = math.max(1, k)
    if (values.isEmpty) return Legend(Seq(0.0, 1.0), (0.0, 0.0), "equal", zeroClass)

    val hasZeroOrLess = values.exists(_ <= 0)
    val positive = values.filter(_ > 0).sorted
    val useZeroClass = zeroClass && hasZeroOrLess && positive.nonEmpty
    val sample = if (useZeroClass && positive.nonEmpty) positive else values.sorted

    def quantile(sortedVals: Seq[Long], q: Double): Double = {
      if (sortedVals.isEmpty) return 0.0
      val n = sortedVals.length
      // Python round() = banker's rounding; (n-1)*q is k/classes * (n-1)
      val idx = math.max(0, math.min(n - 1,
        BigDecimal((n - 1) * q).setScale(0, BigDecimal.RoundingMode.HALF_EVEN).toInt))
      sortedVals(idx).toDouble
    }
    def strictlyIncreasing(vs: Seq[Double]): Boolean =
      vs.length >= 2 && vs.sliding(2).forall(p => p(1) > p(0))
    def equalBreaks(minV: Double, maxV: Double, cls: Int): Seq[Double] = {
      val c = math.max(1, cls)
      if (maxV <= minV) Seq(minV, minV + 1.0)
      else { val step = (maxV - minV) / c; (0 to c).map(i => minV + step * i) }
    }

    val uniqueSample = sample.distinct.sorted
    var method = "quantile"
    var breaks: Seq[Double] =
      if (uniqueSample.length <= 1) {
        method = "equal"
        val only = uniqueSample.headOption.map(_.toDouble).getOrElse(0.0)
        Seq(only, only + 1.0)
      } else {
        val qb = (0 to classes).map(i => quantile(sample, i.toDouble / classes))
        if (strictlyIncreasing(qb)) qb
        else {
          method = "equal"
          val eqCls = math.min(classes, math.max(2, uniqueSample.length - 1))
          equalBreaks(uniqueSample.head.toDouble, uniqueSample.last.toDouble, eqCls)
        }
      }
    if (!strictlyIncreasing(breaks)) {
      method = "equal"
      breaks = equalBreaks(sample.min.toDouble, sample.max.toDouble, 1)
    }
    Legend(breaks, (values.min.toDouble, values.max.toDouble), method, useZeroClass)
  }

  // -------------------------------------------- geometry-serving routes

  /** The multipolygon in column `i` of a collected geometry row. Row.getSeq
    * yields mutable ArraySeq at every nesting level — declare collection.Seq
    * or the immutable-Seq cast blows up at iteration time. */
  private def geomAt(r: Row, i: Int): Geo.MultiPolygon = {
    type CSeq[A] = scala.collection.Seq[A]
    r.getSeq[CSeq[CSeq[CSeq[Double]]]](i).iterator.map(_.iterator.map(
      _.iterator.map(p => (p(0), p(1))).toIndexedSeq).toIndexedSeq).toIndexedSeq
  }

  /** The geometry column type a lazy `simplifyDPUdf` call produced. */
  private val GeomType = ArrayType(ArrayType(ArrayType(ArrayType(DoubleType, containsNull = false))))

  /** /api/choropleth/mun — J10 (api/app/main.py:1020-1130): per-UF
    * municipality geometries simplified at `tol` degrees, LEFT JOIN the
    * period aggregate USING (key), zero-filled, ordered n_focos desc / key.
    * `munGeoms` carries (key, uf, geom); only the requested UF's rows are
    * collected, then simplified (ring by ring, as `simplifyDPUdf` does) and
    * merged with the municipality aggregate on the driver. The uf filter
    * is mandatory and the range capped at [[ChoroMaxDaysMun]], as in the
    * reference.
    */
  def choroplethMun(cube: DataFrame, munGeoms: DataFrame,
                    from: LocalDate, to: LocalDate, f: Filters,
                    tol: Double = ChoroSimplifyTol): DataFrame = {
    validateRange(from, to)
    val fn = normalizeFilters(f)
    require(fn.uf.nonEmpty, "uf is required for municipal choropleth")
    val days = java.time.temporal.ChronoUnit.DAYS.between(from, to)
    require(days <= ChoroMaxDaysMun,
      s"range too large for municipal choropleth; reduce to <= $ChoroMaxDaysMun days")
    val agg = aggregate(cube, factWhere(from, to, f), Seq(col("cd_mun").cast("string").as("key")),
      max("mun_nm_mun").cast("string").as("label"), sum("n_focos").as("n_focos"))._2
      .filterNot(_.isNullAt(0)).map(r => r.getString(0) -> r).toMap
    val g = munGeoms.filter(upper(col("uf").cast("string")) === fn.uf.get)
      .select(col("key").cast("string").as("key"), col("uf"), col("geom"))
    val rows = g.collect().toSeq.map { r =>
      val key = r.getString(0)
      val a = agg.get(key)
      val n = a.filterNot(_.isNullAt(2)).fold(0L)(_.getLong(2))
      Row(key, r.get(1), a.flatMap(x => Option(x.getString(1))).getOrElse(key), n,
        if (r.isNullAt(2)) null
        else geomAt(r, 2).map(_.map(ring =>
          Geo.simplifyDPChecked(ring, tol).map(p => Seq(p._1, p._2)))),
        n.toDouble / math.max(1L, days).toDouble)
    }.sorted(countDescKeyAsc(3, 0))
    val (key, uf) = (g.schema("key"), g.schema("uf"))
    local(cube.sparkSession, StructType(Seq(key, uf,
      StructField("label", StringType, key.nullable),
      StructField("n_focos", LongType, nullable = false),
      StructField("geom", GeomType),
      StructField("mean_per_day", DoubleType))), rows)
  }

  /** Legend for a choropleth result: collect the (≤5 570) aggregated values
    * driver-side and run the exact break algorithm, as the reference does
    * in Python (main.py:1096-1113). On a frame this layer returned the
    * collect reads local rows and runs no Spark job. */
  def legendFor(choropleth: DataFrame, valueCol: String = "n_focos"): Legend =
    computeBreaks(choropleth.select(col(valueCol).cast("long")).collect()
      .map(r => if (r.isNullAt(0)) 0L else r.getLong(0)).toSeq)

  /** /api/lookup/mun (main.py:1133-1208): geometry row for the key LEFT
    * JOIN the fact-derived display name; uf upper-cased for both uf fields.
    * Empty result ⇔ the reference's 404 — then the cube is not read.
    */
  def lookupMun(cube: DataFrame, munGeoms: DataFrame, key: String): DataFrame = {
    val k = normText(Some(key)).getOrElse(
      throw new IllegalArgumentException("key is required"))
    val gm = munGeoms.filter(col("key").cast("string") === k)
      .select(col("key").cast("string").as("mun"), upper(col("uf").cast("string")).as("uf"))
    val (mun, uf) = (gm.schema("mun"), gm.schema("uf"))
    val schema = StructType(Seq(mun, StructField("mun_nome", StringType, mun.nullable),
      uf, uf.copy(name = "uf_nome")))
    val rows = gm.head(1).toSeq.map { g =>
      val name = aggregate(cube, col("cd_mun").cast("string") === k, Nil,
        max("mun_nm_mun").cast("string").as("mun_nome"))._2.head
      Row(g.get(0), if (name.isNullAt(0)) g.get(0) else name.get(0), g.get(1), g.get(1))
    }
    local(cube.sparkSession, schema, rows)
  }

  private val BoundsSchema = StructType(
    Seq("minx", "miny", "maxx", "maxy", "center_lat", "center_lon").map(StructField(_, DoubleType)))

  /** /api/bounds (main.py:1211-1245, _load_bounds_bbox at 852-922): bbox of
    * the keyed geometry (ST_Extent over all of the key's rows/parts) plus
    * the center [lat, lon] (_bbox_center, main.py:849), computed on the
    * key's collected geometry rows. A missing key yields an EMPTY frame —
    * the engine's empty⇔404 contract (the reference 404s "geometry not
    * found for key", main.py:919-920).
    */
  def bounds(geoms: DataFrame, key: String, uf: Option[String] = None): DataFrame = {
    val k = normText(Some(key)).getOrElse(
      throw new IllegalArgumentException("key is required"))
    var g = geoms.filter(col("key").cast("string") === k)
    uf.flatMap(u => normText(Some(u))).foreach(u =>
      g = g.filter(upper(col("uf").cast("string")) === u))
    val boxes = g.select("geom").collect().toSeq.filterNot(_.isNullAt(0))
      .map(r => Geo.bboxOfMultiPolygon(geomAt(r, 0)))
    // SQL min/max order: NaN above every number
    val ord = Ordering.Double.TotalOrdering
    val rows = if (boxes.isEmpty) Nil else {
      val (minx, miny) = (boxes.map(_.minLon).min(ord), boxes.map(_.minLat).min(ord))
      val (maxx, maxy) = (boxes.map(_.maxLon).max(ord), boxes.map(_.maxLat).max(ord))
      Seq(Row(minx, miny, maxx, maxy, (miny + maxy) / 2.0, (minx + maxx) / 2.0))
    }
    local(geoms.sparkSession, BoundsSchema, rows)
  }

  /** Shape metrics for /api/geo + /api/geo/qa
    * (_load_geo_shape_metrics, main.py:665-800). */
  final case class ShapeMetrics(key: String, nPartsBeforeUnion: Int,
                                isValidBefore: Boolean, isValidAfter: Boolean,
                                npointsBeforeUnion: Int, npointsOut: Int,
                                areaM2UnionBefore: Double, areaM2UnionAfter: Double,
                                bbox: (Double, Double, Double, Double),
                                bboxRatio: Double, warningBboxRatio: Boolean,
                                simplifyApplied: Boolean, tolMUsed: Double,
                                geometry: Geo.MultiPolygon, coordsHash: String)

  /** Assemble + QA one key's geometry, driver-side (a single entity's
    * polygon parts — ≤ thousands of points), mirroring main.py:665-800:
    * collect the key's parts, combine (`ST_UnaryUnion(ST_Collect(...))`:
    * disjoint parts concatenate — identical region either way — and
    * genuinely overlapping parts run the exact polygon union
    * ([[graft.geo.PolyUnion]]) so union-area metrics never double-count),
    * metrics before, optional simplification (reference simplifies in
    * EPSG:3857 meters; we Douglas–Peucker in degrees at tol_m/111320 — same
    * intent, documented stand-in), metrics after, bbox, and the reference's
    * bbox_ratio exactly as written — bbox area in degrees² over area in m²
    * (main.py:780-783, copied unit-for-unit; /api/validate checks ratio ≤ 50
    * against this same definition so the two stay consistent).
    */
  def geoShapeMetrics(geoms: DataFrame, key: String,
                      simplify: Boolean = true,
                      tolM: Double = GeoSimplifyDefaultTolM): Option[ShapeMetrics] = {
    require(tolM >= 0, "tol_m must be >= 0")
    val k = normText(Some(key)).getOrElse(
      throw new IllegalArgumentException("key is required"))
    val rows = geoms.filter(col("key").cast("string") === k).select("geom").collect()
    if (rows.isEmpty) return None

    val rawParts: Geo.MultiPolygon = rows.toIndexedSeq.flatMap { r =>
      if (r.isNullAt(0)) IndexedSeq.empty[Geo.Polygon] else geomAt(r, 0)
    }
    if (rawParts.isEmpty) return None

    val npointsBefore = Geo.nPoints(rawParts)
    val validBefore = Geo.isValid(rawParts)
    // ST_UnaryUnion: for disjoint parts the concat IS the union; genuinely
    // overlapping parts get the exact union so area never double-counts
    val parts: Geo.MultiPolygon =
      if (Geo.partsBBoxOverlap(rawParts)) PolyUnion.union(rawParts) else rawParts
    val areaBefore = parts.map(Geo.polygonAreaSqMeters).sum
    val out: Geo.MultiPolygon =
      if (simplify) parts.map(_.map(r => Geo.simplifyDPChecked(r, tolM / 111320.0)))
      else parts
    val areaAfter = out.map(Geo.polygonAreaSqMeters).sum
    val bb = Geo.bboxOfMultiPolygon(out)
    val bboxArea = math.max(0.0, bb.maxLon - bb.minLon) * math.max(0.0, bb.maxLat - bb.minLat)
    val ratio = bboxArea / math.max(areaAfter, 1e-12)
    Some(ShapeMetrics(k,
      nPartsBeforeUnion = rawParts.length,
      isValidBefore = validBefore, isValidAfter = Geo.isValid(out),
      npointsBeforeUnion = npointsBefore, npointsOut = Geo.nPoints(out),
      areaM2UnionBefore = areaBefore, areaM2UnionAfter = areaAfter,
      bbox = (bb.minLon, bb.minLat, bb.maxLon, bb.maxLat),
      bboxRatio = ratio, warningBboxRatio = ratio > 50.0,
      simplifyApplied = simplify, tolMUsed = if (simplify) tolM else 0.0,
      geometry = out, coordsHash = coordsHash(out)))
  }

  /** sha1[:16] of the canonical GeoJSON (_coords_hash, main.py:660-662:
    * json.dumps(sort_keys=True, separators=(",",":"))). */
  def coordsHash(mp: Geo.MultiPolygon): String = {
    val digest = java.security.MessageDigest.getInstance("SHA-1")
      .digest(geometryGeoJson(mp).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    digest.map("%02x".format(_)).mkString.take(16)
  }

  /** ST_AsGeoJSON analog: the canonical (sorted-keys, compact-separator)
    * MultiPolygon GeoJSON string — the overlay payload of /api/geo
    * (st_asgeojson(geom_out)::jsonb, main.py:760). */
  def geometryGeoJson(mp: Geo.MultiPolygon): String = {
    val sb = new StringBuilder
    sb.append("{\"coordinates\":[")
    mp.zipWithIndex.foreach { case (poly, pi) =>
      if (pi > 0) sb.append(',')
      sb.append('[')
      poly.zipWithIndex.foreach { case (ring, ri) =>
        if (ri > 0) sb.append(',')
        sb.append('[')
        ring.zipWithIndex.foreach { case ((lon, lat), i) =>
          if (i > 0) sb.append(',')
          sb.append('[').append(pyNum(lon)).append(',').append(pyNum(lat)).append(']')
        }
        sb.append(']')
      }
      sb.append(']')
    }
    sb.append("],\"type\":\"MultiPolygon\"}")
    sb.toString
  }

  /** Python json number repr: integral floats print as "N.0", others via
    * shortest round-trip decimal (Java's Double.toString agrees on the
    * post-parse coordinate domain; exponent-form corners documented). */
  private def pyNum(x: Double): String = {
    if (x == math.rint(x) && math.abs(x) < 1e16) {
      val l = x.toLong
      s"$l.0"
    } else x.toString
  }

  /** /api/geo fact side (main.py:1294-1317): the filtered fact sum for one
    * entity key, label falling back key-ward; display label is cleaned with
    * the mojibake repair. entity ∈ {uc, ti} (GeoEntity, main.py:58).
    */
  def geoOverlayStats(cube: DataFrame, entity: String, key: String,
                      from: LocalDate, to: LocalDate, f: Filters): DataFrame = {
    validateRange(from, to)
    val k = normText(Some(key)).getOrElse(
      throw new IllegalArgumentException("key is required"))
    val (keyCol, labelCol) = entity match {
      case "uc" => (col("cd_cnuc"), col("uc_nome"))
      case "ti" => (col("terrai_cod"), col("ti_nome"))
      case other => throw new IllegalArgumentException(s"unsupported geo entity: $other")
    }
    val withKeyFilter = entity match {
      case "uc" => f.copy(uc = Some(k))
      case _ => f.copy(ti = Some(k))
    }
    val r = aggregate(cube, factWhere(from, to, withKeyFilter) && keyCol.cast("string") === k, Nil,
      max(labelCol).cast("string").as("label"), coalesce(sum("n_focos"), lit(0L)).as("n_focos"))._2.head
    local(cube.sparkSession, OverlaySchema, Seq(Row(entity, k,
      TextFunctions.cleanDisplayLabel(if (r.isNullAt(0)) k else r.getString(0)), r.getLong(1))))
  }

  private val OverlaySchema = StructType(Seq(
    StructField("entity", StringType, nullable = false),
    StructField("key", StringType, nullable = false),
    StructField("label", StringType),
    StructField("n_focos", LongType, nullable = false)))

  /** /api/validate legend-monotonicity check (main.py:1792-1820). */
  def legendMonotonic(l: Legend): Boolean =
    l.breaks.length >= 2 && l.breaks.sliding(2).forall(p => p(1) > p(0))

  /** /api/validate consistency triple (main.py:1733-1790): totals ==
    * timeseries sum == per-entity (choropleth) sum under any filter combo.
    * The three sums run the aggregates of [[totals]], [[timeseries]] and
    * [[choroplethUf]] concurrently.
    */
  def validateConsistency(cube: DataFrame, from: LocalDate, to: LocalDate,
                          f: Filters): (Long, Long, Long) = {
    validateRange(from, to)
    val Seq(total, tsSum, byUf) = Pipeline.inParallel(Seq(
      () => totalAgg(cube, from, to, f)._2.head.getLong(0),
      () => sumOf(bucketAgg(cube, from, to, f, bucketOf(from, to))._2.toSeq, 1),
      () => sumOf(ufAgg(cube, from, to, f)._2.toSeq, 1)), threads = 3)
    (total, tsSum, byUf)
  }
}
