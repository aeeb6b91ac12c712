package graft.serve

import java.sql.Date
import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{GeoFunctions, TextFunctions}
import graft.geo.{Geo, PolyUnion}

/** The serving layer: parameterized query functions mirroring the
  * reference's 11 API routes over the persisted fact cube
  * (api/app/main.py:925-1866). The engine deliverable is these functions,
  * not an HTTP server (SURVEY §3 EP3).
  *
  * All functions take the fact cube (`mv_focos_day_dim` shape: day, uf,
  * cd_uf, cd_mun, mun_nm_mun, bioma, cd_bioma, uc_nome, cd_cnuc, ti_nome,
  * terrai_cod, n_focos) and return DataFrames; the driver-side scalars
  * (legend breaks) collect only the ≤ thousands of aggregated values, never
  * facts.
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

  /** /api/timeseries/total (main.py:1448-1506). */
  def timeseries(cube: DataFrame, from: LocalDate, to: LocalDate, f: Filters): DataFrame = {
    validateRange(from, to)
    val days = java.time.temporal.ChronoUnit.DAYS.between(from, to)
    val bucket = granularity(days) match {
      case "day" => col("day")
      case g => date_trunc(g, col("day")).cast("date")
    }
    cube.filter(factWhere(from, to, f))
      .groupBy(bucket.as("bucket"))
      .agg(sum("n_focos").as("n_focos"))
      .orderBy("bucket")
  }

  /** /api/totals (main.py:1597-1635). */
  def totals(cube: DataFrame, from: LocalDate, to: LocalDate, f: Filters): DataFrame = {
    validateRange(from, to)
    cube.filter(factWhere(from, to, f))
      .agg(coalesce(sum("n_focos"), lit(0)).as("n_focos"))
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
    cube.filter(factWhere(from, to, f) && keyCol.isNotNull)
      .groupBy(keyCol.as("key"))
      .agg(max(nameCol).as("name"), sum("n_focos").as("n_focos"))
      .orderBy(col("n_focos").desc, col("key").asc)
      .limit(effLimit)
  }

  /** /api/summary — totals + mean + peak day (T2 tiebreak: n_focos desc,
    * day asc; main.py:1638-1710). Single-pass: max_by with struct ordering.
    */
  def summary(cube: DataFrame, from: LocalDate, to: LocalDate, f: Filters): DataFrame = {
    validateRange(from, to)
    val daily = cube.filter(factWhere(from, to, f))
      .groupBy("day").agg(sum("n_focos").as("n"))
    daily.agg(
      coalesce(sum("n"), lit(0)).as("total_focos"),
      round(avg("n"), 2).as("mean_daily"),
      max_by(col("day"), struct(col("n"), to_timestamp(col("day")).cast("long") * -1))
        .as("peak_day"),
      max("n").as("peak_n"))
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
    * period aggregate, zero-filled (main.py:950-975). `geoms` carries
    * (uf, day, geom…); latest = row_number by day desc.
    */
  def choroplethUf(cube: DataFrame, geoms: DataFrame,
                   from: LocalDate, to: LocalDate, f: Filters): DataFrame = {
    validateRange(from, to)
    val agg = cube.filter(factWhere(from, to, f))
      .groupBy("uf").agg(sum("n_focos").as("n_focos"))
    val latest = geoms.withColumn("rn", row_number().over(
        Window.partitionBy("uf").orderBy(col("day").desc)))
      .filter(col("rn") === 1).drop("rn", "day")
    latest.join(agg, Seq("uf"), "left")
      .withColumn("n_focos", coalesce(col("n_focos"), lit(0)))
      .orderBy("uf")
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

  /** /api/choropleth/mun — J10 (api/app/main.py:1020-1130): per-UF
    * municipality geometries simplified at `tol` degrees, LEFT JOIN the
    * period aggregate USING (key), zero-filled, ordered n_focos desc / key.
    * `munGeoms` carries (key, uf, geom). The uf filter is mandatory and the
    * range capped at [[ChoroMaxDaysMun]], as in the reference.
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

  /** Legend for a choropleth result: collect the (≤5 570) aggregated values
    * driver-side and run the exact break algorithm, as the reference does
    * in Python (main.py:1096-1113). */
  def legendFor(choropleth: DataFrame, valueCol: String = "n_focos"): Legend =
    computeBreaks(choropleth.select(col(valueCol).cast("long")).collect()
      .map(r => if (r.isNullAt(0)) 0L else r.getLong(0)).toSeq)

  /** /api/lookup/mun (main.py:1133-1208): geometry row for the key LEFT
    * JOIN the fact-derived display name; uf upper-cased for both uf fields.
    * Empty result ⇔ the reference's 404.
    */
  def lookupMun(cube: DataFrame, munGeoms: DataFrame, key: String): DataFrame = {
    val k = normText(Some(key)).getOrElse(
      throw new IllegalArgumentException("key is required"))
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

  /** /api/bounds (main.py:1211-1245, _load_bounds_bbox at 852-922): bbox of
    * the keyed geometry (ST_Extent over all of the key's rows/parts) plus
    * the center [lat, lon] (_bbox_center, main.py:849).
    */
  def bounds(geoms: DataFrame, key: String, uf: Option[String] = None): DataFrame = {
    val k = normText(Some(key)).getOrElse(
      throw new IllegalArgumentException("key is required"))
    var g = geoms.filter(col("key").cast("string") === k)
    uf.flatMap(u => normText(Some(u))).foreach(u =>
      g = g.filter(upper(col("uf").cast("string")) === u))
    g.withColumn("bb", GeoFunctions.bboxUdf(col("geom")))
      .agg(min("bb._1").as("minx"), min("bb._2").as("miny"),
        max("bb._3").as("maxx"), max("bb._4").as("maxy"))
      // a global agg over an empty set yields one all-null row; drop it so a
      // missing key yields an EMPTY frame — the engine's empty⇔404 contract
      // (the reference 404s "geometry not found for key", main.py:919-920)
      .filter(col("minx").isNotNull)
      .withColumn("center_lat", (col("miny") + col("maxy")) / 2.0)
      .withColumn("center_lon", (col("minx") + col("maxx")) / 2.0)
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

    // Row.getSeq yields mutable ArraySeq at every nesting level — declare
    // collection.Seq or the immutable-Seq cast blows up at iteration time
    type CSeq[A] = scala.collection.Seq[A]
    def toMP(raw: CSeq[CSeq[CSeq[CSeq[Double]]]]): Geo.MultiPolygon =
      raw.iterator.map(_.iterator.map(
        _.iterator.map(p => (p(0), p(1))).toIndexedSeq).toIndexedSeq).toIndexedSeq
    val rawParts: Geo.MultiPolygon = rows.toIndexedSeq.flatMap { r =>
      if (r.isNullAt(0)) IndexedSeq.empty[Geo.Polygon]
      else toMP(r.getSeq[CSeq[CSeq[CSeq[Double]]]](0))
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
    cube.filter(factWhere(from, to, withKeyFilter) && keyCol.cast("string") === k)
      .agg(TextFunctions.cleanDisplayLabelUdf(
        coalesce(max(labelCol).cast("string"), lit(k))).as("label"),
        coalesce(sum("n_focos"), lit(0L)).as("n_focos"))
      .withColumn("entity", lit(entity)).withColumn("key", lit(k))
      .select("entity", "key", "label", "n_focos")
  }

  /** /api/validate legend-monotonicity check (main.py:1792-1820). */
  def legendMonotonic(l: Legend): Boolean =
    l.breaks.length >= 2 && l.breaks.sliding(2).forall(p => p(1) > p(0))

  /** /api/validate consistency triple (main.py:1733-1790): totals ==
    * timeseries sum == per-entity (choropleth) sum under any filter combo.
    */
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
