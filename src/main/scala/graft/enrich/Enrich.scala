package graft.enrich

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions

/** Spatial enrichment: point-in-polygon joins of the fact table against
  * small polygon dimensions, with the KNN ≤2 km fallback for coastal
  * points (sql/enrich/20_enrich_municipio.sql, 21_enrich_biomas_ucs_tis.sql).
  *
  * Scale design: every dimension (≤5 570 municipalities) broadcasts; the
  * join predicate leads with *plain column* bbox comparisons so Catalyst
  * evaluates them before the opaque PIP kernel — the Spark analog of the
  * reference's `s.geom && b.geom AND st_intersects(...)` GiST prefilter.
  * The fact side never shuffles for the join itself; only the per-event
  * keep-first window repartitions, and it runs on the day's batch only.
  * Each polygon layer is ONE broadcast join and ONE window; this object
  * holds the engine's only point-in-polygon joins.
  *
  * Dimension DataFrames must carry: dim_id, code/name columns, `geom`
  * (nested-array multipolygon) and min_lon/min_lat/max_lon/max_lat.
  */
object Enrich {

  /** The municipality fallback's cutoff: the nearest municipality is taken
    * only within this boundary distance (20_enrich_municipio.sql:74). */
  private val KnnMaxMeters = 2000.0

  private val GeomCols = Seq("geom", "min_lon", "min_lat", "max_lon", "max_lat")

  /** The point lies in the dim row's bbox grown by `padDeg` degrees. */
  private def inBbox(padDeg: Double = 0.0): Column =
    col("lon") >= col("min_lon") - padDeg && col("lon") <= col("max_lon") + padDeg &&
      col("lat") >= col("min_lat") - padDeg && col("lat") <= col("max_lat") + padDeg

  private def pip: Column = GeoFunctions.pointInMultiPolygon(col("lon"), col("lat"), col("geom"))

  /** The one PIP join: every fact left-joined to each broadcast dim row
    * whose bbox and polygon contain it, the dim's geometry columns dropped.
    * A fact inside several polygons appears once per polygon; one inside
    * none appears once with null dim columns. */
  private[graft] def pipJoin(facts: DataFrame, dim: DataFrame): DataFrame =
    facts.join(broadcast(dim), inBbox() && pip, "left").drop(GeomCols: _*)

  /** One row per `event_hash`: the first in `order`. */
  private def firstPerEvent(df: DataFrame, order: Column*): DataFrame =
    df.withColumn("__rn", row_number().over(Window.partitionBy("event_hash").orderBy(order: _*)))
      .filter(col("__rn") === 1).drop("__rn")

  /** J2+J3 — municipality enrichment: the lowest code among the
    * municipalities containing the point; else the nearest within
    * `KnnMaxMeters` (geography distance to the polygon boundary, lowest
    * code on ties); else null — 20_enrich_municipio.sql:43-74.
    *
    * The reference's two statements (exact UPDATE, then KNN for the rest)
    * are ONE ranked join here: each fact left-joins every municipality
    * whose bbox, padded by ~2 km, holds it; a candidate is a `hit` when the
    * unpadded bbox and the polygon contain the point, and only non-hits pay
    * the distance kernel. One window keeps, per event, the first of
    * `hit desc, distance asc nulls last, code asc nulls last` — a null
    * distance (null geometry) never shadows a real candidate — and the
    * municipality columns survive only for a hit or a distance within the
    * cutoff. So the day's facts cross the municipality dim once and shuffle
    * once, and exactly one row per fact comes out (Pipeline.checkDay's
    * curated == enriched invariant).
    *
    * @param facts must carry `event_hash`, `lon`, `lat`
    * @param municipios dim with cd_mun, nm_mun, uf, area_km2 + geom/bbox
    */
  def enrichMunicipio(facts: DataFrame, municipios: DataFrame): DataFrame = {
    val munCols = Seq("mun_cd_mun", "mun_nm_mun", "mun_uf", "mun_area_km2")
    val dim = municipios.select(
      (Seq("cd_mun", "nm_mun", "uf", "area_km2").zip(munCols).map { case (c, m) => col(c).as(m) } ++
        GeomCols.map(col)): _*)
    val padDeg = KnnMaxMeters / 111000.0 * 1.5
    val hit = coalesce(inBbox() && pip, lit(false))
    val candidates = facts.join(broadcast(dim), inBbox(padDeg), "left")
      .withColumn("__hit", hit)
      .withColumn("__dist", when(!col("__hit"),
        GeoFunctions.distanceToMultiPolygonMeters(col("lon"), col("lat"), col("geom"))))
      .drop(GeomCols: _*)
    val keep = col("__hit") || col("__dist") <= KnnMaxMeters // null distance → null → dropped
    firstPerEvent(candidates,
        col("__hit").desc, col("__dist").asc_nulls_last, col("mun_cd_mun").asc_nulls_last)
      .withColumns(munCols.map(c => c -> when(keep, col(c))).toMap)
      .drop("__hit", "__dist")
  }

  /** J4/W6 — generic first-match PIP enrichment (biome / UC / TI):
    * bbox && PIP join, ties broken by lowest dim_id (the reference's
    * `distinct on (event_hash) order by event_hash, b.id`,
    * 21_enrich_biomas_ucs_tis.sql:33-43). The J5 view flavor
    * (sqlm/marts/canonical/055_v_focos_enriched_full.sql:36-65) orders by
    * *code* instead — pass `orderCol` to select the tiebreak column.
    *
    * @param outCols mapping dimCol -> outputCol to denormalize
    * @param orderCol dim column that breaks first-match ties (default the
    *                 surrogate id; J5 passes the code column)
    */
  def enrichFirstMatch(facts: DataFrame, dim: DataFrame,
                       outCols: Map[String, String],
                       checkedFlag: String,
                       orderCol: String = "dim_id"): DataFrame = {
    val extraOrder =
      if (orderCol == "dim_id" || outCols.contains(orderCol)) Seq.empty[String]
      else Seq(orderCol)
    val dimSel = dim.select(
      (col("dim_id") +: (outCols.keys.toSeq ++ extraOrder ++ GeomCols).map(col)): _*)

    val first = firstPerEvent(pipJoin(facts, dimSel), col(orderCol).asc_nulls_last)
    val renamed = outCols.foldLeft(first) { case (df, (dimCol, outCol)) =>
      df.withColumn(outCol, col(dimCol))
    }
    renamed
      .withColumn(checkedFlag, lit(true))
      .drop("dim_id")
      .drop(extraOrder: _*)
      .drop(outCols.keys.toSeq.filterNot(k => outCols(k) == k): _*)
  }
}
