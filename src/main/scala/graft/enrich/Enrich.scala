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
  * evaluates them before the opaque PIP UDF — the Spark analog of the
  * reference's `s.geom && b.geom AND st_intersects(...)` GiST prefilter.
  * The fact side never shuffles for the join itself; only window argmin
  * steps repartition, and those run on the (small) matched subset.
  *
  * Dimension DataFrames must carry: dim_id, code/name columns, `geom`
  * (nested-array multipolygon) and min_lon/min_lat/max_lon/max_lat.
  */
object Enrich {

  private[graft] def bboxPre(lonC: Column, latC: Column): Column =
    lonC >= col("min_lon") && lonC <= col("max_lon") &&
      latC >= col("min_lat") && latC <= col("max_lat")

  private[graft] def pip(lonC: Column, latC: Column): Column =
    GeoFunctions.pointInMultiPolygon(lonC, latC, col("geom"))

  /** J2+J3 — municipality enrichment: exact PIP first; for the remainder,
    * nearest municipality within `knnMaxMeters` (geography distance to the
    * polygon boundary), matching 20_enrich_municipio.sql:43-74.
    *
    * Shape: ONE linear pipeline — PIP left-join → per-event argmin window
    * → KNN left-join (candidates attach only to still-unmatched rows via
    * the join predicate itself) → per-event argmin window → accept-or-null.
    * The earlier matched/unmatched branch-and-union form re-executed the
    * PIP join once per branch and re-built the whole KNN candidate subtree
    * a second time inside a broadcast anti-join (Spark does not
    * materialize shared subtrees) — at 100 TB that is the expensive
    * point-in-polygon kernel run TWICE over the day's facts. The linear
    * form evaluates PIP once and the distance kernel once, and both
    * windows key on `event_hash`, so the broadcast joins preserve the
    * first window's partitioning and the whole chain costs ONE shuffle —
    * of the day's batch only (enrichment is per-day incremental), never
    * history.
    *
    * @param facts must carry `event_hash`, `lon`, `lat`
    * @param municipios dim with cd_mun, nm_mun, uf, area_km2 + geom/bbox
    */
  def enrichMunicipio(facts: DataFrame, municipios: DataFrame,
                      knnMaxMeters: Double = 2000.0): DataFrame = {
    val dim = municipios.select(
      col("cd_mun").as("mun_cd_mun"), col("nm_mun").as("mun_nm_mun"),
      col("uf").as("mun_uf"), col("area_km2").as("mun_area_km2"),
      col("geom"), col("min_lon"), col("min_lat"), col("max_lon"), col("max_lat"))

    // exactly one assignment per event even when a boundary point falls in
    // two overlapping municipality polygons — mirrors the reference UPDATE
    // (one row per fact, lowest code wins), and keeps Pipeline.checkDay's
    // curated==enriched conservation invariant intact.
    val exact = facts.join(broadcast(dim),
        bboxPre(col("lon"), col("lat")) && pip(col("lon"), col("lat")), "left")
      .drop("geom", "min_lon", "min_lat", "max_lon", "max_lat")
      .withColumn("__rn", row_number().over(
        Window.partitionBy("event_hash").orderBy(col("mun_cd_mun").asc_nulls_last)))
      .filter(col("__rn") === 1).drop("__rn")

    // KNN fallback: candidate municipalities whose bbox expanded by ~2 km
    // contains the point; argmin by boundary distance; accept ≤ cutoff.
    // `mun_cd_mun IS NULL` inside the join predicate keeps exact-matched
    // rows candidate-free (they ride through the left join as one row).
    val padDeg = knnMaxMeters / 111000.0 * 1.5
    val knnDim = municipios.select(
      col("cd_mun").as("knn_cd_mun"), col("nm_mun").as("knn_nm_mun"),
      col("uf").as("knn_uf"), col("area_km2").as("knn_area_km2"),
      col("geom"), col("min_lon"), col("min_lat"), col("max_lon"), col("max_lat"))
    val accept = col("dist_m") <= knnMaxMeters // null dist (no candidate) → false
    exact.join(broadcast(knnDim),
        col("mun_cd_mun").isNull &&
          col("lon") >= col("min_lon") - padDeg && col("lon") <= col("max_lon") + padDeg &&
          col("lat") >= col("min_lat") - padDeg && col("lat") <= col("max_lat") + padDeg,
        "left")
      .withColumn("dist_m", GeoFunctions.distanceToMultiPolygonMeters(
        col("lon"), col("lat"), col("geom")))
      .withColumn("__rn", row_number().over(
        // nulls LAST: a null-distance candidate (null geom, populated bbox)
        // must not take rank 1 and shadow a real candidate within the cutoff
        Window.partitionBy("event_hash")
          .orderBy(col("dist_m").asc_nulls_last, col("knn_cd_mun").asc_nulls_last)))
      .filter(col("__rn") === 1)
      .withColumn("mun_cd_mun", coalesce(col("mun_cd_mun"), when(accept, col("knn_cd_mun"))))
      .withColumn("mun_nm_mun", coalesce(col("mun_nm_mun"), when(accept, col("knn_nm_mun"))))
      .withColumn("mun_uf", coalesce(col("mun_uf"), when(accept, col("knn_uf"))))
      .withColumn("mun_area_km2", coalesce(col("mun_area_km2"), when(accept, col("knn_area_km2"))))
      .drop("__rn", "dist_m", "knn_cd_mun", "knn_nm_mun", "knn_uf", "knn_area_km2",
        "geom", "min_lon", "min_lat", "max_lon", "max_lat")
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
      (col("dim_id") +: (outCols.keys.toSeq ++ extraOrder).map(col) :+
        col("geom") :+ col("min_lon") :+ col("min_lat") :+
        col("max_lon") :+ col("max_lat")): _*)

    val joined = facts.join(broadcast(dimSel),
        bboxPre(col("lon"), col("lat")) && pip(col("lon"), col("lat")), "left")
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_hash").orderBy(col(orderCol).asc_nulls_last)))
      .filter(col("rn") === 1)

    val renamed = outCols.foldLeft(joined) { case (df, (dimCol, outCol)) =>
      df.withColumn(outCol, col(dimCol))
    }
    renamed
      .withColumn(checkedFlag, lit(true))
      .drop("rn", "dim_id", "geom", "min_lon", "min_lat", "max_lon", "max_lat")
      .drop(extraOrder: _*)
      .drop(outCols.keys.toSeq.filterNot(k => outCols(k) == k): _*)
  }

  /** J1 — new-rows-only increment: curated rows whose hash is not yet
    * enriched (20_enrich_municipio.sql:31-41). */
  def newRowsOnly(curated: DataFrame, enriched: DataFrame): DataFrame =
    curated.join(enriched.select("event_hash"), Seq("event_hash"), "left_anti")
}
