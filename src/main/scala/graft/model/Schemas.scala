package graft.model

import org.apache.spark.sql.types._

/** Schemas for the fire-hotspot engine tables (SURVEY §1).
  *
  * Geometry on dimension rows is GeoJSON-style nested arrays plus
  * precomputed bbox columns — the bbox conjuncts are plain column
  * comparisons Catalyst can evaluate before any geometry UDF runs
  * (the `&&`-prefilter idiom of sql/enrich/21_enrich_biomas_ucs_tis.sql:41).
  */
object Schemas {

  val multiPolygonType: DataType =
    ArrayType(ArrayType(ArrayType(ArrayType(DoubleType))))

  /** Dimension with polygon geometry + bbox (municipality, biome, UC, TI). */
  def dimSchema(codeCol: String, nameCol: String, extra: Seq[StructField] = Nil): StructType =
    StructType(Seq(
      StructField("dim_id", LongType, nullable = false),
      StructField(codeCol, StringType),
      StructField(nameCol, StringType)) ++ extra ++ Seq(
      StructField("geom", multiPolygonType),
      StructField("min_lon", DoubleType), StructField("min_lat", DoubleType),
      StructField("max_lon", DoubleType), StructField("max_lat", DoubleType)))

  val municipioSchema: StructType =
    dimSchema("cd_mun", "nm_mun", Seq(
      StructField("uf", StringType), StructField("area_km2", DoubleType)))
}
