package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row => SRow, SparkSession}
import org.apache.spark.sql.types._

import graft.model.Schemas

/** Engine-facing forms of the generated dimensions. */
object Dims {
  private def geom(f: Feature): Seq[Seq[Seq[Seq[Double]]]] =
    Seq(Seq(f.ring.toSeq.map { case (x, y) => Seq(x, y) }))
  private def bbox(f: Feature): Seq[Any] = Seq(f.minLon, f.minLat, f.maxLon, f.maxLat)

  private def local(spark: SparkSession, schema: StructType, rows: Seq[SRow]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  def municipios(spark: SparkSession, g: GeoDims): DataFrame =
    local(spark, Schemas.municipioSchema, g.municipios.toSeq.map(f =>
      SRow.fromSeq(Seq(f.id, f.code, f.name, f.uf, f.area, geom(f)) ++ bbox(f))))
  private def plain(spark: SparkSession, fs: Array[Feature], code: String, name: String) =
    local(spark, Schemas.dimSchema(code, name), fs.toSeq.map(f =>
      SRow.fromSeq(Seq(f.id, f.code, f.name, geom(f)) ++ bbox(f))))
  def biomas(spark: SparkSession, g: GeoDims): DataFrame = plain(spark, g.biomes, "cd_bioma", "bioma_nome")
  def ucs(spark: SparkSession, g: GeoDims): DataFrame = plain(spark, g.ucs, "cd_cnuc", "nome_uc")
  def tis(spark: SparkSession, g: GeoDims): DataFrame = plain(spark, g.tis, "terrai_cod", "terrai_nom")

  /** Serving geometry tables: (key, uf, geom) per feature. */
  def keyed(spark: SparkSession, fs: Array[Feature]): DataFrame =
    local(spark, StructType(Seq(StructField("key", StringType), StructField("uf", StringType),
      StructField("geom", Schemas.multiPolygonType))),
      fs.toSeq.map(f => SRow(f.code, f.uf, geom(f))))

  /** UF geometry: the bbox rectangle of the UF's cells, one version per UF. */
  def ufGeoms(spark: SparkSession, g: GeoDims): DataFrame = {
    val rows = g.municipios.groupBy(_.uf).toSeq.sortBy(_._1).map { case (uf, fs) =>
      val (x0, y0, x1, y1) = (fs.map(_.minLon).min, fs.map(_.minLat).min, fs.map(_.maxLon).max, fs.map(_.maxLat).max)
      SRow(uf, java.sql.Date.valueOf("2024-01-01"),
        Seq(Seq(Seq(Seq(x0, y0), Seq(x1, y0), Seq(x1, y1), Seq(x0, y1), Seq(x0, y0)))))
    }
    local(spark, StructType(Seq(StructField("uf", StringType), StructField("day", DateType),
      StructField("geom", Schemas.multiPolygonType))), rows)
  }
}

/** Dashboard facts: `n` points per day over `days` days, one row each, with
  * the generator's placement (municipality, biome, UC, TI). */
final class ServeFacts(val geo: GeoDims, seed: Long, val start: LocalDate, val days: Int, perDay: Int) {
  val day: Array[Int] = new Array[Int](days * perDay)
  val place: Array[Place] = new Array[Place](days * perDay)
  val hash: Array[String] = new Array[String](days * perDay)
  locally {
    var k = 0
    (0 until days).foreach { d =>
      val r = Rng.stream(seed, 8, d)
      (0 until perDay).foreach { _ =>
        day(k) = d; place(k) = geo.place(r, geo.randomKind(r))
        hash(k) = f"${r.nextLong()}%016x"; k += 1
      }
    }
  }
  def n: Int = day.length
  def date(d: Int): java.sql.Date = java.sql.Date.valueOf(start.plusDays(d.toLong))

  /** The enriched-fact columns `Marts.factCube` and `Serve.points` read. */
  def frame(spark: SparkSession): DataFrame = {
    val s = StructType(Seq("event_hash", "file_date", "lat", "lon", "view_ts", "mun_uf", "cd_uf",
      "mun_cd_mun", "mun_nm_mun", "bioma", "cd_bioma", "uc_nome", "cd_cnuc", "ti_nome", "terrai_cod")
      .map(c => StructField(c, c match {
        case "file_date" => DateType
        case "lat" | "lon" => DoubleType
        case _ => StringType
      })))
    val rows = (0 until n).map { k =>
      val p = place(k)
      val m = if (p.mun >= 0) Some(geo.municipios(p.mun)) else None
      val b = if (p.biome >= 0) Some(geo.biomes(p.biome)) else None
      val u = if (p.uc >= 0) Some(geo.ucs(p.uc)) else None
      val t = if (p.ti >= 0) Some(geo.tis(p.ti)) else None
      SRow(hash(k), date(day(k)), p.lat, p.lon, s"${date(day(k))} 12:00:00",
        m.map(_.uf).orNull, m.map(_.uf).orNull, m.map(_.code).orNull, m.map(_.name).orNull,
        b.map(_.name).orNull, b.map(_.code).orNull, u.map(_.name).orNull, u.map(_.code).orNull,
        t.map(_.name).orNull, t.map(_.code).orNull)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), s)
  }
}

/** One stream drop: points in file order, `replayOf` ≥ 0 when it re-drops
  * an earlier drop's points. Sizes cycle through 1–5k points and every
  * fourth drop is a replay, the same for every seed. */
final case class Drop(index: Int, ids: Array[String], ts: Array[String], places: Array[Place],
                      replayOf: Int) {
  def csv: Array[Byte] = {
    val sb = new StringBuilder("event_hash,ts,lon,lat\n")
    ids.indices.foreach { i =>
      sb.append(ids(i)).append(',').append(ts(i)).append(',')
        .append(places(i).lon).append(',').append(places(i).lat).append('\n')
    }
    sb.toString.getBytes(UTF_8)
  }
}

object Drops {
  def make(geo: GeoDims, seed: Long, count: Int): Vector[Drop] = {
    val out = mutable.ArrayBuffer[Drop]()
    (0 until count).foreach { k =>
      val r = Rng.stream(seed, 9, k)
      if (k % 4 == 3) {
        val src = out(r.nextInt(out.length))
        out += src.copy(index = k, replayOf = src.index)
      } else {
        val n = 1000 + 1000 * (k % 5)
        val base = java.time.LocalDateTime.parse("2024-09-01T00:00:00").plusMinutes(10L * k)
        val ts = Array.fill(n)(base.plusSeconds(r.nextInt(600).toLong).toString.replace('T', ' '))
        val places = Array.fill(n)(geo.place(r, geo.randomKind(r), knn = false))
        val ids = Array.fill(n)(f"${r.nextLong()}%016x")
        out += Drop(k, ids, ts.map(t => if (t.length == 16) t + ":00" else t), places, -1)
      }
    }
    out.toVector
  }
}

/** SHA-256 over every file under `root`, path-sorted. */
object Digest {
  def tree(root: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val files = scala.jdk.CollectionConverters.IteratorHasAsScala(Files.walk(root).iterator())
      .asScala.filter(Files.isRegularFile(_)).toSeq.sortBy(_.toString)
    files.foreach { f =>
      md.update(root.relativize(f).toString.getBytes(UTF_8)); md.update(Files.readAllBytes(f))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
