package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.collection.mutable

/** Seeded input generator. Every value is a pure function of (seed, salt),
  * so one seed always yields the same bytes whatever order inputs are made
  * in. The generator also keeps its own answer for every input — which
  * municipality, UF, biome, UC and TI each point falls in — computed from
  * the way the point was placed (and an independent ray-casting test for
  * the UC/TI polygons), never by calling the engine.
  */
object Rng {
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hash(parts: Long*): Long = parts.foldLeft(0x5DEECE66DL)((h, p) => mix(h ^ p))
  /** Uniform [0,1) from a hash of the parts. */
  def unit(parts: Long*): Double = (hash(parts: _*) >>> 11) * (1.0 / (1L << 53))
  def stream(parts: Long*): java.util.SplittableRandom = new java.util.SplittableRandom(hash(parts: _*))
}

/** One polygon feature of a dimension: a single outer ring, closed. */
final case class Feature(id: Long, code: String, name: String, uf: String, area: Double,
                         ring: Array[(Double, Double)]) {
  val minLon: Double = ring.iterator.map(_._1).min
  val maxLon: Double = ring.iterator.map(_._1).max
  val minLat: Double = ring.iterator.map(_._2).min
  val maxLat: Double = ring.iterator.map(_._2).max
  /** Even-odd ray cast, written here so the answer does not come from the engine. */
  def contains(x: Double, y: Double): Boolean =
    x >= minLon && x <= maxLon && y >= minLat && y <= maxLat && {
      var inside = false
      var j = ring.length - 1
      var i = 0
      while (i < ring.length) {
        val (xi, yi) = ring(i); val (xj, yj) = ring(j)
        if ((yi > y) != (yj > y) && x < (xj - xi) * (y - yi) / (yj - yi) + xi) inside = !inside
        j = i; i += 1
      }
      inside
    }
}

/** Where one generated point landed, per the generator. `mun` is the
  * municipality index (-1: none), `biome` the biome index (-1: none),
  * `uc`/`ti` the first-match (lowest id) polygon index (-1: none). */
final case class Place(lon: Double, lat: Double, mun: Int, biome: Int, uc: Int, ti: Int)

/** Brazil-sized polygon dimensions. Municipalities tile a 75×75 grid whose
  * interior vertices are jittered and whose edges carry jittered midpoints;
  * both neighbours of an edge use the same points, so the tiling is exact.
  * The outer boundary is straight, which makes offshore distances exact:
  * points east of it fall within or beyond the 2 km nearest-municipality
  * cutoff by construction. 27 UFs are 9×3 blocks of cells, 6 biomes are
  * column bands (same shared edges), UCs and TIs are star-shaped polygons
  * placed at random, so some overlap.
  */
final class GeoDims(seed: Long) {
  val NX = 75; val NY = 75
  val Lon0 = -74.0; val Lat0 = -33.0
  val W = 39.0 / NX; val H = 38.0 / NY
  val Lon1: Double = Lon0 + NX * W
  private val VertexJitter = 0.15
  private val EdgeJitter = 0.08
  /** Core margin (share of a cell) inside which a point is in its cell only:
    * larger than the vertex plus edge jitter. */
  private val Core = 0.25

  val UfCodes: Array[(String, Int)] = Array("RO" -> 11, "AC" -> 12, "AM" -> 13, "RR" -> 14,
    "PA" -> 15, "AP" -> 16, "TO" -> 17, "MA" -> 21, "PI" -> 22, "CE" -> 23, "RN" -> 24,
    "PB" -> 25, "PE" -> 26, "AL" -> 27, "SE" -> 28, "BA" -> 29, "MG" -> 31, "ES" -> 32,
    "RJ" -> 33, "SP" -> 35, "PR" -> 41, "SC" -> 42, "RS" -> 43, "MS" -> 50, "MT" -> 51,
    "GO" -> 52, "DF" -> 53)
  val BiomeNames: Array[String] =
    Array("Amazonia", "Cerrado", "Caatinga", "Pantanal", "Mata Atlantica", "Pampa")
  private val BiomeCols = Array(0, 14, 27, 38, 48, 62, 75)

  private def vertex(i: Int, j: Int): (Double, Double) = {
    val bx = Lon0 + i * W; val by = Lat0 + j * H
    if (i == 0 || i == NX || j == 0 || j == NY) (bx, by)
    else (bx + (Rng.unit(seed, 1, i, j) * 2 - 1) * VertexJitter * W,
      by + (Rng.unit(seed, 2, i, j) * 2 - 1) * VertexJitter * H)
  }

  /** Intermediate points of the edge between grid vertices a and b (adjacent),
    * in a→b order; identical (reversed) when walked the other way. */
  private def edge(a: (Int, Int), b: (Int, Int)): Seq[(Double, Double)] = {
    val (lo, hi) = if (Ordering[(Int, Int)].lteq(a, b)) (a, b) else (b, a)
    val (x0, y0) = vertex(lo._1, lo._2); val (x1, y1) = vertex(hi._1, hi._2)
    val horizontal = lo._2 == hi._2
    val outer = if (horizontal) lo._2 == 0 || lo._2 == NY else lo._1 == 0 || lo._1 == NX
    val pts = Seq(0.25, 0.5, 0.75).zipWithIndex.map { case (t, k) =>
      val jit = if (outer) 0.0
        else (Rng.unit(seed, 3, lo._1, lo._2, hi._1, hi._2, k) * 2 - 1) * EdgeJitter
      val x = x0 + (x1 - x0) * t + (if (horizontal) 0.0 else jit * W)
      val y = y0 + (y1 - y0) * t + (if (horizontal) jit * H else 0.0)
      (x, y)
    }
    if (lo == a) pts else pts.reverse
  }

  /** Closed ring through grid vertices (each step to an adjacent vertex). */
  private def ringThrough(path: Seq[(Int, Int)]): Array[(Double, Double)] = {
    val out = mutable.ArrayBuffer[(Double, Double)]()
    path.sliding(2).foreach { case Seq(a, b) =>
      out += vertex(a._1, a._2); out ++= edge(a, b)
    }
    out += out.head
    out.toArray
  }

  def cellIndex(i: Int, j: Int): Int = j * NX + i
  def ufOf(i: Int, j: Int): Int = (j * 3 / NY) * 9 + (i * 9 / NX)
  def biomeOfCol(i: Int): Int = BiomeCols.indexWhere(_ > i) - 1

  val municipios: Array[Feature] = Array.tabulate(NX * NY) { idx =>
    val i = idx % NX; val j = idx / NX
    val (uf, ufCode) = UfCodes(ufOf(i, j))
    val area = W * H * 111.32 * 111.32 * math.cos(math.toRadians(Lat0 + (j + 0.5) * H))
    Feature(idx + 1L, f"$ufCode%02d$idx%05d", f"Municipio $idx%04d", uf, area,
      ringThrough(Seq((i, j), (i + 1, j), (i + 1, j + 1), (i, j + 1), (i, j))))
  }

  val biomes: Array[Feature] = Array.tabulate(BiomeNames.length) { b =>
    val (a, e) = (BiomeCols(b), BiomeCols(b + 1))
    val path = (a to e).map(i => (i, 0)) ++ (1 to NY).map(j => (e, j)) ++
      (e - 1 to a by -1).map(i => (i, NY)) ++ (NY - 1 to 0 by -1).map(j => (a, j))
    Feature(b + 1L, (b + 1).toString, BiomeNames(b), "", 0.0, ringThrough(path))
  }

  private def stars(salt: Int, n: Int, prefix: String, label: String): Array[Feature] =
    Array.tabulate(n) { k =>
      val r = Rng.stream(seed, salt, k)
      val cx = Lon0 + r.nextDouble() * (Lon1 - Lon0)
      val cy = Lat0 + r.nextDouble() * NY * H
      val rad = 0.2 + r.nextDouble() * 0.6
      val m = 12
      val pts = Array.tabulate(m) { v =>
        val ang = 2 * math.Pi * (v + 0.3 * r.nextDouble()) / m
        val rr = rad * (0.7 + 0.3 * r.nextDouble())
        (cx + rr * math.cos(ang), cy + rr * math.sin(ang))
      }
      Feature(k + 1L, f"$prefix$k%04d", s"$label $k", "", 0.0, pts :+ pts.head)
    }
  val ucs: Array[Feature] = stars(4, 320, "UC", "Unidade")
  val tis: Array[Feature] = stars(5, 220, "TI", "Terra Indigena")

  /** 1°×1° buckets of UC/TI polygons by bbox, for the generator's own lookups. */
  private def bucketed(fs: Array[Feature]): Map[(Int, Int), Array[Int]] = {
    val m = mutable.Map[(Int, Int), mutable.ArrayBuffer[Int]]()
    fs.indices.foreach { k =>
      val f = fs(k)
      for (bx <- math.floor(f.minLon).toInt to math.floor(f.maxLon).toInt;
           by <- math.floor(f.minLat).toInt to math.floor(f.maxLat).toInt)
        m.getOrElseUpdate((bx, by), mutable.ArrayBuffer()) += k
    }
    m.map { case (k, v) => k -> v.sorted.toArray }.toMap
  }
  private val ucIdx = bucketed(ucs)
  private val tiIdx = bucketed(tis)
  private def firstMatch(fs: Array[Feature], idx: Map[(Int, Int), Array[Int]],
                         x: Double, y: Double): Int =
    idx.get((math.floor(x).toInt, math.floor(y).toInt))
      .flatMap(_.find(k => fs(k).contains(x, y))).getOrElse(-1)

  /** Hot cells: the clustered share of events lands here, skewed. */
  private val hot: Array[Int] = {
    val r = Rng.stream(seed, 6)
    Array.fill(240)(r.nextInt(NX * NY))
  }

  /** Place a point. kind: 0 inland, 1 offshore within the 2 km cutoff,
    * 2 offshore beyond it. `knn`: whether the consumer applies the
    * nearest-municipality fallback (batch enrich does, stream enrich not). */
  def place(r: java.util.SplittableRandom, kind: Int, knn: Boolean = true): Place = kind match {
    case 0 =>
      val c = if (r.nextDouble() < 0.6) hot((hot.length * math.pow(r.nextDouble(), 2)).toInt)
              else r.nextInt(NX * NY)
      val i = c % NX; val j = c / NX
      val x = Lon0 + (i + Core + r.nextDouble() * (1 - 2 * Core)) * W
      val y = Lat0 + (j + Core + r.nextDouble() * (1 - 2 * Core)) * H
      Place(x, y, c, biomeOfCol(i), firstMatch(ucs, ucIdx, x, y), firstMatch(tis, tiIdx, x, y))
    case _ =>
      val j = r.nextInt(NY)
      val y = Lat0 + (j + 0.1 + 0.8 * r.nextDouble()) * H
      val dx = if (kind == 1) 0.002 + 0.010 * r.nextDouble() else 0.05 + 0.25 * r.nextDouble()
      val x = Lon1 + dx
      Place(x, y, if (kind == 1 && knn) cellIndex(NX - 1, j) else -1, -1,
        firstMatch(ucs, ucIdx, x, y), firstMatch(tis, tiIdx, x, y))
  }

  def randomKind(r: java.util.SplittableRandom): Int = {
    val u = r.nextDouble()
    if (u < 0.02) 1 else if (u < 0.03) 2 else 0
  }
}

/** One CSV row of an INPE daily file. `valid`: survives the ingest's
  * coordinate checks; `dup`: an exact copy of an earlier row. */
final case class Row(lat: String, lon: String, ts: String, sat: String,
                     place: Place, valid: Boolean, dup: Boolean)

/** One day's file: rows in file order plus the separator it is written with. */
final case class DayFile(day: LocalDate, sep: Char, rows: Vector[Row]) {
  def unique: Vector[Row] = rows.filter(r => r.valid && !r.dup)
  def write(path: Path, geo: GeoDims): Unit = {
    val sb = new StringBuilder
    val decimal = if (sep == ';') ',' else '.'
    sb.append(if (sep == ';') "latitude;longitude;data_hora_gmt;satelite;municipio;estado;bioma\n"
              else "lat,lon,data_hora_gmt,satelite,municipio,estado,bioma,frp\n")
    rows.foreach { r =>
      val p = r.place
      val mun = if (p.mun >= 0) geo.municipios(p.mun).name.toUpperCase else ""
      val uf = if (p.mun >= 0) geo.municipios(p.mun).uf else ""
      val bio = if (p.biome >= 0) geo.BiomeNames(p.biome) else ""
      sb.append(r.lat.replace('.', decimal)).append(sep).append(r.lon.replace('.', decimal))
        .append(sep).append(r.ts).append(sep).append(r.sat).append(sep).append(mun)
        .append(sep).append(uf).append(sep).append(bio)
      if (sep == ',') sb.append(',').append(((p.lon * 1000).abs % 97).toInt).append(".5")
      sb.append('\n')
    }
    Files.createDirectories(path.getParent)
    Files.write(path, sb.toString.getBytes(UTF_8))
  }
}

object Days {
  private val Sats = Array("AQUA_M-T", "TERRA_M-M", "NOAA-20", "GOES-16", "NPP-375", "METOP-C")
  private def fmt(x: Double) = String.format(java.util.Locale.ROOT, "%.6f", Double.box(x))

  /** Rows for `n` new events of `day`, continuing after `prior` (a re-fetch
    * grows the earlier file): ~1.5% invalid coordinates (`nan`, empty or
    * out of range), ~2% exact in-file duplicates, keys unique otherwise. */
  def rows(geo: GeoDims, seed: Long, day: LocalDate, salt: Int, n: Int,
           prior: Vector[Row] = Vector.empty): Vector[Row] = {
    val r = Rng.stream(seed, 7, day.toEpochDay, salt)
    val seen = mutable.HashSet[(String, String, String, String)]()
    prior.foreach(x => seen += ((x.lat, x.lon, x.ts, x.sat)))
    val out = mutable.ArrayBuffer[Row]()
    val all = prior.toBuffer
    while (out.length < n) {
      val u = r.nextDouble()
      if (u < 0.02 && all.nonEmpty) {
        val src = all(r.nextInt(all.length))
        if (src.valid) out += src.copy(dup = true)
      } else if (u < 0.035) {
        val p = geo.place(r, 0)
        val bad = r.nextInt(3) match {
          case 0 => Row("nan", fmt(p.lon), "", "AQUA_M-T", p, valid = false, dup = false)
          case 1 => Row(fmt(p.lat), "", "", "AQUA_M-T", p, valid = false, dup = false)
          case _ => Row("95.000000", fmt(p.lon), "", "AQUA_M-T", p, valid = false, dup = false)
        }
        out += bad.copy(ts = s"$day 00:00:00")
      } else {
        val p = geo.place(r, geo.randomKind(r))
        val s = r.nextInt(86400)
        val row = Row(fmt(p.lat), fmt(p.lon), f"$day ${s / 3600}%02d:${s / 60 % 60}%02d:${s % 60}%02d",
          Sats(r.nextInt(Sats.length)), p, valid = true, dup = false)
        if (seen.add((row.lat, row.lon, row.ts, row.sat))) { out += row; all += row }
      }
    }
    out.toVector
  }

  /** A day's file; even days use `;` with comma decimals, odd days `,`. */
  def file(geo: GeoDims, seed: Long, day: LocalDate, n: Int): DayFile =
    DayFile(day, if (day.toEpochDay % 2 == 0) ';' else ',', rows(geo, seed, day, 0, n))

  /** The re-downloaded file of the same day, grown by `growth`: the original
    * rows in order, then new rows (some duplicating earlier ones). */
  def grown(geo: GeoDims, seed: Long, f: DayFile, growth: Double): DayFile =
    f.copy(rows = f.rows ++ rows(geo, seed, f.day, 1, math.max(1, (f.rows.length * growth).toInt), f.rows))
}
