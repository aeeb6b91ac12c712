package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.enrich.Enrich
import graft.geo.Geo

/** Municipality enrichment against a driver-side brute force over every
  * municipality, on a seeded layer built to hit each branch of the rule:
  * overlapping cells (several containing polygons), gaps narrower and wider
  * than the 2 km cutoff, jittered quadrilaterals whose bbox holds points
  * their polygon does not, and rows with a bbox but a null geometry. */
class EnrichSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  import EnrichSpec.Mun

  test("enrichMunicipio equals a brute force over every municipality: lowest " +
    "containing code, else the nearest within 2 km (lowest code on ties), else null") {
    import spark.implicits._
    val rnd = new Random(20240917L)
    val (nx, ny, step) = (20, 10, 0.1)
    val (lon0, lat0) = (-55.0, -8.0)
    // per-cell shrink of the 0.1° step: negative overlaps the next cell,
    // 0.004°–0.012° leaves a gap under 2 km, 0.03°–0.06° one over it
    val shrinks = Seq(-0.012, 0.004, 0.012, 0.03, 0.06)
    val codes = rnd.shuffle((0 until nx * ny).toVector)
    val muns = for (i <- 0 until nx; j <- 0 until ny) yield {
      val k = i * ny + j
      val (x0, y0) = (lon0 + i * step, lat0 + j * step)
      val (x1, y1) = (x0 + step - shrinks(rnd.nextInt(shrinks.size)),
        y0 + step - shrinks(rnd.nextInt(shrinks.size)))
      def jit = (rnd.nextDouble() - 0.5) * 0.008
      val ring = Seq((x0 + jit, y0 + jit), (x1 + jit, y0 + jit), (x1 + jit, y1 + jit),
        (x0 + jit, y1 + jit))
      val closed = (ring :+ ring.head).map { case (x, y) => Seq(x, y) }
      Mun(f"${1100000 + codes(k)}%07d", s"M$k", Seq("RO", "AC", "AM")(k % 3), 10.0 * k + 1,
        if (k % 23 == 5) None else Some(Seq(Seq(closed))),
        ring.map(_._1).min, ring.map(_._2).min, ring.map(_._1).max, ring.map(_._2).max)
    }
    val pts = (0 until 2400).map(n => (s"e$n",
      lon0 - 0.05 + rnd.nextDouble() * (nx * step + 0.1),
      lat0 - 0.05 + rnd.nextDouble() * (ny * step + 0.1)))

    val polys = muns.flatMap(m => m.geom.map(g => m -> g.map(_.map(_.map(p => (p(0), p(1))).toIndexedSeq)
      .toIndexedSeq).toIndexedSeq))
    val want = pts.map { case (h, lon, lat) =>
      val hits = polys.filter { case (_, mp) => Geo.pointInMultiPolygon(lon, lat, mp) }
      val pick =
        if (hits.nonEmpty) Some(hits.minBy(_._1.cd_mun)._1)
        else {
          val (m, d) = polys.map { case (m, mp) => m -> Geo.distanceToMultiPolygonMeters(lon, lat, mp) }
            .minBy { case (m, d) => (d, m.cd_mun) }
          if (d <= 2000.0) Some(m) else None
        }
      (h, pick.map(m => (m.cd_mun, m.nm_mun, m.uf, m.area_km2)), hits.size)
    }
    val ofHash = want.map(w => w._1 -> w._2).toMap
    // every branch of the rule is exercised
    val multiHit = want.count(_._3 > 1)
    val fallback = want.count(w => w._3 == 0 && w._2.nonEmpty)
    val none = want.count(_._2.isEmpty)
    val inNullGeomBox = pts.count { case (_, lon, lat) => muns.exists(m => m.geom.isEmpty &&
      lon >= m.min_lon && lon <= m.max_lon && lat >= m.min_lat && lat <= m.max_lat) }
    assert(multiHit > 20 && fallback > 50 && none > 50 && inNullGeomBox > 20,
      s"multiHit=$multiHit fallback=$fallback none=$none inNullGeomBox=$inNullGeomBox")

    val got = Enrich.enrichMunicipio(pts.toDF("event_hash", "lon", "lat"), muns.toDS().toDF())
      .select("event_hash", "mun_cd_mun", "mun_nm_mun", "mun_uf", "mun_area_km2")
      .as[(String, Option[String], Option[String], Option[String], Option[Double])].collect()
    assert(got.length == pts.size, "one output row per fact")
    val bad = got.filter { case (h, c, n, u, a) =>
      ofHash(h) != c.map(cd => (cd, n.orNull, u.orNull, a.getOrElse(Double.NaN))) }
    assert(bad.isEmpty, s"${bad.length} rows differ, e.g. ${bad.take(3).toSeq} " +
      s"want ${bad.take(3).map(b => ofHash(b._1)).toSeq}")
  }
}

object EnrichSpec {
  type MP = Seq[Seq[Seq[Seq[Double]]]]
  final case class Mun(cd_mun: String, nm_mun: String, uf: String, area_km2: Double,
                       geom: Option[MP], min_lon: Double, min_lat: Double,
                       max_lon: Double, max_lat: Double)
}
