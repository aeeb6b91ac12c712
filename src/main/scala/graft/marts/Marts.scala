package graft.marts

import java.sql.Date

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, StructType}

/** Aggregate marts (SURVEY §2.4) with the reference's exact key semantics.
  *
  * [[Marts.table]] is the one place to add a mart: one entry per stored
  * table, in the reference's file order (src/etl/marts_runner.py:16-34).
  * `Pipeline.writeMarts` builds and schedules from it alone.
  *
  * Each family takes its day from one column — two different day keys,
  * deliberately copied, not "fixed" (§7.4 risk 5):
  *  - municipality/UF marts (so also the trend view over the daily UF
  *    mart) and the fact cube:
  *    [[dayKey]] = `coalesce(view_ts::date, file_date)`
  *    (sql/marts/10_focos_diario_municipio.sql:38)
  *  - biome/UC/TI marts: raw [[fileDate]]
  *    (sql/marts/40_focos_diario_bioma.sql:22)
  *
  * Ratio columns use Decimal arithmetic to match Postgres `numeric`
  * rounding (§7.4 risk 3).
  *
  * Scale: an entry is a keyed count plus a finishing of Column
  * expressions. On its own ([[Mart.apply]]) it is one hash-aggregate over
  * the facts. A day's rebuild ([[rebuild]]) counts every chosen entry in
  * ONE grouping-sets aggregate over one scan; its result is bounded by the
  * target periods (one day's cube tuples plus a group per municipality,
  * UF, biome, UC and TI), so it is collected and each mart is finished on
  * the driver. Each mart is written partitioned by day/month with dynamic
  * partition overwrite, so re-runs replace exactly its partitions (the
  * delete-day-then-insert analog, K2).
  */
object Marts {

  /** `coalesce(view_ts::date, file_date)` — string timestamp cast with
    * null fallback. ANSI off ⇒ to_date yields NULL on parse failure,
    * matching Postgres `::date` + coalesce. */
  val dayKey: Column = coalesce(to_date(col("view_ts")), col("file_date"))

  /** Raw `file_date`: the biome/UC/TI marts' day. */
  val fileDate: Column = col("file_date")

  /** The period a fact falls in at `grain`: its day, or its month's first day. */
  def period(dayFrom: Column, grain: String): Column =
    if (grain == "day") dayFrom else date_trunc("month", dayFrom).cast("date")

  /** One mart table entry: a keyed count, then `finish`. The count groups
    * the facts by their period at `grain` (`day` or `month`, also the
    * partition column), the day taken from `dayFrom`, and by `keys`
    * (output name -> fact column); it carries the `max` of each `maxOf`
    * column and the row count as `n`. A `keyed` count drops facts whose
    * first key is null. With `areaJoin` the count is inner-joined on `uf`
    * to the UF areas, so UFs without an area drop, as in J6.
    */
  final case class Mart(name: String, grain: String, dayFrom: Column,
                        keys: Seq[(String, String)], maxOf: Seq[String] = Nil,
                        n: String = "n_focos", keyed: Boolean = true,
                        areaJoin: Boolean = false,
                        finish: DataFrame => DataFrame = identity) {
    require(grain == "day" || grain == "month", s"$name: grain must be day or month")

    /** The mart's rows from `facts`; only the UF marts read `ufArea`. */
    def apply(facts: DataFrame,
              ufArea: => DataFrame = throw new IllegalArgumentException(
                s"$name needs the UF area rollup")): DataFrame = {
      val kept = if (keyed) facts.filter(col(keys.head._2).isNotNull) else facts
      val aggs = maxOf.map(c => max(c).as(c)) :+ count(lit(1)).as(n)
      val counts = kept
        .groupBy(period(dayFrom, grain).as(grain) +: keys.map { case (o, s) => col(s).as(o) }: _*)
        .agg(aggs.head, aggs.tail: _*)
      finish(if (areaJoin) counts.join(broadcast(ufArea), "uf") else counts)
    }
  }

  private def per100km2(n: Column, area: Column): Column =
    round((lit(100) * n.cast(DecimalType(38, 10))) /
      when(area === 0, null).otherwise(area).cast(DecimalType(38, 10)), 4)

  private def same(cols: String*): Seq[(String, String)] = cols.map(c => c -> c)

  /** A1/A2 — municipality marts (10/11_focos_*_municipio.sql:28-51), with
    * the reference's max(area) density denominator. */
  private def municipio(name: String, grain: String) =
    Mart(name, grain, dayKey, same("mun_cd_mun", "mun_nm_mun", "mun_uf"),
      Seq("mun_area_km2"), finish = _.withColumn("focos_por_100km2",
        per100km2(col("n_focos"), col("mun_area_km2"))))

  /** A3/J6 — UF marts with the area join (20/21_focos_*_uf.sql:30-43). */
  private def uf(name: String, grain: String) =
    Mart(name, grain, dayKey, Seq("uf" -> "mun_uf"), areaJoin = true,
      finish = _.withColumn("focos_por_100km2",
        per100km2(col("n_focos"), col("uf_area_km2"))))

  /** A4/A5/A6 — biome, UC and TI marts (40..61_*.sql): label = max(),
    * count as `int`. */
  private def labelled(name: String, grain: String, key: String, label: String) =
    Mart(name, grain, fileDate, same(key), Seq(label), "focos",
      finish = _.withColumn("focos", col("focos").cast("int")))

  /** The fact cube's 11 dimension columns, `cd_uf` taken from `cdUf`. */
  private def cubeKeys(cdUf: String): Seq[(String, String)] =
    Seq("uf" -> "mun_uf", "cd_uf" -> cdUf, "cd_mun" -> "mun_cd_mun") ++
      same("mun_nm_mun", "bioma", "cd_bioma", "uc_nome", "cd_cnuc", "ti_nome", "terrai_cod")

  /** Read by `Pipeline.checkDay`; the daily UF mart is also the stored
    * table the trend view ([[focosDiarioUfTrend]]) is computed over. */
  val diarioMunicipio: Mart = municipio("focos_diario_municipio", "day")
  val diarioUf: Mart = uf("focos_diario_uf", "day")

  /** Every stored mart, in the reference's file order. */
  val table: Seq[Mart] = Seq(
    diarioMunicipio,
    municipio("focos_mensal_municipio", "month"),
    diarioUf,
    uf("focos_mensal_uf", "month"),
    labelled("focos_diario_bioma", "day", "cd_bioma", "bioma"),
    labelled("focos_mensal_bioma", "month", "cd_bioma", "bioma"),
    labelled("focos_diario_uc", "day", "cd_cnuc", "uc_nome"),
    labelled("focos_mensal_uc", "month", "cd_cnuc", "uc_nome"),
    labelled("focos_diario_ti", "day", "terrai_cod", "ti_nome"),
    labelled("focos_mensal_ti", "month", "terrai_cod", "ti_nome"),
    // the fact cube for the serving layer (065_mv_focos_day_dim.sql) —
    // cd_uf is the UF code column the reference denormalizes; our dims
    // carry uf text
    Mart("mv_focos_day_dim", "day", dayKey, cubeKeys("mun_uf"), keyed = false))

  /** The table entry named `name`. */
  def apply(name: String): Mart =
    table.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no mart named $name"))

  /** A3/J6 — the daily UF mart over `enriched`. */
  def focosDiarioUf(enriched: DataFrame, ufArea: DataFrame): DataFrame =
    diarioUf(enriched, ufArea)

  /** The rows of every entry of `marts` for the `targets` periods of its
    * grain, from ONE grouping-sets aggregate over `facts`.
    * Each entry is one grouping set: its period column, its keys and its
    * `maxOf` columns; the aggregate is the count alone, and `grouping_id()`
    * tags the set. A fact's period column is null unless its period is a
    * target whose `scope` holds for the fact, so the groups outside the
    * targets are filtered out before the collect. The rest is split per
    * entry on the driver, where the null-first-key groups drop, each
    * group's `maxOf` values fold with Spark's `max` and its counts sum, the
    * UF areas are a lookup in the collected `ufArea` (inner, like
    * [[Mart.apply]]'s join) and `finish` runs over a local relation, which
    * Spark folds at plan time: no job, no generated class. */
  def rebuild(facts: DataFrame, marts: Seq[Mart], targets: Map[String, Seq[Date]],
              scope: (String, Date) => Column, ufArea: => DataFrame): Seq[(Mart, DataFrame)] = {
    val periods = marts.map(m => (m.dayFrom, m.grain)).distinct.zipWithIndex.map {
      case (k @ (dayFrom, grain), i) =>
        val p = period(dayFrom, grain)
        k -> (s"__p$i", coalesce(targets(grain)
          .map(t => when(scope(grain, t) && p === lit(t), lit(t))): _*))
    }.toMap
    val periodCols = periods.values.toSeq.sortBy(_._1)
    val factCols = marts.flatMap(m => m.keys.map(_._2) ++ m.maxOf).distinct
    val grouping = periodCols.map(_._1) ++ factCols
    def set(m: Mart): Set[String] =
      (m.keys.map(_._2) ++ m.maxOf).toSet + periods((m.dayFrom, m.grain))._1
    // grouping_id(): one bit per grouping column, first column highest, set
    // when the column is NOT in the grouping set
    def gid(s: Set[String]): Long = grouping.zipWithIndex.collect {
      case (c, i) if !s(c) => 1L << (grouping.size - 1 - i)
    }.sum
    val result = facts
      .select(periodCols.map { case (name, p) => p.as(name) } ++ factCols.map(col): _*)
      .groupingSets(marts.map(set).distinct.map(s => grouping.filter(s).map(col)),
        grouping.map(col): _*)
      .agg(count(lit(1)).as("__n"), grouping_id().as("__gid"))
      .filter(coalesce(periodCols.map(p => col(p._1)): _*).isNotNull)
    val rows = result.collect()
    val (at, field) = (result.columns.zipWithIndex.toMap, result.schema.fields)
    lazy val areas = ufArea.collect()
    marts.map { m =>
      val group = (periods((m.dayFrom, m.grain))._1 -> m.grain) +: m.keys.map(_.swap)
      val (gi, mi, n) = (group.map(c => at(c._1)), m.maxOf.map(at), at("__n"))
      val maxes = mi.map(i => sparkMax(field(i).dataType))
      val (tag, first) = (gid(set(m)), at(m.keys.head._2))
      val counted = rows.toSeq.filter(r =>
        r.getLong(at("__gid")) == tag && !(m.keyed && r.isNullAt(first)))
        .groupBy(r => gi.map(r.get)).toSeq.map { case (key, rs) =>
          Row.fromSeq(key ++ mi.indices.map(j => rs.map(_.get(mi(j))).reduce(maxes(j))) :+
            rs.map(_.getLong(n)).sum)
        }
      val schema = StructType(group.map { case (c, out) => field(at(c)).copy(name = out) } ++
        mi.map(field) :+ field(n).copy(name = m.n))
      val (local, localSchema) =
        if (m.areaJoin) joinUf(counted, schema, areas, ufArea.schema) else (counted, schema)
      m -> m.finish(facts.sparkSession.createDataFrame(local.asJava, localSchema))
    }
  }

  /** Spark's `max` of two external values of type `dt`: a null loses. */
  private def sparkMax(dt: DataType): (Any, Any) => Any = {
    val (order, internal) = (TypeUtils.getInterpretedOrdering(dt),
      CatalystTypeConverters.createToCatalystConverter(dt))
    (a, b) => if (b == null || (a != null && order.gteq(internal(a), internal(b)))) a else b
  }

  /** `rows` inner-joined on `uf` to the `area` rows, in the column order of
    * a USING join: `uf`, then the other count columns, then the other area
    * columns. */
  private def joinUf(rows: Seq[Row], schema: StructType, area: Array[Row],
                     areaSchema: StructType): (Seq[Row], StructType) = {
    val (k, ak) = (schema.fieldIndex("uf"), areaSchema.fieldIndex("uf"))
    val byUf = area.filterNot(_.isNullAt(ak)).groupBy(_.get(ak))
    val (rest, areaRest) = (schema.indices.filter(_ != k), areaSchema.indices.filter(_ != ak))
    val joined = for {
      r <- rows if !r.isNullAt(k)
      a <- byUf.getOrElse(r.get(k), Array.empty[Row])
    } yield Row.fromSeq(r.get(k) +: (rest.map(r.get) ++ areaRest.map(a.get)))
    (joined, StructType(schema(k) +: (rest.map(schema(_)) ++ areaRest.map(areaSchema(_)))))
  }

  /** A7/W3 — period stats + argmax peak day with the DISTINCT ON tiebreak
    * `order by uf, n_focos desc, day` (40_focos_periodo_uf.sql:22-73).
    * One aggregate replaces the reference's stats×peaks join: max_by with a
    * struct tiebreak — no second scan, no join.
    */
  def focosPeriodoUf(dailyUf: DataFrame,
                     start: java.sql.Date, end: java.sql.Date): DataFrame = {
    val base = dailyUf.filter(col("day").between(lit(start), lit(end)))
    base.groupBy("uf").agg(
      max("uf_area_km2").as("uf_area_km2"),
      sum("n_focos").as("n_focos_total"),
      // exact-rational mean, like Postgres numeric avg: sum::decimal / count
      // then half-up round — avg() in DOUBLE can land a hair below an exact
      // .xx5 boundary (e.g. 3/40 = 0.075) and round the last cent down
      round((sum("n_focos").cast(DecimalType(38, 10)) / count(lit(1))).cast(DecimalType(38, 10)), 2)
        .as("n_focos_avg_daily"),
      max("n_focos").as("n_focos_max_daily"),
      // peak day = highest n_focos, earliest day on ties:
      // maximize (n_focos, -epoch(day)) then take its day
      max_by(col("day"), struct(col("n_focos"), to_timestamp(col("day")).cast("long") * -1))
        .as("peak_day"))
      .withColumn("period_start", lit(start)).withColumn("period_end", lit(end))
      .withColumn("focos_por_100km2", per100km2(col("n_focos_total"), col("uf_area_km2")))
  }

  /** W1/W2 — the trend view: 7- and 30-day moving averages over the daily
    * UF mart, ROW-based frames (gaps NOT respected — copied bug-for-bug
    * from the reference's file 30, sql/marts/30_*_trend.sql:21-37). Like
    * the reference's view it is derived, not stored: computed on read over
    * the stored `marts/focos_diario_uf`, so it is never behind its source. */
  def focosDiarioUfTrend(dailyUf: DataFrame): DataFrame = {
    val w = Window.partitionBy("uf").orderBy("day")
    // exact-rational mean over the frame (same form as focosPeriodoUf):
    // a DOUBLE window avg can land a hair below an exact .xx5 boundary and
    // round the last cent down
    def exactMa(lo: Int): Column = {
      val frame = w.rowsBetween(lo, 0)
      round((sum("n_focos").over(frame).cast(DecimalType(38, 10)) /
        count(lit(1)).over(frame)).cast(DecimalType(38, 10)), 2)
    }
    dailyUf.select(col("day"), col("uf"), col("n_focos"))
      .withColumn("ma7", exactMa(-6))
      .withColumn("ma30", exactMa(-29))
  }

  /** A8 — the serving fact cube `mv_focos_day_dim`
    * (sqlm/marts/canonical/065_mv_focos_day_dim.sql:5-20): group by the 11
    * dimension columns, count. Every API aggregate reads this table.
    */
  def factCube(enrichedFull: DataFrame): DataFrame =
    apply("mv_focos_day_dim").copy(keys = cubeKeys("cd_uf"))(enrichedFull)

  /** J7 — geo view: mart rows inner-joined to their web geometry
    * (sql/marts/90_geo_focos_diario_municipio.sql:13-15). The geometry
    * side is a small dimension → broadcast; mart rows without a geometry
    * drop, as in the reference's inner join. */
  def geoFocosDiario(mart: DataFrame, geomDim: DataFrame, key: String): DataFrame =
    mart.join(broadcast(geomDim), key)

  /** A9 — UF area rollup (sql/ref/05_ref_uf_area.sql:10-18). */
  def ufAreaRollup(municipios: DataFrame): DataFrame =
    municipios.groupBy(col("uf"))
      .agg(sum("area_km2").as("uf_area_km2"))

  /** K2 — partition-overwrite write of a mart keyed by `partCol`: replaces
    * only the partitions `df` holds, whatever the session's overwrite mode. */
  def writePartitioned(df: DataFrame, path: String, partCol: String): Unit =
    df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(path)

  /** Range-sorted write: repartitionByRange + sortWithinPartitions on
    * `sortCols` before writing, so every output file covers a DISJOINT
    * range of the sort key and parquet footer min/max statistics let
    * point/range scans skip whole files (the Z-order-lite of a single-key
    * access pattern — `day`/`cd_mun` lookups in the serve layer). One
    * range exchange at write time buys file-level pruning on every
    * subsequent read.
    */
  def writeSorted(df: DataFrame, path: String, parts: Int,
                  sortCols: Seq[String]): Unit = {
    val cs = sortCols.map(col)
    df.repartitionByRange(parts, cs: _*)
      .sortWithinPartitions(cs: _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Bloom-filtered parquet write: per-column bloom filters in the file
    * footer, for point-lookup row-group skipping on HIGH-CARDINALITY keys
    * (hashes, uuids, event ids) where min/max footer stats cannot prune —
    * every file spans the whole key space, so [[writeSorted]]'s range
    * trick does nothing, but a bloom probe rejects absent keys at the
    * footer. This is the read-side complement of the runtime
    * BloomFilterAggregate in `Blocklist`: that one prunes a JOIN's probe
    * side at execution time, this one prunes the SCAN at storage time.
    *
    * @param ndv expected distinct values per file — sizes the filter
    *            (parquet default caps at 1 MiB/filter when overshot)
    */
  def writeBloom(df: DataFrame, path: String, bloomCols: Seq[String],
                 ndv: Long = 100000L): Unit = {
    val w = bloomCols.foldLeft(df.write.mode("overwrite")) { (wr, c) =>
      wr.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
    }
    w.parquet(path)
  }

  /** Small-files compaction: rewrite a parquet dataset into files of
    * ~`targetFileBytes` (by on-disk input size, a good proxy after
    * re-encoding at matching compression). Incremental per-day mart
    * appends accumulate one-file-per-task fragments; scans of a
    * many-small-files table pay per-file open/footer costs and tiny
    * row-groups, so periodic compaction is part of the 100 TB write-path
    * hygiene. Writes to `outPath` (atomic swap is the caller's move —
    * write-new + rename keeps readers consistent, as the reference's
    * delete-day-then-insert does transactionally in Postgres).
    * Returns (input file count, output partition count).
    */
  def compactTo(spark: org.apache.spark.sql.SparkSession, inPath: String,
                outPath: String, targetFileBytes: Long = 128L << 20): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val p = new Path(inPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val rootUri = p.toUri.getPath
    // recursive: partitioned datasets keep data files under key=value
    // subdirs. Skip files under hidden ancestors too (_temporary,
    // .hive-staging…) — spark.read ignores them, so counting their bytes
    // would inflate the file budget with dead data.
    val it = fs.listFiles(p, true)
    val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter { s =>
        val rel = s.getPath.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
        s.isFile && rel.split('/').forall(seg =>
          !seg.startsWith("_") && !seg.startsWith("."))
      }.toVector
    val totalBytes = files.map(_.getLen).sum
    // hive-style partition dirs (key=value) must survive the rewrite, or
    // the compacted copy loses directory pruning and per-partition
    // overwrite targeting
    val partCols = files.flatMap(_.getPath.toUri.getPath
        .stripPrefix(rootUri).split('/').dropRight(1)
        .filter(_.contains('=')).map(_.takeWhile(_ != '=')))
      .distinct
    val df = spark.read.parquet(inPath)
    // coalesce, not repartition: shrinking file count must not shuffle.
    // coalesce cannot raise the partition count, so clamp to what the scan
    // yields and report the count actually used.
    val parts = math.min(
      math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt),
      math.max(1, df.rdd.getNumPartitions))
    val writer = df.coalesce(parts).write.mode("overwrite")
    (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
      .parquet(outPath)
    (files.length, parts)
  }

  /** Bucketed managed-table write: pre-shuffles once at write time so every
    * later equi-join/aggregation on `bucketCols` between co-bucketed tables
    * runs with NO exchange (sort-merge join straight off the scans — the
    * 100 TB technique for repeated big×big joins, e.g. fact-to-fact
    * event_hash joins, where neither side broadcasts). `sortBy` the same
    * columns so even the merge-sort is free. Requires a table catalog
    * (saveAsTable); plain parquet paths cannot carry bucket metadata.
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    bucketCols: Seq[String]): Unit =
    // repartition on the bucket hash FIRST (same Murmur3-pmod as the
    // bucket id), so each task owns exactly one bucket and writes ONE file
    // per bucket — without it every input task writes a sliver of every
    // bucket (tasks × buckets small files, the classic bucketed-write
    // defect at scale). This is the advertised write-time shuffle.
    df.repartition(buckets, bucketCols.map(col): _*)
      .write.mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Z-order (Morton-curve) clustered write: multi-dimensional locality so
    * parquet footer stats prune files for predicates on ANY clustering
    * column — the multi-column complement of [[writeSorted]], which makes
    * one key chain prunable and leaves every other column covering the
    * full range in every file. Each row's clustering values are scaled to
    * `bits`-bit grid cells (one cheap global min/max pass) and their bits
    * interleaved into a single Morton code; a range exchange + in-partition
    * sort on that code gives every output file a contiguous curve segment
    * ≈ a small spatial tile, so per-file min/max of EACH dimension is a
    * fraction of its domain. Pure codegen bit arithmetic — no UDF. The
    * classic layout for bbox-style scans (lon/lat) and (day, key) marts at
    * 100 TB, where no single sort order serves all query dimensions.
    * The oracle-checkable audit twin (integer-exact 2-D Morton + bucket
    * span stats, mirrored in DuckDB SQL) is [[graft.operators.Layout]].
    */
  def writeZOrdered(df: DataFrame, path: String, parts: Int,
                    zCols: Seq[String], bits: Int = 16): Unit = {
    require(bits >= 1 && zCols.nonEmpty && zCols.size * bits <= 63,
      s"need 1..${63 / math.max(1, bits)} columns at $bits (>=1) bits")
    val mins = zCols.map(c => min(col(c).cast("double")).as(s"mn_$c"))
    val maxs = zCols.map(c => max(col(c).cast("double")).as(s"mx_$c"))
    val st = df.agg((mins ++ maxs).head, (mins ++ maxs).tail: _*).head()
    val n = zCols.size
    val top = (1L << bits) - 1
    val cells = zCols.zipWithIndex.map { case (c, i) =>
      // null stats = empty input or an all-null column: no spread to
      // cluster on, degrade to cell 0 instead of an opaque NPE
      if (st.isNullAt(i) || st.isNullAt(n + i)) lit(0L)
      else {
        val (mn, mx) = (st.getDouble(i), st.getDouble(n + i))
        if (mx <= mn) lit(0L)
        else least(lit(top), coalesce(
          floor((col(c).cast("double") - mn) / (mx - mn) * (top + 1)).cast("long"),
          lit(0L)))
      }
    }
    val morton = (0 until bits).flatMap { b =>
      cells.zipWithIndex.map { case (cell, i) =>
        shiftleft(shiftright(cell, b).bitwiseAND(1), b * n + i)
      }
    }.reduce(_.bitwiseOR(_))
    df.withColumn("__z", morton)
      .repartitionByRange(parts, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}
