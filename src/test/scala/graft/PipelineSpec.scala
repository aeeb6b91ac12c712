package graft

import java.nio.file.{Files, Path}
import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.Ingest
import graft.pipeline.Pipeline

/** End-to-end pipeline integration test on a synthetic 3-day fixture:
  * ingest → enrich (municipality + biome + UC + TI) → marts + cube, with
  * the backfill invariants of src/etl/backfill.py:69-135 asserted per day,
  * idempotent re-runs, resumable state, mart-read partition pruning, and
  * the checked-flags re-enrich path.
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  type MP = Seq[Seq[Seq[Seq[Double]]]]
  private def rect(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double): MP =
    Seq(Seq(Seq(Seq(minLon, minLat), Seq(maxLon, minLat), Seq(maxLon, maxLat),
      Seq(minLon, maxLat), Seq(minLon, minLat))))

  private def bboxed(df: DataFrame, minLon: Double, minLat: Double,
                     maxLon: Double, maxLat: Double): DataFrame =
    df.withColumn("min_lon", lit(minLon)).withColumn("min_lat", lit(minLat))
      .withColumn("max_lon", lit(maxLon)).withColumn("max_lat", lit(maxLat))

  private lazy val municipios: DataFrame = {
    import spark.implicits._
    val a = bboxed(Seq(("1100015", "Alpha", "RO", 5000.0)).toDF("cd_mun", "nm_mun", "uf", "area_km2"),
      0, 0, 10, 10).withColumn("geom", typedLit(rect(0, 0, 10, 10)))
    val b = bboxed(Seq(("1100023", "Beta", "AC", 7000.0)).toDF("cd_mun", "nm_mun", "uf", "area_km2"),
      10.5, 0, 20, 10).withColumn("geom", typedLit(rect(10.5, 0, 20, 10)))
    a.unionByName(b)
  }

  private lazy val biomas: DataFrame = {
    import spark.implicits._
    bboxed(Seq((1L, "1", "Amazonia")).toDF("dim_id", "cd_bioma", "bioma_nome"),
      0, 0, 20, 10).withColumn("geom", typedLit(rect(0, 0, 20, 10)))
  }
  private lazy val ucs: DataFrame = {
    import spark.implicits._
    bboxed(Seq((1L, "42", "UC X")).toDF("dim_id", "cd_cnuc", "nome_uc"),
      0, 0, 5, 10).withColumn("geom", typedLit(rect(0, 0, 5, 10)))
  }
  private lazy val tis: DataFrame = {
    import spark.implicits._
    bboxed(Seq((1L, "7", "TI Y")).toDF("dim_id", "terrai_cod", "terrai_nom"),
      5.5, 0, 10, 10).withColumn("geom", typedLit(rect(5.5, 0, 10, 10)))
  }

  /** Per day: 2 points in UC territory, 1 in TI territory (all mun Alpha),
    * 2 in mun Beta, plus one exact duplicate and one invalid-lat row. */
  private def writeDailyCsv(dir: Path, day: LocalDate): String = {
    val d = day.toString
    val rows = Seq(
      s"2,5;1,5;$d 12:00:00;AQUA;Alpha;RO;Amazonia",
      s"4,5;4,4;$d 12:05:00;AQUA;Alpha;RO;Amazonia",
      s"3,5;7,5;$d 12:10:00;TERRA;Alpha;RO;Amazonia",
      s"1,5;11,5;$d 12:15:00;AQUA;Beta;AC;Amazonia",
      s"8,5;15,5;$d 12:20:00;TERRA;Beta;AC;Amazonia",
      s"2,5;1,5;$d 12:00:00;AQUA;Alpha;RO;Amazonia", // duplicate of row 1
      s"999;1,5;$d 12:25:00;AQUA;Alpha;RO;Amazonia" // invalid latitude
    )
    val f = dir.resolve(s"$day.csv")
    Files.writeString(f,
      "latitude;longitude;data_hora_gmt;satelite;municipio;estado;bioma\n" +
        rows.mkString("\n") + "\n")
    f.toString
  }

  private lazy val fixture: (Pipeline, String, Path) = {
    val dir = Files.createTempDirectory("graft_pipeline")
    val root = dir.resolve("warehouse").toString
    val p = new Pipeline(spark, root, municipios, biomas, Some(ucs), Some(tis))
    (p, root, dir)
  }

  private val d1 = LocalDate.parse("2024-01-01")
  private val d3 = LocalDate.parse("2024-01-03")

  test("3-day backfill: enrich chain + marts + conservation invariants") {
    val (p, root, dir) = fixture
    val done = p.backfill(d1, d3,
      d => Ingest.readCsv(spark, writeDailyCsv(dir, d)), checks = true)
    assert(done.size == 3)
    assert(p.readState().contains(d3))

    val curated = spark.read.parquet(s"$root/curated")
    assert(curated.count() == 15) // 5 valid unique rows x 3 days
    val enriched = spark.read.parquet(s"$root/enriched")
    assert(enriched.count() == 15)
    assert(enriched.filter(col("mun_cd_mun").isNull).count() == 0)
    // UC/TI coverage: 2 points/day in the UC box, 1/day in the TI box
    assert(enriched.filter(col("cd_cnuc") === "42").count() == 6)
    assert(enriched.filter(col("terrai_cod") === "7").count() == 3)
    assert(enriched.filter(!col("bioma_checked") || !col("uc_checked") || !col("ti_checked"))
      .count() == 0)

    // marts: all six daily tables + monthly mun + cube materialized
    def mart(n: String) = spark.read.parquet(s"$root/marts/$n")
    assert(mart("focos_diario_municipio").agg(sum("n_focos")).head.getLong(0) == 15)
    assert(mart("focos_diario_uf").agg(sum("n_focos")).head.getLong(0) == 15)
    assert(mart("focos_mensal_municipio").agg(sum("n_focos")).head.getLong(0) == 15)
    assert(mart("focos_diario_bioma").agg(sum("focos")).head.getLong(0) == 15)
    assert(mart("focos_diario_uc").agg(sum("focos")).head.getLong(0) == 6)
    assert(mart("focos_diario_ti").agg(sum("focos")).head.getLong(0) == 3)
    val cube = mart("mv_focos_day_dim")
    assert(cube.agg(sum("n_focos")).head.getLong(0) == 15)
    // all 11 dimension columns populated end-to-end
    assert(cube.filter(col("cd_cnuc") === "42").agg(sum("n_focos")).head.getLong(0) == 6)
    assert(cube.filter(col("terrai_cod") === "7").agg(sum("n_focos")).head.getLong(0) == 3)
    assert(cube.filter(col("cd_bioma") === "1").agg(sum("n_focos")).head.getLong(0) == 15)
  }

  test("enrichMunicipio: KNN fallback snaps a gap point within 2 km to the " +
    "nearest municipality and leaves a far point unassigned") {
    import spark.implicits._
    import graft.enrich.Enrich
    // Alpha covers lon [0,10], Beta [10.5,20] — a 0.5° gap between them.
    // (10.49, 5) is ~1.1 km from Beta's western edge → snaps to Beta;
    // (10.25, 5) is ~27 km from both → stays null; (5, 5) is exact-PIP
    // inside Alpha and must NOT be touched by the fallback.
    val facts = Seq(("h1", 5.0, 5.0), ("h2", 10.49, 5.0), ("h3", 10.25, 5.0))
      .toDF("event_hash", "lon", "lat")
    val got = Enrich.enrichMunicipio(facts, municipios)
      .select("event_hash", "mun_cd_mun", "mun_nm_mun", "mun_uf")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSet
    assert(got == Set(
      ("h1", "1100015", "Alpha", "RO"),
      ("h2", "1100023", "Beta", "AC"),
      ("h3", null, null, null)))
    // exactly one output row per fact — the conservation invariant the
    // linear join+window form must preserve
    assert(Enrich.enrichMunicipio(facts, municipios).count() == 3)
  }

  test("enriched store schema: names, types and order are pinned, with and " +
    "without the UC/TI dims") {
    val enrichedSchema = "event_hash:string,lat:double,lon:double,view_ts:string," +
      "satelite:string,municipio:string,uf:string,bioma:string,props:string," +
      "mun_cd_mun:string,mun_nm_mun:string,mun_uf:string,mun_area_km2:double," +
      "cd_bioma:string,bioma_checked:boolean,cd_cnuc:string,uc_nome:string," +
      "uc_checked:boolean,terrai_cod:string,ti_nome:string,ti_checked:boolean,file_date:date"
    def stored(root: String): String = spark.read.parquet(s"$root/enriched").schema.fields
      .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    val dir = Files.createTempDirectory("graft_enriched_schema")
    val full = dir.resolve("full").toString
    new Pipeline(spark, full, municipios, biomas, Some(ucs), Some(tis))
      .backfill(d1, d3, d => Ingest.readCsv(spark, writeDailyCsv(dir, d)))
    assert(stored(full) == enrichedSchema)
    val noUcTi = dir.resolve("no_uc_ti").toString
    new Pipeline(spark, noUcTi, municipios, biomas)
      .runDayFrom(Ingest.readCsv(spark, writeDailyCsv(dir, d1)), d1, Set.empty)
    assert(stored(noUcTi) == enrichedSchema)
  }

  test("schema cache: a write that changes the store schema invalidates the " +
    "cached entry; an unchanged-schema write keeps it") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_schema_cache")
    val root = dir.resolve("wh").toString
    val p = new Pipeline(spark, root, municipios, biomas)
    Seq((1, "x")).toDF("a", "b").write.parquet(s"$root/demo")
    assert(p.readTable("demo").columns.toSeq == Seq("a", "b")) // primes cache
    // the store gains a column; without invalidation the cached schema
    // silently projects it away
    val v2 = Seq((2, "y", 9L)).toDF("a", "b", "c")
    v2.write.mode("overwrite").parquet(s"$root/demo")
    assert(p.readTable("demo").columns.toSeq == Seq("a", "b"),
      "precondition: the stale cache really is in play")
    p.noteWrite("demo", v2, Seq.empty)
    assert(p.readTable("demo").columns.toSeq.sorted == Seq("a", "b", "c"),
      "changed-schema write must invalidate the cached entry")
    // unchanged-schema append keeps the (re-primed) cache entry valid
    p.noteWrite("demo", v2, Seq.empty)
    assert(p.readTable("demo").columns.toSeq.sorted == Seq("a", "b", "c"))
    // a write that DROPS a column must also invalidate (set equality, not
    // subset): a one-directional check would keep the stale 3-column entry
    // and read the vanished column back as all-null forever
    val v3 = Seq((3, "z")).toDF("a", "b")
    v3.write.mode("overwrite").parquet(s"$root/demo")
    p.noteWrite("demo", v3, Seq.empty)
    assert(p.readTable("demo").columns.toSeq.sorted == Seq("a", "b"),
      "dropped-column write must invalidate the cached entry")
  }

  test("localized dims: a fact-sized frame mis-wired as a dimension fails " +
    "the bounded-dim contract loudly instead of collecting unbounded") {
    val dir = Files.createTempDirectory("graft_dim_guard")
    val big = spark.range(200001).selectExpr("cast(id as string) as uf",
      "cast(id as double) as area_km2", "'x' as nm_mun", "'1' as cd_mun",
      "'g' as geom_json")
    val e = intercept[IllegalArgumentException] {
      new Pipeline(spark, dir.resolve("wh").toString, big, biomas)
    }
    assert(e.getMessage.contains("bounded-dim"))
  }

  test("idempotent re-run inserts nothing and keeps counts stable") {
    val (p, root, dir) = fixture
    val again = p.runDay(writeDailyCsv(dir, d1), d1)
    assert(again("attempted") == 5)
    assert(again("inserted") == 0)
    assert(spark.read.parquet(s"$root/curated").count() == 15)
    assert(spark.read.parquet(s"$root/enriched").count() == 15)
    assert(p.checkDay(d1).isEmpty)
  }

  test("resume skips completed days") {
    val (p, _, _) = fixture
    val resumed = p.backfill(d1, d3,
      _ => fail("resume must not re-run completed days"): DataFrame,
      resume = true)
    assert(resumed.isEmpty)
  }

  test("mart input is partition-pruned on file_date (not just the derived day key)") {
    val (p, root, _) = fixture
    val plan = p.martInput(spark.read.parquet(s"$root/enriched"),
      java.sql.Date.valueOf(d1)).queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*file_date[^\\]]*\\]".r.findFirstIn(plan)
    assert(pf.isDefined, s"no file_date partition filter in plan:\n$plan")
  }

  test("curatedDay union view: a re-run heals curated orphans AND admits the " +
    "late batch's new rows (existing ∪ fresh ≡ the partition read-back)") {
    // Own root: this test doctors the curated store, so it must not share
    // the lazy fixture other tests assert exact counts against.
    val dir2 = Files.createTempDirectory("graft_pipeline_union")
    val root = dir2.resolve("warehouse").toString
    val p = new Pipeline(spark, root, municipios, biomas, Some(ucs), Some(tis))
    val day = LocalDate.parse("2024-02-01")
    val first = p.runDay(writeDailyCsv(dir2, day), day)
    assert(first("inserted") == 5)

    // Simulate a prior crashed batch: two curated rows whose enrichment
    // never happened (curated append succeeded, enriched write did not).
    // runDayFrom used to see them via the partition READ-BACK; the
    // existing ∪ fresh union view must see them via `existing`.
    val part = s"$root/curated/file_date=$day"
    val orphans = spark.read.parquet(part).limit(2)
      .withColumn("event_hash", concat(lit("orphan_"), col("event_hash")))
      .withColumn("lat", col("lat") + lit(0.01))
    orphans.write.mode("append").parquet(part)

    // Late file for the SAME day: the original rows plus one new point
    // (valid coords inside mun Alpha / biome / UC boxes)
    val f = dir2.resolve(s"$day-late.csv")
    val d = day.toString
    Files.writeString(f,
      "latitude;longitude;data_hora_gmt;satelite;municipio;estado;bioma\n" +
        s"2,5;1,5;$d 12:00:00;AQUA;Alpha;RO;Amazonia\n" +
        s"9,1;2,2;$d 18:00:00;AQUA;Alpha;RO;Amazonia\n")
    val again = p.runDay(f.toString, day)
    assert(again("attempted") == 2)
    assert(again("inserted") == 1) // the 18:00 point only

    // curated: 5 original + 2 orphans + 1 late insert
    val curated = spark.read.parquet(s"$root/curated")
    assert(curated.count() == 8)
    // enriched must match curated 1:1 — the 2 orphans healed (only the
    // read-back used to guarantee that) AND the fresh row admitted (only
    // `fresh` carries it: its files postdate `existing`'s pinned listing)
    val enriched = spark.read.parquet(s"$root/enriched")
    assert(enriched.count() == 8)
    assert(enriched.select("event_hash").distinct().count() == 8)
    assert(enriched.filter(col("event_hash").startsWith("orphan_")).count() == 2)
    assert(enriched.filter(col("mun_cd_mun").isNull).count() == 0)
    assert(p.checkDay(day).isEmpty)
  }

  test("crash heal, enriched ahead of curated: a re-run re-inserts the rows " +
    "curated lacks once and does not re-enrich them") {
    // Own root: this test doctors the curated store.
    val dir2 = Files.createTempDirectory("graft_pipeline_enriched_ahead")
    val root = dir2.resolve("warehouse").toString
    val p = new Pipeline(spark, root, municipios, biomas, Some(ucs), Some(tis))
    val day = LocalDate.parse("2024-02-02")
    val csv = writeDailyCsv(dir2, day)
    assert(p.runDay(csv, day)("inserted") == 5)

    // Simulate a crashed run whose enriched append landed while its curated
    // append did not (the two writes run concurrently): rewrite the curated
    // partition without two of its rows.
    val part = s"$root/curated/file_date=$day"
    val curated0 = spark.read.parquet(part)
    val kept = curated0.orderBy("event_hash").limit(3).collect()
    val lost = curated0.orderBy("event_hash").collect().drop(3).map(_.getAs[String]("event_hash"))
    spark.createDataFrame(java.util.Arrays.asList(kept: _*), curated0.schema)
      .write.mode("overwrite").parquet(part)
    assert(spark.read.parquet(s"$root/curated").count() == 3)
    assert(spark.read.parquet(s"$root/enriched").count() == 5)

    val again = p.runDay(csv, day)
    assert(again("inserted") == 2)
    val curated = spark.read.parquet(s"$root/curated")
    assert(curated.count() == 5)
    assert(curated.select("event_hash").distinct().count() == 5)
    assert(curated.filter(col("event_hash").isin(lost: _*)).count() == 2)
    val enriched = spark.read.parquet(s"$root/enriched")
    assert(enriched.count() == 5)
    assert(enriched.select("event_hash").distinct().count() == 5)
    assert(p.checkDay(day).isEmpty)
  }

  test("inParallel: a body blocked past the deadline fails the call within " +
    "about one deadline and is interrupted") {
    val interrupted = new java.util.concurrent.CountDownLatch(3)
    def blocked(): Unit =
      try Thread.sleep(60000)
      catch { case _: InterruptedException => interrupted.countDown() }
    val t0 = System.nanoTime()
    // three blocked bodies: awaits that each got a fresh limit would take 3 s
    intercept[java.util.concurrent.TimeoutException] {
      Pipeline.inParallel(Seq(() => blocked(), () => blocked(), () => blocked()),
        limit = scala.concurrent.duration.Duration(1, java.util.concurrent.TimeUnit.SECONDS))
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    assert(elapsed < 2.5, s"inParallel took ${elapsed}s past a 1 s deadline")
    assert(interrupted.await(10, java.util.concurrent.TimeUnit.SECONDS),
      "the blocked bodies were not interrupted")
  }

  test("checked-flags read path: reenrichDay restores a late-arriving dimension") {
    val (p, root, dir2) = fixture
    // simulate "UC dim arrived late": null the UC outputs of day 1 and clear its flag
    val day = spark.read.parquet(s"$root/enriched")
      .filter(col("file_date") === lit(java.sql.Date.valueOf(d1)))
    val doctored = day
      .withColumn("uc_checked", lit(false))
      .withColumn("cd_cnuc", lit(null).cast("string"))
      .withColumn("uc_nome", lit(null).cast("string"))
    val tmp = dir2.resolve("doctored").toString
    doctored.write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp)
      .withColumn("file_date", lit(java.sql.Date.valueOf(d1)))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("file_date").parquet(s"$root/enriched")

    assert(p.reenrichDay(d1) == 5) // every day-1 row was unchecked
    val redone = spark.read.parquet(s"$root/enriched")
      .filter(col("file_date") === lit(java.sql.Date.valueOf(d1)))
    assert(redone.count() == 5)
    assert(redone.filter(col("cd_cnuc") === "42").count() == 2)
    assert(redone.filter(!col("uc_checked")).count() == 0)
    assert(p.checkDay(d1).isEmpty)
  }

  test("EP3 over EP1: the Serve layer answers from the pipeline-written cube") {
    import graft.serve.Serve
    val (_, root, _) = fixture
    val cube = spark.read.parquet(s"$root/marts/mv_focos_day_dim")
    val from = d1
    val to = d3.plusDays(1)

    assert(Serve.totals(cube, from, to, Serve.Filters()).head.getLong(0) == 15)
    assert(Serve.totals(cube, from, to, Serve.Filters(uf = Some("ro")))
      .head.getLong(0) == 9) // filter normalization upper-cases "ro"

    val s = Serve.summary(cube, from, to, Serve.Filters()).head
    assert(s.getAs[Long]("total_focos") == 15)
    assert(s.getAs[java.sql.Date]("peak_day").toLocalDate == d1) // 5/5/5 tie -> earliest
    assert(s.getAs[Long]("peak_n") == 5)

    val top = Serve.top(cube, from, to, Serve.Filters(), by = "uf", limit = 5)
      .collect().map(r => r.getAs[String]("key") -> r.getAs[Long]("n_focos"))
    assert(top.toSeq == Seq("RO" -> 9L, "AC" -> 6L))

    val (tot, ts, byUf) = Serve.validateConsistency(cube, from, to, Serve.Filters())
    assert(tot == 15 && ts == 15 && byUf == 15)
  }

  /** Two file days either side of a month boundary. Day 2024-01-31 carries a
    * view day before its file day, a null and an unparsable `view_ts` and a
    * point outside every dimension; day 2024-02-01 carries a view day in the
    * previous MONTH, so the view-day and file-day keys differ at both grains. */
  private def writeGoldenCsv(dir: Path, day: LocalDate): String = {
    val rows = day.toString match {
      case "2024-01-31" => Seq(
        "2,5;1,5;2024-01-31 12:00:00;AQUA", // Alpha, UC
        "3,5;7,5;2024-01-30 23:50:00;TERRA", // Alpha, TI; view day before file day
        "1,5;11,5;;AQUA", // Beta; null view_ts
        "8,5;15,5;31/01/2024 13:00;TERRA", // Beta; unparsable view_ts
        "5,0;25,0;2024-01-31 14:00:00;AQUA") // outside every dimension
      case "2024-02-01" => Seq(
        "4,5;4,4;2024-01-31 23:30:00;AQUA", // Alpha, UC; view day in January
        "2,2;1,2;2024-02-01 10:00:00;AQUA", // Alpha, UC
        "6,5;16,5;2024-02-01 11:00:00;TERRA", // Beta
        "3,3;8,8;;AQUA") // Alpha, TI; null view_ts
    }
    val f = dir.resolve(s"golden-$day.csv")
    Files.writeString(f, "latitude;longitude;data_hora_gmt;satelite\n" +
      rows.map(_ + "\n").mkString)
    f.toString
  }

  /** Every stored mart after two days and a rebuild of the first day's
    * marts (which then sees the second file's January view-day row), and
    * the trend view over the stored daily UF mart: schema as name:type in
    * stored order, and the rows sorted as strings. */
  test("golden marts: the eleven stored marts over cross-day and " +
    "cross-month view days, null and unparsable view_ts") {
    import graft.marts.Marts
    val dir = Files.createTempDirectory("graft_golden_marts")
    val root = dir.resolve("wh").toString
    val p = new Pipeline(spark, root, municipios, biomas, Some(ucs), Some(tis))
    val (jan31, feb1) = (LocalDate.parse("2024-01-31"), LocalDate.parse("2024-02-01"))
    p.runDay(writeGoldenCsv(dir, jan31), jan31)
    p.runDay(writeGoldenCsv(dir, feb1), feb1)
    p.writeMarts(java.sql.Date.valueOf(jan31))
    def shown(df: DataFrame): (String, Seq[String]) =
      (df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(","),
        df.collect().map(_.toSeq.mkString("|")).toSeq.sorted)
    def stored(name: String): DataFrame = spark.read.parquet(s"$root/marts/$name")
    val mun = "mun_cd_mun:string,mun_nm_mun:string,mun_uf:string," +
      "mun_area_km2:double,n_focos:bigint,focos_por_100km2:decimal(37,4)"
    val uf = "uf:string,n_focos:bigint,uf_area_km2:double,focos_por_100km2:decimal(37,4)"
    val golden: Map[String, (String, Seq[String])] = Map(
      "focos_diario_municipio" -> (s"$mun,day:date", Seq(
        "1100015|Alpha|RO|5000.0|2|0.0400|2024-01-31",
        "1100015|Alpha|RO|5000.0|2|0.0400|2024-02-01",
        "1100023|Beta|AC|7000.0|1|0.0143|2024-02-01",
        "1100023|Beta|AC|7000.0|2|0.0286|2024-01-31")),
      "focos_mensal_municipio" -> (s"$mun,month:date", Seq(
        "1100015|Alpha|RO|5000.0|2|0.0400|2024-02-01",
        "1100015|Alpha|RO|5000.0|3|0.0600|2024-01-01",
        "1100023|Beta|AC|7000.0|1|0.0143|2024-02-01",
        "1100023|Beta|AC|7000.0|2|0.0286|2024-01-01")),
      "focos_diario_uf" -> (s"$uf,day:date", Seq(
        "AC|1|7000.0|0.0143|2024-02-01",
        "AC|2|7000.0|0.0286|2024-01-31",
        "RO|2|5000.0|0.0400|2024-01-31",
        "RO|2|5000.0|0.0400|2024-02-01")),
      "focos_mensal_uf" -> (s"$uf,month:date", Seq(
        "AC|1|7000.0|0.0143|2024-02-01",
        "AC|2|7000.0|0.0286|2024-01-01",
        "RO|2|5000.0|0.0400|2024-02-01",
        "RO|3|5000.0|0.0600|2024-01-01")),
      "focos_diario_bioma" -> ("cd_bioma:string,bioma:string,focos:int,day:date", Seq(
        "1|Amazonia|4|2024-01-31",
        "1|Amazonia|4|2024-02-01")),
      "focos_mensal_bioma" -> ("cd_bioma:string,bioma:string,focos:int,month:date", Seq(
        "1|Amazonia|4|2024-01-01",
        "1|Amazonia|4|2024-02-01")),
      "focos_diario_uc" -> ("cd_cnuc:string,uc_nome:string,focos:int,day:date", Seq(
        "42|UC X|1|2024-01-31",
        "42|UC X|2|2024-02-01")),
      "focos_mensal_uc" -> ("cd_cnuc:string,uc_nome:string,focos:int,month:date", Seq(
        "42|UC X|1|2024-01-01",
        "42|UC X|2|2024-02-01")),
      "focos_diario_ti" -> ("terrai_cod:string,ti_nome:string,focos:int,day:date", Seq(
        "7|TI Y|1|2024-01-31",
        "7|TI Y|1|2024-02-01")),
      "focos_mensal_ti" -> ("terrai_cod:string,ti_nome:string,focos:int,month:date", Seq(
        "7|TI Y|1|2024-01-01",
        "7|TI Y|1|2024-02-01")),
      "focos_diario_uf_trend" ->
        ("day:date,uf:string,n_focos:bigint,ma7:decimal(31,2),ma30:decimal(31,2)", Seq(
          "2024-01-31|AC|2|2.00|2.00",
          "2024-01-31|RO|2|2.00|2.00",
          "2024-02-01|AC|1|1.50|1.50",
          "2024-02-01|RO|2|2.00|2.00")),
      "mv_focos_day_dim" -> ("uf:string,cd_uf:string,cd_mun:string,mun_nm_mun:string," +
        "bioma:string,cd_bioma:string,uc_nome:string,cd_cnuc:string,ti_nome:string," +
        "terrai_cod:string,n_focos:bigint,day:date", Seq(
          "AC|AC|1100023|Beta|Amazonia|1|null|null|null|null|1|2024-02-01",
          "AC|AC|1100023|Beta|Amazonia|1|null|null|null|null|2|2024-01-31",
          "RO|RO|1100015|Alpha|Amazonia|1|UC X|42|null|null|1|2024-02-01",
          "RO|RO|1100015|Alpha|Amazonia|1|UC X|42|null|null|2|2024-01-31",
          "RO|RO|1100015|Alpha|Amazonia|1|null|null|TI Y|7|1|2024-02-01",
          "null|null|null|null|null|null|null|null|null|null|1|2024-01-31")))
    val trend = "focos_diario_uf_trend"
    assert(p.allMarts.toSet == golden.keySet - trend)
    for ((name, want) <- golden - trend) assert(shown(stored(name)) == want, name)
    assert(shown(Marts.focosDiarioUfTrend(stored("focos_diario_uf"))) == golden(trend))
  }

  /** The golden days plus two facts written straight into enriched/: one in
    * a UF the area rollup does not carry and with a second label for the
    * biome key, one with a null municipality. */
  test("writeMarts stores, for every counted mart and both rebuilt periods, " +
    "the rows its own table entry computes over all of enriched/") {
    import graft.marts.Marts
    val dir = Files.createTempDirectory("graft_mart_equiv")
    val root = dir.resolve("wh").toString
    val p = new Pipeline(spark, root, municipios, biomas, Some(ucs), Some(tis))
    val (jan31, feb1) = (LocalDate.parse("2024-01-31"), LocalDate.parse("2024-02-01"))
    p.runDay(writeGoldenCsv(dir, jan31), jan31)
    p.runDay(writeGoldenCsv(dir, feb1), feb1)
    val alphaUc = spark.read.parquet(s"$root/enriched")
      .filter(col("file_date") === lit(java.sql.Date.valueOf(jan31)) &&
        col("mun_uf") === "RO" && col("cd_cnuc").isNotNull).limit(1)
    val extra = alphaUc
      .withColumn("event_hash", lit("zeta")).withColumn("mun_cd_mun", lit("9900001"))
      .withColumn("mun_nm_mun", lit("Zeta")).withColumn("mun_uf", lit("ZZ"))
      .withColumn("bioma", lit("Amazônia Legal"))
      .unionByName(alphaUc.withColumn("event_hash", lit("no_mun"))
        .withColumn("mun_cd_mun", lit(null).cast("string"))
        .withColumn("mun_nm_mun", lit(null).cast("string"))
        .withColumn("mun_uf", lit(null).cast("string")))
    val rows = extra.collect()
    assert(rows.length == 2)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), extra.schema)
      .write.mode("append").partitionBy("file_date").parquet(s"$root/enriched")

    val enriched = spark.read.parquet(s"$root/enriched")
    val area = Marts.ufAreaRollup(municipios)
    def shown(df: DataFrame): (String, Seq[String]) =
      (df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(","),
        df.collect().map(_.toSeq.mkString("|")).toSeq.sorted)
    for (day <- Seq(jan31, feb1)) {
      p.writeMarts(java.sql.Date.valueOf(day))
      for (m <- Marts.table) {
        val start = if (m.grain == "day") day else day.withDayOfMonth(1)
        val inPeriod = col(m.grain) === lit(java.sql.Date.valueOf(start))
        val stored = spark.read.parquet(s"$root/marts/${m.name}").filter(inPeriod)
        val want = Marts(m.name)(enriched, area).filter(inPeriod)
        // stored order: the data columns, then the partition column
        val storedOrder = want.columns.filter(_ != m.grain) :+ m.grain
        assert(shown(stored) == shown(want.select(storedOrder.map(col).toIndexedSeq: _*)),
          s"${m.name} $start")
      }
    }
    val munJan = spark.read.parquet(s"$root/marts/focos_mensal_municipio")
      .filter(col("month") === lit(java.sql.Date.valueOf("2024-01-01")))
    assert(munJan.filter(col("mun_uf") === "ZZ").count() == 1)
    assert(munJan.filter(col("mun_cd_mun").isNull).count() == 0)
    val ufJan = spark.read.parquet(s"$root/marts/focos_mensal_uf")
    assert(ufJan.filter(col("uf") === "ZZ" || col("uf").isNull).count() == 0)
    assert(spark.read.parquet(s"$root/marts/focos_diario_bioma")
      .filter(col("day") === lit(java.sql.Date.valueOf(jan31)))
      .head().getAs[String]("bioma") == "Amazônia Legal")
    assert(spark.read.parquet(s"$root/marts/focos_mensal_uc")
      .filter(col("month") === lit(java.sql.Date.valueOf("2024-01-01")))
      .head().getAs[Int]("focos") == 3)
  }

  test("writeMarts runs at most 16 Spark jobs for a day's eleven marts and " +
    "persists nothing") {
    val (p, _, _) = fixture
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val (_, m) = RunMetrics.setup(spark).measure(p.writeMarts(java.sql.Date.valueOf(d1)))
    assert(m("spark.jobs") <= 16, s"writeMarts ran ${m("spark.jobs")} jobs")
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted)
  }

  test("writeMarts subset: one named mart is the only table written, and no " +
    "cached slice outlives the call") {
    val dir = Files.createTempDirectory("graft_mart_subset")
    val root = dir.resolve("wh").toString
    val p = new Pipeline(spark, root, municipios, biomas, Some(ucs), Some(tis))
    p.runDay(writeDailyCsv(dir, d1), d1) // default: every mart
    // writeMarts caches nothing: any frame it persisted and did not release
    // would stay among the persisted RDDs
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val p2 = new Pipeline(spark, dir.resolve("wh2").toString, municipios, biomas,
      Some(ucs), Some(tis))
    p2.runDayFrom(Ingest.readCsv(spark, writeDailyCsv(dir, d1)), d1, Set.empty)
    assert(!Files.exists(dir.resolve("wh2/marts")))
    p2.writeMarts(java.sql.Date.valueOf(d1), Set("focos_mensal_ti"))
    val written = Files.list(dir.resolve("wh2/marts")).toArray.map(_.toString.split('/').last)
    assert(written.toSeq == Seq("focos_mensal_ti"))
    assert(spark.read.parquet(s"$root/marts/focos_mensal_ti").collect().toSet ==
      spark.read.parquet(dir.resolve("wh2/marts/focos_mensal_ti").toString).collect().toSet)
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted,
      "writeMarts left a cached frame behind")
  }

  /** The trend is not stored: it is computed on read over the daily UF
    * mart, so a rebuild of that mart alone after a late file leaves no
    * trend table behind it to go stale. */
  test("the UF trend is a view: a late file rebuilt into the daily UF mart " +
    "alone stores no trend table, and the view carries the late row") {
    import graft.marts.Marts
    val dir = Files.createTempDirectory("graft_trend_view")
    val root = dir.resolve("wh").toString
    val p = new Pipeline(spark, root, municipios, biomas, Some(ucs), Some(tis))
    p.runDay(writeDailyCsv(dir, d1), d1) // default: every mart
    val late = dir.resolve(s"$d1-late.csv")
    Files.writeString(late, "latitude;longitude;data_hora_gmt;satelite\n" +
      s"9,1;2,2;$d1 18:00:00;AQUA\n")
    assert(p.runDayFrom(Ingest.readCsv(spark, late.toString), d1, Set.empty)("inserted") == 1)
    p.writeMarts(java.sql.Date.valueOf(d1), Set("focos_diario_uf"))
    val listed = Files.list(dir.resolve("wh/marts")).toArray.map(_.toString.split('/').last)
    assert(listed.toSeq.sorted == p.allMarts.sorted)
    assert(!listed.contains("focos_diario_uf_trend"))
    val view = Marts.focosDiarioUfTrend(spark.read.parquet(s"$root/marts/focos_diario_uf"))
      .filter(col("day") === lit(java.sql.Date.valueOf(d1))).collect()
      .map(r => r.getAs[String]("uf") -> r.getAs[Long]("n_focos")).toMap
    assert(view == Map("RO" -> 4L, "AC" -> 2L))
  }

  test("unknown mart names fail before anything is written; an empty set is valid") {
    val dir = Files.createTempDirectory("graft_mart_names")
    val root = dir.resolve("wh").toString
    val p = new Pipeline(spark, root, municipios, biomas, Some(ucs), Some(tis))
    val typo = Set("focos_diario_municpio")
    val csv = writeDailyCsv(dir, d1)
    for (call <- Seq[() => Any](
      () => p.writeMarts(java.sql.Date.valueOf(d1), typo),
      () => p.runDayFrom(Ingest.readCsv(spark, csv), d1, typo),
      () => p.backfill(d1, d1, _ => Ingest.readCsv(spark, csv), marts = typo))) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("focos_diario_municpio"))
    }
    assert(!Files.exists(dir.resolve("wh")), "a failed call wrote to the warehouse")
    assert(p.runDayFrom(Ingest.readCsv(spark, csv), d1, Set.empty)("inserted") == 5)
    assert(!Files.exists(dir.resolve("wh/marts")))
  }

  test("a re-run day replaces exactly its own mart partitions in a session " +
    "left at static overwrite, and leaves the session conf as it was") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.get(key)
    spark.conf.set(key, "static")
    try {
      val dir = Files.createTempDirectory("graft_static_overwrite")
      val root = dir.resolve("wh").toString
      val p = new Pipeline(spark, root, municipios, biomas, Some(ucs), Some(tis))
      val d2 = d1.plusDays(1)
      p.runDay(writeDailyCsv(dir, d1), d1)
      p.runDay(writeDailyCsv(dir, d2), d2)
      def days(mart: String): Map[String, Long] =
        spark.read.parquet(s"$root/marts/$mart").groupBy(col("day").cast("string"))
          .agg(sum("n_focos")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(days("focos_diario_municipio") == Map(s"$d1" -> 5L, s"$d2" -> 5L))
      // the late file for d1 adds one row; the re-run rebuilds d1 only
      val late = dir.resolve(s"$d1-late.csv")
      Files.writeString(late, "latitude;longitude;data_hora_gmt;satelite\n" +
        s"9,1;2,2;$d1 18:00:00;AQUA\n")
      assert(p.runDay(late.toString, d1)("inserted") == 1)
      for (m <- Seq("focos_diario_municipio", "focos_diario_uf", "mv_focos_day_dim"))
        assert(days(m) == Map(s"$d1" -> 6L, s"$d2" -> 5L), m)
      assert(spark.read.parquet(s"$root/marts/focos_mensal_uf").agg(sum("n_focos"))
        .head.getLong(0) == 11)
      assert(p.reenrichDay(d1) == 0)
      assert(spark.conf.get(key) == "static")
      assert(p.checkDay(d1).isEmpty && p.checkDay(d2).isEmpty)
    } finally spark.conf.set(key, before)
  }

  test("the pipeline_reenrich_flags row overwrites its doctored day with a " +
    "per-write option and leaves a static session static") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.get(key)
    spark.conf.set(key, "static")
    try {
      val rows = Queries.queries("pipeline_reenrich_flags")(spark, "/root/testdata/sf0.001")
        .collect()
      assert(rows.length == 1)
      val r = rows.head
      assert(r.getAs[Long]("n_unchecked") > 0)
      assert(r.getAs[Long]("n_rows") == r.getAs[Long]("n_unchecked"))
      assert(r.getAs[Long]("n_flags_clear") == 0L)
      assert(spark.conf.get(key) == "static")
    } finally spark.conf.set(key, before)
  }

  test("A7 period stats: single-pass max_by peak over the daily UF mart") {
    import graft.marts.Marts
    val (_, root, _) = fixture
    val dailyUf = spark.read.parquet(s"$root/marts/focos_diario_uf")
    val period = Marts.focosPeriodoUf(dailyUf,
        java.sql.Date.valueOf(d1), java.sql.Date.valueOf(d3))
      .collect().map(r => r.getAs[String]("uf") -> r).toMap
    assert(period.keySet == Set("RO", "AC"))
    val ro = period("RO")
    assert(ro.getAs[Long]("n_focos_total") == 9)
    assert(ro.getAs[java.math.BigDecimal]("n_focos_avg_daily").doubleValue() == 3.0)
    assert(ro.getAs[Long]("n_focos_max_daily") == 3)
    // 3/3/3 tie -> earliest day wins (DISTINCT ON tiebreak, W3)
    assert(ro.getAs[java.sql.Date]("peak_day").toLocalDate == d1)
  }
}
