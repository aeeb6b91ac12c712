package graft.pipeline

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Date
import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.enrich.Enrich
import graft.ingest.Ingest
import graft.marts.Marts
import graft.sources.Sources

object Pipeline {
  /** Upper bound on one [[inParallel]] call (r18 VERDICT item 4):
    * `Await.result(…, Duration.Inf)` on a non-daemon pool turns one wedged
    * write (stale FS mount) into a forever-hang of the whole query; the
    * bound fails loudly instead. Generous by design — it exists to catch
    * wedges, never to time out real work. */
  private[graft] val awaitLimit: scala.concurrent.duration.FiniteDuration =
    scala.concurrent.duration.Duration(4, java.util.concurrent.TimeUnit.HOURS)

  /** Run independent driver-side Spark actions concurrently (guide §2.6:
    * actions are only sequential because driver code calls them
    * sequentially — a small pool lets the scheduler back-fill executors
    * freed by one job's tail with the next job's tasks, and overlaps the
    * per-action driver latency: plan analysis + commit + listing, ~half
    * the wall on lifecycle rows). Daemon threads (a wedged body can never
    * pin the JVM open); every await shares ONE deadline `limit` from now,
    * so the call fails within `limit` however many bodies wedge. All
    * futures are awaited before the first failure is rethrown, so after a
    * body FAILS nothing is left in flight; after a TIMEOUT the pool is shut
    * down with interrupts, but a body that ignores interruption may still
    * be running when the caller sees the exception. Job groups and
    * descriptions are thread-local, so per-thread submission keeps UI
    * attribution correct. */
  private[graft] def inParallel[A](bodies: Seq[() => A], threads: Int = 4,
      limit: scala.concurrent.duration.FiniteDuration = awaitLimit): Seq[A] = {
    if (bodies.lengthCompare(1) <= 0) return bodies.map(_())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(threads, bodies.length),
      new java.util.concurrent.ThreadFactory {
        override def newThread(r: Runnable): Thread = {
          val t = new Thread(r, "graft-parallel-action"); t.setDaemon(true); t
        }
      })
    val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val deadline = limit.fromNow
      val fs = bodies.map(b => scala.concurrent.Future(b())(ec))
      val rs = fs.map(f => scala.util.Try(
        scala.concurrent.Await.result(f, deadline.timeLeft)))
      rs.collectFirst { case scala.util.Failure(e) => throw e }
      rs.map(_.get)
    } finally pool.shutdownNow()
  }
}

/** Orchestration: the reference's per-day batch model (SURVEY §2.10, EP1/EP2)
  * — one invocation per date, idempotent re-runs, resumable backfill with an
  * atomically-written JSON state file (src/etl/backfill.py:47-66,151-212).
  *
  * Storage layout under `root`:
  *   curated/   — ingested facts, partitioned by file_date
  *   enriched/  — spatially enriched facts, partitioned by file_date
  *   marts/<name>/ — aggregate tables, partitioned by day or month
  *
  * The full reference enrichment chain runs per day: municipality PIP+KNN
  * (sql/enrich/20_enrich_municipio.sql) then first-match biome, UC and TI
  * (21_enrich_biomas_ucs_tis.sql:21-119); marts cover municipality/UF
  * daily+monthly, biome/UC/TI daily+monthly (sql/marts/10..61) and the
  * 11-column fact cube (sqlm/marts/canonical/065_mv_focos_day_dim.sql).
  * File 30, the UF trend, is a view in the reference and is not stored
  * here either: `Marts.focosDiarioUfTrend` computes it on read over
  * `marts/focos_diario_uf`.
  *
  * Scale: every mart read is bounded by a `file_date` PARTITION predicate
  * before the derived day-key filter — `coalesce(to_date(view_ts),
  * file_date)` alone would defeat partition pruning and scan full history
  * every day. `view_ts` dates lag `file_date` by at most the retention
  * window, so the bound is semantically safe.
  */
final class Pipeline(spark: SparkSession, root: String,
                     municipios0: DataFrame, biomas0: DataFrame,
                     ucs0: Option[DataFrame] = None, tis0: Option[DataFrame] = None) {

  private def path(p: String) = s"$root/$p"

  /** Dimension tables are bounded by contract (≤ thousands of polygon rows
    * — the reference holds them as small Postgres tables) and broadcast-
    * join in EVERY statement a runDay executes. Collected ONCE into a
    * driver-local relation, each statement's broadcast build is a plan-
    * local LocalTableScan — zero Spark jobs — instead of a fresh collect
    * job per broadcast per statement (the round-12 profile: ~46 ×130 ms
    * broadcast mini-jobs across the 16 executions of a twice-run day,
    * pure scheduler overhead on identical dim bytes). A cluster catalog's
    * cached dim table reaches the same state after first use; here the
    * pipeline instance IS that scope. */
  private def localized(df: DataFrame): DataFrame = {
    // the bounded-dim contract, enforced loudly: collect limit+1 rows so a
    // mis-wired fact-sized "dim" fails with a clear message instead of
    // OOMing the driver mid-collect
    val limit = 200000
    val rows = df.limit(limit + 1).collect()
    require(rows.length <= limit,
      s"dimension exceeds the bounded-dim contract (> $limit rows); " +
        "refusing to localize it into the driver — wire it as a regular " +
        s"distributed table instead (schema: ${df.schema.simpleString})")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }
  private val municipios = localized(municipios0)
  private val biomas = localized(biomas0)
  private val ucs = ucs0.map(localized)
  private val tis = tis0.map(localized)
  /** UF area rollup is dim-derived and day-independent: one aggregate per
    * pipeline instance, not one per mart write. */
  private lazy val ufAreaDim =
    localized(Marts.ufAreaRollup(municipios.select(col("uf"), col("area_km2"))))

  // Schemas of the warehouse stores this instance reads back: every
  // schema-less spark.read.parquet runs a footer-inference JOB first
  // (~50-100 ms of driver latency), and one runDay re-reads curated /
  // enriched / mart stores several times. Store schemas are stable for the
  // life of a Pipeline (the writers in this class define them), so the
  // first read of each store infers once and later reads reuse it. Keyed
  // by relative path — a backfill touching many partitions shares the
  // parent-store entries. (At cluster scale the catalog serves this role.)
  private val tableSchemas =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]

  private[graft] def readTable(p: String): DataFrame =
    Option(tableSchemas.get(p)) match {
      case Some(sc) => spark.read.schema(sc).parquet(path(p))
      case None =>
        val df = spark.read.parquet(path(p))
        tableSchemas.put(p, df.schema)
        df
    }

  /** Writers call this after writing `written` under store path `p`: a
    * cached entry for that store (or a partition dir under it) survives
    * only if its data fields and the written data fields are SET-EQUAL by
    * name+type (modulo `partCols`) — the steady state, identical-schema
    * appends. Otherwise the entry is dropped so the next read re-infers
    * instead of silently projecting a stale schema. The check is
    * two-directional on purpose: a write that ADDS a column would
    * otherwise read back as absent, and a write that DROPS or renames one
    * would otherwise read the missing column back as all-null for the
    * life of this instance. `partCols` are excluded on BOTH sides: a
    * partition-dir read ("curated/file_date=X") never carries the
    * partition column, by design. */
  private[graft] def noteWrite(p: String, written: DataFrame,
                        partCols: Seq[String] = Seq("file_date")): Unit = {
    def dataSet(fields: Array[org.apache.spark.sql.types.StructField]) =
      fields.filterNot(f => partCols.contains(f.name))
        .map(f => (f.name, f.dataType)).toSet
    val writtenSet = dataSet(written.schema.fields)
    val it = tableSchemas.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val k = e.getKey
      if (k == p || k.startsWith(p + "/") || p.startsWith(k + "/")) {
        if (dataSet(e.getValue.fields) != writtenSet) it.remove()
      }
    }
  }
  // Hadoop FS probe, not java.io.File: with an HDFS/S3 root a local-FS
  // probe is always false, readOrEmpty would always come back empty, and
  // every re-run would duplicate rows through the "idempotent" append
  private def exists(p: String) = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sessionState.newHadoopConf()).exists(hp)
  }

  def readOrEmpty(p: String, like: DataFrame): DataFrame =
    if (exists(path(p))) readTable(p)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], like.schema)

  /** biome + UC + TI first-match enrichment, lowest-id tiebreak
    * (21_enrich_biomas_ucs_tis.sql:33-43,62-73,92-103), one layer per dim
    * in that order: (dim, dim column -> output column, checked flag). A
    * missing dim yields null output columns with the checked flag still set
    * (the reference marks rows checked even when no polygon matches,
    * :47-58). */
  private def enrichDims(withMun: DataFrame): DataFrame =
    Seq((Some(biomas), Map("cd_bioma" -> "cd_bioma", "bioma_nome" -> "bioma"), "bioma_checked"),
      (ucs, Map("cd_cnuc" -> "cd_cnuc", "nome_uc" -> "uc_nome"), "uc_checked"),
      (tis, Map("terrai_cod" -> "terrai_cod", "terrai_nom" -> "ti_nome"), "ti_checked"))
      .foldLeft(withMun) {
        case (df, (Some(dim), outCols, flag)) => Enrich.enrichFirstMatch(df, dim, outCols, flag)
        case (df, (None, outCols, flag)) => outCols.values
          .foldLeft(df)((acc, c) => acc.withColumn(c, lit(null).cast("string")))
          .withColumn(flag, lit(true))
      }

  /** The `file_date` window a rebuild of the `grain` period starting at
    * `start` reads: a partition predicate, so a rebuild scans O(retention)
    * partitions instead of full history (the reference scans the FULL table
    * with only the day-key predicate, 10_focos_diario_municipio.sql:50 —
    * the deliberate scale deviation). Padded BOTH sides: the view day can
    * lag file_date AND lead it (late files carrying earlier view days), so
    * a one-sided window silently dropped late-arriving rows from every
    * rebuild. */
  private def window(grain: String, start: Date): Column = {
    val ld = start.toLocalDate
    val end = if (grain == "day") ld else ld.withDayOfMonth(ld.lengthOfMonth)
    col("file_date").between(lit(Date.valueOf(ld.minusDays(Sources.RetentionDays))),
      lit(Date.valueOf(end.plusDays(Sources.RetentionDays))))
  }

  /** The facts the daily municipality and UF marts of day `d` read. */
  def martInput(enrichedAll: DataFrame, d: Date): DataFrame =
    enrichedAll.filter(window("day", d)).filter(Marts.dayKey === lit(d))

  private def requireKnown(marts: Set[String]): Unit = {
    val unknown = marts -- allMarts
    require(unknown.isEmpty, s"unknown mart(s) ${unknown.mkString(", ")}; " +
      s"the marts are ${allMarts.mkString(", ")}")
  }

  /** EP1 steps 4–7 for one day: ingest → idempotent load → enrich → marts. */
  def runDay(csvPath: String, fileDate: LocalDate): Map[String, Long] =
    runDayFrom(Ingest.readCsv(spark, csvPath), fileDate)

  /** Same, from an already-resolved raw CSV DataFrame (the S1/S2 source
    * resolver seam — Sources.resolveDaily feeds this directly). */
  def runDayFrom(raw: DataFrame, fileDate: LocalDate,
                 marts: Set[String] = allMarts.toSet): Map[String, Long] = {
    requireKnown(marts)
    val d = Date.valueOf(fileDate)

    // E+T: CSV → curated records. `attempted` is the count that
    // materializes this cache below; `inserted` rides the curated write job
    // as an Observation on the anti-joined frame, so the K3 accounting costs
    // no extra pass: counting `fresh` with a separate action would re-run
    // the left-anti join over the batch, a whole second scan at production
    // scale.
    val records = Ingest.transform(raw, d).cache()

    // L: idempotent append against the same file_date partition only
    val existing = readOrEmpty(s"curated/file_date=$fileDate", records.drop("file_date"))
    val obsInserted = org.apache.spark.sql.Observation()
    // persisted (O(batch), one day's inserts): the anti-joined frame feeds
    // BOTH the curated append and the curatedDay union below — without the
    // cache the left-anti join would re-run when the enrich chain executes.
    // The Observation attaches ABOVE the cache, on the write's frame only:
    // observe-then-persist buries CollectMetrics inside the InMemoryRelation,
    // where the write's QueryExecution cannot surface the metric (measured:
    // obs.get then throws key-not-found on any run whose anti-join survives
    // optimization).
    val fresh = Ingest.idempotentAppend(records, existing)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // try/finally: a failing write below must still release the two cached
    // frames — a long backfill on a shared session would otherwise
    // accumulate leaked cache entries across failed days
    try {
      // Materialize the records cache with ONE action before the two
      // concurrent writers start: both read `records` (the curated append
      // through `fresh`, the enrich chain through `curatedDay`), and left
      // cold the cache would be built inside whichever racing job reached
      // each partition first, the other job's tasks blocking on it. The same
      // action is the K3 `attempted` count; both writers then read the warm
      // cache.
      val attempted = records.count()

      // The curated append and the enrich chain are INDEPENDENT writes to
      // distinct stores: the enrich input is EXACTLY existing ∪ fresh —
      // both frames already in hand (`existing`'s file listing was pinned
      // when the frame was created, BEFORE the append, so re-executing its
      // plan cannot double-count the new files; the store re-read this
      // union replaced cost a full-store listing, O(days) at production
      // retention, plus a day-partition re-scan per runDay) — so the two
      // writes' driver latencies overlap (§2.6) instead of serializing.
      // Crash safety is order-free: an interrupted run leaves an orphan on
      // EITHER side and the next runDay heals both — a curated row missing
      // from enriched re-enriches via the `event_hash` anti-join
      // (Ingest.idempotentAppend against `already`); an enriched row missing
      // from curated re-inserts via the anti-join and is NOT re-enriched
      // (its event_hash is already in `already`) — PipelineSpec pins both
      // directions ("curatedDay union view…", "crash heal, enriched
      // ahead…"). Column order matches the old read-back: data columns
      // first, partition column appended last.
      val curatedDay = {
        val ex = existing.withColumn("file_date", lit(d))
        // fail-loud on store drift, with the drifted columns NAMED: an older
        // curated partition carrying a data column the current transform no
        // longer produces is a store-vs-code drift an operator must
        // adjudicate (re-baseline the store or fix the transform) — a bare
        // AnalysisException from the select reads as a bug, not as drift
        val missing = ex.columns.filterNot(fresh.columns.contains)
        require(missing.isEmpty,
          s"curated store partition file_date=$fileDate carries column(s) " +
            s"${missing.mkString(", ")} the current transform no longer " +
            "produces — store schema drift, not a code bug; re-baseline the " +
            "store or restore the column(s) in Ingest.transform")
        ex.unionByName(fresh.select(ex.columns.map(col): _*))
      }
      val already = readOrEmpty("enriched", curatedDay).filter(col("file_date") === lit(d))
      val enriched = enrichDims(Enrich.enrichMunicipio(
        Ingest.idempotentAppend(curatedDay, already), municipios))
      Pipeline.inParallel(Seq(
        () => {
          fresh.observe(obsInserted, count(lit(1)).as("n"))
            .write.mode("append").partitionBy("file_date").parquet(path("curated"))
          noteWrite("curated", fresh)
        },
        () => {
          enriched.write.mode("append").partitionBy("file_date").parquet(path("enriched"))
          noteWrite("enriched", enriched)
        }))
      val inserted = obsInserted.get("n").asInstanceOf[Long]

      writeMarts(d, marts)
      Map("attempted" -> attempted, "inserted" -> inserted)
    } finally {
      records.unpersist()
      fresh.unpersist()
    }
  }

  /** All mart names, in the reference's file order. */
  val allMarts: Seq[String] = Marts.table.map(_.name)

  /** All stored marts for one day (delete-day-then-insert ≡ dynamic
    * partition overwrite; the hard-coded file order 10,11,20,21 + dashboard
    * layer, src/etl/marts_runner.py:16-34 — file 30 is a view, computed on
    * read by `Marts.focosDiarioUfTrend`). `only`: rebuild a subset of marts —
    * a backfill that touched one dimension doesn't pay for the other ten
    * tables (the reference's marts_runner applies whatever SQL files it is
    * pointed at). Default rebuilds everything; an unknown name fails. */
  def writeMarts(d: Date, only: Set[String] = allMarts.toSet): Unit = {
    requireKnown(only)
    val chosen = Marts.table.filter(m => only(m.name))
    // The target periods: the run day and its month, for the grains the
    // chosen marts count per. One scan of enriched/ covers their windows
    // (the month of d ± retention), and one grouping-sets aggregate counts
    // every chosen mart in it; its result is a few thousand rows whatever
    // the corpus size, so it is collected and each mart comes back as
    // driver-local rows: nothing is cached, and a write runs no aggregate.
    val month = Date.valueOf(d.toLocalDate.withDayOfMonth(1))
    val targets = Map("day" -> Seq(d), "month" -> Seq(month))
      .filter { case (grain, _) => chosen.exists(_.grain == grain) }
    if (chosen.nonEmpty) {
      val scan = readTable("enriched").filter(targets.toSeq
        .flatMap { case (grain, ts) => ts.map(window(grain, _)) }.reduce(_ || _))
      // The marts are INDEPENDENT writes to distinct paths, each a small job
      // followed by driver-side commit/listing latency. Submitting them from
      // a bounded pool overlaps one mart's driver latency with another's
      // write instead of serializing ~11 × (plan + job + commit) — the §2.6
      // back-fill pattern. One task per mart. 3 in flight: on 4 cores, traced
      // perfbench daily_refetch read 1.83/2.01 s of marts per day at 3
      // threads against 2.05/1.71 s at 4 and 1.78/1.87 s at 6, so more
      // threads buy nothing. Job groups and descriptions are thread-local,
      // so per-thread submission also keeps the UI attribution correct.
      // inParallel awaits ALL before surfacing the first failure, so no
      // write is still in flight when the caller sees the exception.
      Pipeline.inParallel(Marts.rebuild(scan, chosen, targets, window, ufAreaDim).map {
        case (m, rows) => () =>
          // one file per written partition: the rows are local and few
          val out = s"marts/${m.name}"
          Marts.writePartitioned(rows.coalesce(1), path(out), m.grain)
          noteWrite(out, rows, Seq(m.grain))
      }, threads = 3)
    }
  }

  /** Checked-flag read path: re-enrich only rows some dimension has not
    * checked yet (the reference's `where not bioma_checked` working set,
    * 21_enrich_biomas_ucs_tis.sql:17-27), then overwrite the day partition.
    * Used when a dimension arrives after facts were first enriched. */
  def reenrichDay(fileDate: LocalDate): Long = {
    val d = Date.valueOf(fileDate)
    val day = readTable("enriched").filter(col("file_date") === lit(d))
    val unchecked = day.filter(
      !col("bioma_checked") || !col("uc_checked") || !col("ti_checked"))
    val n = unchecked.count()
    if (n > 0) {
      val base = unchecked.drop("cd_bioma", "bioma", "bioma_checked",
        "cd_cnuc", "uc_nome", "uc_checked", "terrai_cod", "ti_nome", "ti_checked")
      val redone = enrichDims(base)
      val checked = day.filter(
        col("bioma_checked") && col("uc_checked") && col("ti_checked"))
      val out = checked.unionByName(redone.select(checked.columns.toIndexedSeq.map(col): _*))
      // read-modify-overwrite of exactly one partition (§7.4 risk 7)
      val tmp = path(s"enriched_tmp_$fileDate")
      out.write.mode("overwrite").parquet(tmp)
      val rewritten = spark.read.parquet(tmp).withColumn("file_date", lit(d))
      rewritten.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("file_date").parquet(path("enriched"))
      noteWrite("enriched", rewritten)
      // Hadoop FS delete, not java.io: with an HDFS/S3 root a local-FS
      // delete silently no-ops and enriched_tmp_* datasets leak forever
      val tmpHp = new org.apache.hadoop.fs.Path(tmp)
      tmpHp.getFileSystem(spark.sessionState.newHadoopConf()).delete(tmpHp, true)
      ()
    }
    n
  }

  /** Conservation-of-counts invariants (src/etl/backfill.py:69-135):
    * curated(day) == enriched(day); sum(mun mart) == enriched rows with
    * municipality == sum over the UF mart. Returns error strings.
    *
    * Deliberate divergence from the reference check: backfill.py:112
    * compares the mart (keyed on the DERIVED day) against enriched rows
    * scoped by FILE_DATE — an invariant that only balances when
    * view-day == file-day for every row of the day. The engine compares
    * the mart against [[martInput]] — the exact frame the mart was built
    * from — so the conservation claim holds under cross-day rows too
    * (and a stale mart after late files arrive fails LOUDLY instead of
    * being unverifiable). */
  def checkDay(fileDate: LocalDate): Seq[String] = {
    val d = Date.valueOf(fileDate)
    val errs = scala.collection.mutable.Buffer[String]()
    def martSum(mart: String, valueCol: String): Long =
      readTable(s"marts/$mart").filter(col("day") === lit(d))
        .agg(coalesce(sum(valueCol), lit(0L))).head().getLong(0)
    // five INDEPENDENT read-only verification aggregates — §2.6 overlap
    // (they were five serialized actions, each a tiny job plus its driver
    // latency; the invariant comparisons below are pure driver arithmetic)
    val Seq(nCur, nEnr, withMun, munSum, ufSum) = Pipeline.inParallel(Seq(
      () => readTable("curated").filter(col("file_date") === lit(d)).count(),
      () => readTable("enriched").filter(col("file_date") === lit(d)).count(),
      () => martInput(readTable("enriched"), d)
        .filter(col("mun_cd_mun").isNotNull).count(),
      () => martSum(Marts.diarioMunicipio.name, "n_focos"),
      () => martSum(Marts.diarioUf.name, "n_focos")))
    if (nCur != nEnr) errs += s"curated($nCur) != enriched($nEnr) for $fileDate"
    if (withMun != munSum) errs += s"mun mart sum($munSum) != enriched with mun($withMun) for $fileDate"
    if (munSum != ufSum) errs += s"uf mart sum($ufSum) != mun mart sum($munSum) for $fileDate"
    errs.toSeq
  }

  // ------------------------------------------------------ resumable backfill

  // Hadoop FS, not java.nio: with an HDFS/S3 warehouse root a java.nio
  // Paths.get("s3://…") is a LOCAL relative path — state writes would land
  // on the driver's disk, a resumed backfill on another driver would find
  // nothing, and the whole range would silently re-run from `start`
  private def statePath = new org.apache.hadoop.fs.Path(path("backfill_state.json"))
  private def stateFs =
    statePath.getFileSystem(spark.sessionState.newHadoopConf())

  def readState(): Option[LocalDate] =
    if (stateFs.exists(statePath)) {
      val in = stateFs.open(statePath)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      "\"last_completed\"\\s*:\\s*\"([0-9-]+)\"".r.findFirstMatchIn(s)
        .map(m => LocalDate.parse(m.group(1)))
    } else None

  /** Atomic tmp+rename state write (backfill.py:63-66): FileContext.rename
    * with Rename.OVERWRITE is the Hadoop API with the atomic-replace
    * contract the reference's Path.replace relies on (FileSystem.rename
    * does not overwrite). */
  def writeState(last: LocalDate): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(statePath.toString + ".tmp")
    val out = stateFs.create(tmp, true)
    try out.write(s"""{"last_completed": "$last"}""".getBytes("UTF-8"))
    finally out.close()
    org.apache.hadoop.fs.FileContext
      .getFileContext(statePath.toUri, spark.sessionState.newHadoopConf())
      .rename(tmp, statePath, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    ()
  }

  /** EP2 — range mode: loop days, stop on first failure, resume from state.
    * @param csvFor resolves a date to its raw CSV DataFrame (the S1/S2
    *               source resolver seam — wire Sources.resolveDaily here;
    *               tests inject local fixtures)
    */
  def backfill(start: LocalDate, end: LocalDate, csvFor: LocalDate => DataFrame,
               resume: Boolean = false, checks: Boolean = true,
               marts: Set[String] = allMarts.toSet): Seq[LocalDate] = {
    requireKnown(marts)
    val from = if (resume) readState().map(_.plusDays(1)).getOrElse(start) else start
    val done = scala.collection.mutable.Buffer[LocalDate]()
    var cur = from
    while (!cur.isAfter(end)) {
      runDayFrom(csvFor(cur), cur, marts)
      if (checks) {
        val errs = checkDay(cur)
        require(errs.isEmpty, s"invariants failed for $cur: ${errs.mkString("; ")}")
      }
      writeState(cur)
      done += cur
      cur = cur.plusDays(1)
    }
    done.toSeq
  }
}
