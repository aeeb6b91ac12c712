package graft.streaming

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.storage.StorageLevel

import graft.enrich.Enrich

/** Structured Streaming jobs. The reference has no true streams — its
  * incremental model is per-day batches with a resumable state file
  * (SURVEY §2.10) — but the engine offers the streaming-native equivalents:
  * a file-source ingest with checkpointing (the Spark analog of the
  * backfill state file), watermarked windowed aggregation, and keyed
  * session state via flatMapGroupsWithState.
  *
  * Scale: state is partitioned by group key across executors; watermarks
  * bound state size (late data past 1 day is dropped, matching the
  * reference's retention-driven source selection).
  */
object StreamingJobs {

  /** Windowed event counts with watermark — readStream → transform →
    * writeStream, memory sink for tests/local smoke. */
  def windowedCounts(spark: SparkSession, inputDir: String, schema: StructType,
                     window_ : String = "6 hours", watermark: String = "1 day",
                     queryName: String = "windowed_counts"): StreamingQuery = {
    val events = spark.readStream.schema(schema).parquet(inputDir)
    val agg = events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .select(col("window.start").as("bucket_start"), col("event_type"),
        col("n"), col("total_value"))
    agg.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow()).start()
  }

  /** Streaming trending tokens: per event-time window, the tokens whose
    * count reaches `minCount` — the heavy-hitter feed over an arriving
    * corpus (burst phrases, spam campaigns, scraper boilerplate showing up
    * NOW). Explode → windowed count with map-side partials; state is one
    * counter per (open window, term) and the watermark closes windows, so
    * append mode emits each trending row exactly once. The threshold
    * filter runs post-aggregation — at scale swap the exact counter for
    * [[graft.operators.Sketches.cmsCells]] cells keyed by window when the
    * per-window vocabulary no longer fits state.
    */
  def trendingTokens(docs: DataFrame, textCol: String = "text",
                     window_ : String = "6 hours", watermark: String = "1 day",
                     minCount: Long = 10L): DataFrame =
    docs.withWatermark("ts", watermark)
      .select(window(col("ts"), window_).as("w"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("w"), col("term"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .select(col("w.start").as("bucket_start"), col("term"), col("n"))

  /** Streaming exact dedup on event_hash with watermark-bounded state —
    * the streaming analog of the idempotent-insert sink (K1). */
  def dedupStream(events: DataFrame, watermark: String = "1 day"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_hash")

  /** Streaming corpus admission against a static history index — the
    * streaming form of [[graft.operators.Dedup.incrementalDedup]]'s exact
    * stage: a document is admitted only if its text digest is absent from
    * the already-ingested corpus (stream-static LEFT ANTI join — the
    * static side holds no state store, it is re-planned per microbatch)
    * and not already seen in-stream within the watermark
    * (dropDuplicatesWithinWatermark bounds in-stream state AND absorbs
    * source replays). At scale `historyDigests` is the persisted digest
    * index, not a recomputation over history text.
    *
    * @param docs streaming frame with `ts`, `doc_id`, `text`
    * @param historyDigests static frame with a `digest` column
    */
  def admitStream(docs: DataFrame, historyDigests: DataFrame,
                  watermark: String = "1 day"): DataFrame =
    docs.withColumn("digest", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("digest")
      // no broadcast hint: the digest index is corpus-sized at scale —
      // let stats/AQE choose broadcast only when it actually fits
      .join(historyDigests.select("digest"), Seq("digest"), "left_anti")
      .drop("digest")

  /** Idempotent streaming append sink — the streaming twin of the batch
    * K1 left-anti insert (graft.ingest idempotent append): each microbatch
    * dedups on `keyCols` in-batch (the batch twin's first-row-wins step),
    * then [[appendAbsent]] NULL-SAFE left-anti joins the CURRENT target
    * table before appending, so source replays, checkpoint recoveries and
    * overlapping re-runs never duplicate a key — including the all-null
    * key, which a plain anti-join would re-append forever (NULL ≠ NULL).
    * foreachBatch is the exactly-once seam: a recovered batch re-runs
    * against a target that already holds its rows and inserts nothing.
    *
    * Scale: the anti-join's target side reads only `keyCols` (column
    * pruning reaches the parquet footers) AND is bounded by the batch's
    * key envelope: the batch's per-key [min, max] (plus an isNull arm when
    * the batch carries null keys) is pushed as range predicates into the
    * target scan, so parquet row-group min/max stats skip every row group
    * outside the envelope — and when a key is also a partition column,
    * directory-level partition pruning applies on top. A target row
    * outside the envelope on ANY key cannot null-safe-equal any batch
    * row, so the prune is unconditionally sound. For the common
    * append-only shapes (monotonic ids, time-partitioned days) the
    * per-batch probe cost is therefore batch-envelope-sized, not
    * O(target). Hash keys (the reference's K1 `event_hash` md5) have no
    * useful envelope: a digest batch's [min, max] spans nearly the whole
    * key space, so for them the probe reads the target's key column on
    * every batch. No key index sits in front of that read. A bucketed
    * index only prunes while a batch touches few of its buckets, and
    * random keys fill 75 % of 1,024 buckets from about 1,420 keys per
    * batch (1 − (1 − 1/1024)^B ≥ 0.75), below one day's 1–3k events.
    * No state store — the TABLE is the state.
    *
    * @param trigger AvailableNow by default (drain-and-stop, the backfill
    *                shape); pass a processing-time trigger for a live
    *                continuous sink
    */
  def idempotentAppendSink(stream: DataFrame, targetPath: String,
                           keyCols: Seq[String],
                           checkpoint: String,
                           partitionCols: Seq[String] = Nil,
                           trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        // Partition-value STORAGE semantics, applied up front: partitionBy
        // stores both "" and the literal default-partition token as
        // __HIVE_DEFAULT_PARTITION__, and every read returns that as
        // NULL. A batch row keyed "" could therefore never match its own
        // written twin (the envelope's [""..""] range sees only nulls) and
        // would re-append on EVERY replay. Collapsing those values to null
        // before dedup/write makes the in-flight batch agree with what the
        // table will actually say; the null-safe anti-join does the rest.
        val aligned = keyCols.intersect(partitionCols).foldLeft(batch: DataFrame) { (df, k) =>
          df.schema(k).dataType match {
            case StringType =>
              df.withColumn(k, when(col(k) === "" ||
                col(k) === "__HIVE_DEFAULT_PARTITION__", lit(null))
                .otherwise(col(k)))
            case _ => df
          }
        }
        // in-batch dedup first: one upstream file delivering a new key
        // twice in the same microbatch must still insert it once
        appendAbsent(aligned.dropDuplicates(keyCols), targetPath, keyCols, partitionCols)
      }
      .trigger(trigger).start()

  /** The append-if-absent step both idempotent sinks end with: append the
    * `rows` whose `keyCols` the target at `targetPath` does not already
    * hold, matched NULL-SAFELY. `rows` must already be unique on `keyCols`. */
  private def appendAbsent(rows: DataFrame, targetPath: String,
                           keyCols: Seq[String], partitionCols: Seq[String]): Unit = {
    val spark = rows.sparkSession
    // Persisted: `rows` feeds the key-envelope aggregate and the anti-join —
    // without it the caller's dedup (and admission) plan runs once per
    // consumer.
    val once = rows.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // A key column that is ALSO a partition column is read with the batch
      // schema: partition values otherwise round-trip through value
      // inference, which re-types "007" as int 7 and loses the string.
      val existing =
        if (!hasDataFiles(spark, targetPath)) None
        else Some(prunedTargetKeys(spark, targetPath, keyCols, once,
          if (keyCols.exists(partitionCols.contains)) Some(once.schema) else None))
      // null-safe equality (<=>): a null-keyed row already in the target
      // must block its replayed twin
      val fresh = existing.fold(once)(ex =>
        once.join(ex, keyCols.map(k => once(k) <=> ex(k)).reduce(_ && _), "left_anti"))
      val writer = fresh.write.mode("append")
      (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
       else writer).parquet(targetPath)
    } finally { once.unpersist(); () }
  }

  /** Whether `targetPath` holds a data file, by Hadoop FS listing (the
    * target is HDFS/S3 in production, where a java.io.File probe is always
    * false). Names starting with `_` or `.` are skipped at every level, as
    * Spark's own listing skips them (`_SUCCESS`, `_temporary`, checksum
    * files): a directory that external retention emptied down to such
    * files must take the fresh-target path, because reading it throws a
    * schema-inference error on every batch. */
  private def hasDataFiles(spark: SparkSession, targetPath: String): Boolean = {
    val root = new Path(targetPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def walk(p: Path): Boolean = fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".") && (!st.isDirectory || walk(st.getPath))
    }
    fs.exists(root) && walk(root)
  }

  /** The target-side probe frame for [[appendAbsent]]'s anti-join:
    * the target's `keyCols`, filtered to the BATCH's key envelope — for
    * each key, `key between batchMin and batchMax`, with an `isNull` arm
    * when the batch has null keys (and ONLY the null arm when it has
    * nothing else). These are plain comparisons on scan output columns,
    * so they reach the parquet reader as pushed filters (row-group
    * min/max skipping; partition pruning when a key is a partition
    * column). Soundness: the anti-join's null-safe match requires
    * equality on EVERY key, and a target row outside the envelope on any
    * key equals no batch row — dropping it cannot admit a duplicate.
    * Factored out (package-private) so the plan audit can assert the
    * pushed filters on the probe scan directly.
    *
    * `userSchema`: pass the batch schema when a key column is ALSO a
    * partition column — partition directory names then parse AS that
    * type instead of going through value inference, which re-types
    * "007" as int 7 (the envelope then mis-coerces against the string
    * range) and loses the original string for good. */
  private[graft] def prunedTargetKeys(spark: SparkSession, targetPath: String,
                                      keyCols: Seq[String],
                                      once: DataFrame,
                                      userSchema: Option[StructType] = None): DataFrame =
    userSchema.map(spark.read.schema).getOrElse(spark.read)
      .parquet(targetPath).select(keyCols.map(col): _*)
      .filter(envelopeFilter(once, keyCols))

  /** The batch key-envelope predicate on `keyCols`: one batch-sized
    * aggregate collected as ONE driver row. Non-atomic
    * key types (struct/array/map) get no range term — min()/max() on
    * them fails at analysis time — only the null arm; a batch that is
    * empty returns lit(false) (probe nothing) via an explicit count, not
    * the all-null inference (which a complex-only key set would fake). */
  private def envelopeFilter(once: DataFrame, keyCols: Seq[String]): Column = {
    val schema = once.schema
    // range-capable = non-complex: min/max on struct/array may analyze,
    // but lit(collected Row/array) cannot round-trip the value back into
    // a literal; map isn't even orderable
    val atomic = keyCols.map(k => schema(k).dataType match {
      case _: org.apache.spark.sql.types.StructType |
           _: org.apache.spark.sql.types.ArrayType |
           _: org.apache.spark.sql.types.MapType => false
      case _ => true
    })
    val aggs = keyCols.zip(atomic).flatMap { case (k, at) =>
      (if (at) Seq(min(col(k)).as(s"__mn_$k"), max(col(k)).as(s"__mx_$k"))
       else Seq(max(col(k).isNotNull.cast("int")).as(s"__hasval_$k"))) :+
        max(col(k).isNull.cast("int")).as(s"__hasnull_$k")
    } :+ count(lit(1)).as("__cnt")
    val env = once.agg(aggs.head, aggs.tail: _*).collect()(0)
    if (env.getLong(env.length - 1) == 0L) return lit(false) // empty batch
    var i = 0
    val filters = keyCols.zip(atomic).map { case (k, at) =>
      // the non-null arm: atomic → [min, max] (None when all-null);
      // complex → unprunable lit(true) when any non-null value exists
      // (an isNull-only term would wrongly drop every non-null probe key)
      val range: Option[Column] =
        if (at) {
          val mn = env.get(i); val mx = env.get(i + 1); i += 2
          if (mn == null) None // batch key is all-null
          else Some(col(k) >= lit(mn) && col(k) <= lit(mx))
        } else {
          val hasVal = !env.isNullAt(i) && env.getInt(i) == 1; i += 1
          if (hasVal) Some(lit(true)) else None
        }
      val hasNull = !env.isNullAt(i) && env.getInt(i) == 1
      i += 1
      val nullArm: Option[Column] = if (hasNull) Some(col(k).isNull) else None
      (range, nullArm) match {
        case (Some(r), Some(n)) => r || n
        case (Some(r), None) => r
        case (None, Some(n)) => n
        case (None, None) => lit(false) // unreachable on a non-empty batch
      }
    }
    filters.reduce(_ && _)
  }

  /** Streaming PERCEPTUAL admission sink — the near-dup twin of
    * [[admitStream]]: each microbatch admits only the rows whose 64-bit
    * signature (`sigCol`, a '0'/'1' string) has NO history signature
    * within `maxHamming`, via [[graft.operators.Dedup.bitstringHits]]'s
    * banded probe-vs-index join, then appends them to `targetPath`
    * idempotently through [[appendAbsent]] keyed on `sigCol` (null-safe
    * left-anti on the current target's signatures — a replayed batch
    * inserts nothing). In-batch exact-signature duplicates collapse
    * first. FAIL-CLOSED rejections (dropped, never admitted — this sink
    * keeps no quarantine output; a caller needing triage recomputes the
    * rejected set with [[graft.operators.Dedup.bitstringHits]] / an
    * id-null filter): rows whose signature is malformed (not exactly 64
    * '0'/'1' chars — bitstringHits returns their ids as hits, since an
    * unparseable signature cannot prove distance from the corpus) and
    * rows whose `idCol` is NULL (a null id cannot ride the id-keyed
    * anti-join — plain equality would silently ADMIT it past both gates).
    *
    * Within-run near-dedup contract: near-pairs arriving in DIFFERENT
    * microbatches of the same run all admit (the near check probes the
    * static `historySigs` snapshot only; exact-signature replays are
    * still blocked by the target anti-join). Callers MUST refresh
    * `historySigs` from the target between runs — that refresh cycle is
    * what absorbs within-run near-dups, mirroring how production
    * perceptual admission indexes are maintained.
    *
    * foreachBatch is the seam: the banded join + existence aggregate is
    * a batch shape the streaming planner cannot express as a stateful
    * transform. Scale: the history side is the persisted chunk index;
    * candidates ∝ colliding 16-bit buckets, never |batch|×|history|. The
    * per-batch TARGET read is the target's signature column, on every
    * batch: signatures are hash-like bitstrings, whose batch envelope
    * cannot prune, and a bucketed key index would stop pruning at
    * day-sized batches (see [[idempotentAppendSink]]). */
  def admitNearSink(stream: DataFrame, historySigs: DataFrame,
                    targetPath: String, checkpoint: String,
                    idCol: String, sigCol: String,
                    maxHamming: Int = 3,
                    trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        // persisted: the deduped batch feeds the fail-closed probe ids and
        // the banded chunk probe inside bitstringHits, and the admission
        // anti-join. Null-id rows drop FIRST (fail closed): the admission
        // verdict joins back on idCol with plain equality, under which a
        // null id matches no hit row and would be admitted no matter what
        // its signature is near.
        val once = batch.filter(col(idCol).isNotNull).dropDuplicates(sigCol)
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val hits = graft.operators.Dedup.bitstringHits(
            once, idCol, sigCol, historySigs, sigCol, maxHamming)
          val admitted = once.join(
            hits.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
          appendAbsent(admitted, targetPath, Seq(sigCol), Nil)
        } finally { once.unpersist(); () }
      }
      .trigger(trigger).start()

  /** Streaming type-1 MERGE sink — the streaming twin of
    * [[graft.operators.Scd.upsert]]: each microbatch dedups on `keyCols`
    * (last-row-wins within the batch by `orderCol`, with the attribute
    * struct as a total tiebreak so equal-order duplicates pick a
    * DETERMINISTIC winner across task retries), full-outer-merges into
    * the CURRENT target snapshot, and swaps the new snapshot in. Replayed
    * batches are idempotent: merging the same rows twice is a `noop`
    * classification — including null-keyed rows, which
    * [[graft.operators.Scd.upsert]] matches null-safely. The
    * merge_action audit column is dropped from the stored table.
    *
    * Crash safety of the swap (plain parquet cannot overwrite its own
    * input, so the snapshot moves through `.next`/`.old` side paths): at
    * every step at least one COMPLETE snapshot exists on disk, and batch
    * start first heals any interrupted swap — `target` missing with
    * `.old` present restores the pre-swap snapshot; `target` missing
    * with only `.next` present installs the post-merge snapshot (it was
    * complete: renames happen only after the write finished). Each
    * rename's boolean result is checked so a silent FS failure aborts the
    * batch instead of advancing the checkpoint past lost data.
    *
    * At 100 TB the snapshot rewrite is the cost — a format with
    * row-level MERGE (Delta/Iceberg) replaces the swap with a metadata
    * commit, but the join shape (one key-hash full-outer per batch) is
    * identical; keep target bucketed by key to skip its exchange.
    */
  def upsertSink(stream: DataFrame, targetPath: String,
                 keyCols: Seq[String], attrCols: Seq[String],
                 orderCol: String, checkpoint: String,
                 trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val conf = spark.sessionState.newHadoopConf()
        val target = new org.apache.hadoop.fs.Path(targetPath)
        val next = new org.apache.hadoop.fs.Path(targetPath + ".next")
        val old = new org.apache.hadoop.fs.Path(targetPath + ".old")
        val fs = target.getFileSystem(conf)
        def mv(a: org.apache.hadoop.fs.Path, b: org.apache.hadoop.fs.Path): Unit =
          require(fs.rename(a, b), s"rename $a -> $b failed")
        // heal an interrupted swap BEFORE reading the snapshot
        if (!fs.exists(target)) {
          if (fs.exists(old)) mv(old, target)       // pre-swap state survives
          else if (fs.exists(next)) mv(next, target) // post-merge state survives
        }
        // last-row-wins in-batch dedup; attribute struct breaks order ties
        val latest = batch
          .groupBy(keyCols.map(col): _*)
          .agg(max_by(struct(attrCols.map(col): _*),
            struct(col(orderCol) +: attrCols.map(col): _*)).as("__a"))
          .select(keyCols.map(col) ++ attrCols.map(a => col(s"__a.$a").as(a)): _*)
        // has data files, not exists: a target holding only `_SUCCESS`
        // cannot be read (schema inference fails) and merges as empty
        val merged =
          if (hasDataFiles(spark, targetPath)) {
            val current = spark.read.parquet(targetPath)
              .select((keyCols ++ attrCols).map(col): _*)
            graft.operators.Scd.upsert(current, latest, keyCols, attrCols)
              .drop("merge_action")
          } else latest
        merged.write.mode("overwrite").parquet(next.toString)
        if (fs.exists(old)) require(fs.delete(old, true), s"delete $old failed")
        if (fs.exists(target)) mv(target, old)
        mv(next, target)
        fs.delete(old, true)
        ()
      }
      .trigger(trigger).start()

  /** Stream-static spatial enrichment: streaming point events through the
    * batch path's own PIP join (`Enrich.pipJoin`: broadcast dim, cheap
    * bbox column conjuncts before the codegen PIP predicate). Stream-static
    * joins need no state for the static side; the one-row-per-event
    * guarantee (window-based in batch, unsupported on streams) is provided
    * by watermark-bounded dedup on event_hash, which also absorbs source
    * replays.
    *
    * Two divergences from the batch path:
    *  - for a point matching SEVERAL dim polygons (a shared-border or
    *    overlapping layer), the dedup survivor is whichever joined row the
    *    engine emits first — NOT the batch path's lowest-code tiebreak.
    *    Deterministic only for non-overlapping dims (pre-validated layers,
    *    the reference's case); overlapping layers must use the batch
    *    enrichment;
    *  - the stream does PIP only: a point in no polygon keeps null dim
    *    columns, with no nearest-municipality ≤2 km fallback
    *    (`Enrich.enrichMunicipio`).
    *
    * @param points streaming frame with `event_hash`, `ts`, `lon`, `lat`
    * @param dim    static dim with label columns + `geom` + bbox columns
    */
  def enrichPoints(points: DataFrame, dim: DataFrame,
                   watermark: String = "1 day"): DataFrame =
    Enrich.pipJoin(points.withWatermark("ts", watermark), dim)
      .dropDuplicatesWithinWatermark("event_hash")

  /** Stream-stream event-time interval join — the attribution shape (a
    * `right` event credited to every `left` event of the same key it
    * follows within `maxDelay`, e.g. purchase→view attribution). Both
    * sides carry watermarks and the join condition bounds `r.ts` to
    * `[l.ts, l.ts + maxDelay]`, so the state store retains each side only
    * until the opposite watermark passes its join-window — the documented
    * requirement for stream-stream inner joins to evict state. Without the
    * time bound Spark would (correctly) refuse unbounded-state retention.
    *
    * Scale: state is hash-partitioned by `keyCol`; per-key state size is
    * rate × (maxDelay + watermark), independent of stream history length.
    * The same expression tree runs on batch frames (watermarks are no-ops
    * there), which is how the `stream_correlate` oracle pins its values.
    *
    * @param left     frame with `keyCol` + `ts` (the earlier/cause side)
    * @param right    frame with `keyCol` + `ts` (the later/effect side)
    * @param joinType "inner" (attribution pairs only) or "left_outer" —
    *                 an unattributed left event emits with NULL right
    *                 columns once the watermark proves no match can arrive
    */
  def correlateStreams(left: DataFrame, right: DataFrame, keyCol: String,
                       maxDelayUs: Long = 3600L * 1000000L,
                       watermark: String = "1 hour",
                       joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark("ts", watermark).alias("l")
    val r = right.withWatermark("ts", watermark).alias("r")
    // raw event-time comparisons (not unix_micros projections): Spark's
    // stream-stream state-eviction analyzer derives the watermark range
    // from time-typed columns in the join condition
    l.join(r,
      col(s"l.$keyCol") === col(s"r.$keyCol") &&
        col("r.ts") >= col("l.ts") &&
        col("r.ts") <= col("l.ts") + expr(s"INTERVAL ${maxDelayUs} MICROSECOND"),
      joinType)
  }

  /** Event-time sessionization via the session_window built-in: a session
    * absorbs events while consecutive gaps stay within `gap` (an event at
    * exactly last_ts+gap still merges — pinned by StreamingSpec); it
    * closes (and, in streaming append mode, emits exactly once) when the
    * watermark passes last_ts + gap — state is watermark-bounded, unlike
    * [[sessionize]]'s processing-time timeout. The `stream_sessionize`
    * oracle row runs this function in batch.
    */
  def sessionWindows(events: DataFrame, gap: String = "8 hours",
                     watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("total_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("total_value"))

  /** Per-operator state-store metrics of a streaming aggregation: run it
    * to completion (Trigger.AvailableNow, noop sink) and read the final
    * `StreamingQueryProgress.stateOperators` — the observability surface a
    * production streaming pipeline alarms on. `state_rows`
    * (= numRowsTotal, open windows × keys) is deterministic for a given
    * input and watermark, so it is oracle-checkable; unbounded growth
    * between runs is the signature of a missing/ineffective watermark.
    * The byte count is environment-dependent (state-store provider,
    * JVM), so only its positivity is reported.
    *
    * @return one row per stateful operator:
    *         (operator, state_rows, memory_positive)
    */
  def stateMetrics(agg: DataFrame,
                   outputMode: OutputMode = OutputMode.Complete()): DataFrame = {
    val spark = agg.sparkSession
    import spark.implicits._
    // checkpoint on the scratch root (tmpfs in the bench session): the WAL
    // and per-partition state commits of this one-shot run are throwaway,
    // so their fsync latency is environment, not engine, cost — same
    // contract as drainToMemory. numRowsTotal is partition-count
    // independent, so the drain-parallelism wrap is metric-safe.
    val ckpt = s"${graft.CacheRegistry.scratchRoot(spark)}/graft_state_metrics_" +
      memRuns.incrementAndGet()
    // the wrap covers the WHOLE drain: the stream thread reads the
    // shuffle-partition conf while planning each batch
    val q = withDrainParallelism(spark) {
      val query = agg.writeStream.outputMode(outputMode).format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try query.awaitTermination() finally {
        query.stop()
        // best-effort checkpoint cleanup — metrics runs are one-shot
        try {
          val hp = new org.apache.hadoop.fs.Path(ckpt)
          hp.getFileSystem(spark.sessionState.newHadoopConf()).delete(hp, true)
          ()
        } catch { case scala.util.control.NonFatal(_) => }
      }
      query
    }
    val prog = q.lastProgress
    val rows =
      if (prog == null) Seq.empty[(String, Long, Boolean)]
      else prog.stateOperators.toSeq.map(so =>
        (so.operatorName, so.numRowsTotal, so.memoryUsedBytes > 0))
    rows.toDF("operator", "state_rows", "memory_positive")
  }

  private val memRuns = new java.util.concurrent.atomic.AtomicLong(0L)

  // Scratch dirs written by drainToMemory, per session. Without cleanup a
  // long repeat-N bench session pointing scratchRoot at tmpfs accumulates
  // every drain's sink output AND state checkpoint in RAM for the whole
  // run. Deleted when the host calls CacheRegistry.unpersistAll — its
  // declared quiescent point, where drain frames are by contract no longer
  // held (they cannot re-drain; deleting their backing files is the same
  // class of invalidation as unpersisting an operator mart) — and, as a
  // backstop for hosts that never quiesce, at JVM exit via Hadoop's
  // deleteOnExit.
  private val drainDirs =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, java.util.Queue[String]]()
  graft.CacheRegistry.addHook { s =>
    Option(drainDirs.remove(s)).foreach { q =>
      val it = q.iterator()
      while (it.hasNext) {
        val hp = new org.apache.hadoop.fs.Path(it.next())
        try { hp.getFileSystem(s.sessionState.newHadoopConf()).delete(hp, true); () }
        catch { case _: Throwable => () } // best-effort scratch cleanup
      }
    }
  }

  /** Run `body` under `spark.graft.streamDrainPartitions` shuffle/state
    * partitions when that conf is set (it is NOT by default): a
    * bench/test micro-stream otherwise plans every stateful microbatch at
    * the session's full `spark.sql.shuffle.partitions` — 32 state-store
    * tasks per batch for a few thousand rows is pure per-task overhead
    * (store init + commit per partition per batch). Production streams
    * size state partitioning to load and leave this unset. The conf is
    * read at query START (state layout) and during foreachBatch planning,
    * so the wrap must cover the whole drain lifecycle.
    *
    * Also lowers the file-split thresholds for the drain's SCAN stage:
    * a micro-stream source is one small parquet file, and Spark's split
    * size `min(maxPartitionBytes, max(openCostInBytes, bytes/cores))`
    * bottoms out at the 4 MiB openCost — a 15 MiB source scans 4-wide on
    * a 32-core box, serializing the CPU-heavy decode/hash stage that
    * follows (measured: the dominant 1.3 s stage of an append drain ran
    * 4 tasks). The batch side fixes the same artifact with
    * `files.minPartitionNum`, which streaming relations ignore. A real
    * stream reads many files per batch and leaves all of this unset. */
  def withDrainParallelism[T](spark: SparkSession)(body: => T): T =
    spark.conf.getOption("spark.graft.streamDrainPartitions") match {
      case None => body
      case Some(p) =>
        val keys = Seq(
          "spark.sql.shuffle.partitions" -> p,
          "spark.sql.files.openCostInBytes" -> (256 * 1024).toString,
          "spark.sql.files.maxPartitionBytes" -> (4 * 1024 * 1024).toString)
        val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
        keys.foreach { case (k, v) => spark.conf.set(k, v) }
        try body finally prev.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
    }

  /** Run `body` with Spark's trailing no-data microbatch disabled. An
    * AvailableNow drain always appends one empty batch after the data
    * batches purely to advance the watermark — needed ONLY when emission
    * itself waits on watermark passage (event-time-timeout state flush,
    * append-mode windowed aggregates). The dedup/admission/enrich drains
    * emit every row in the batch that carries it; their no-data batch only
    * evicts state that the drain is about to discard anyway — measured
    * 0.45-0.77 s of pure per-drain overhead (triggerExecution of an empty
    * batch: planning + 16 state-store commits + WAL writes). */
  private def withoutNoDataBatches[T](spark: SparkSession)(body: => T): T = {
    val k = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "false")
    try body finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  /** Drain an append-mode stream to completion and return its full output
    * as a SELF-CONTAINED frame (re-executable regardless of later drains).
    *
    * The sink is a parquet file sink under a per-drain scratch dir — not
    * the memory sink: memory funnels every output row through a driver
    * collect and then needs an eager localCheckpoint copy to survive the
    * temp-view drop, which for a 100k-row drain is two serial driver-side
    * passes. The file sink writes output partition-parallel, the returned
    * reader frame is naturally self-contained, and an explicit schema
    * covers the zero-row drain (no parquet footer to infer from).
    *
    * @param finalWatermarkFlush keep the trailing no-data microbatch
    *        (default). Pass `false` ONLY for pipelines whose every output
    *        row is emitted by the batch that carries it (stateless gates,
    *        dropDuplicates* dedup, stream-static joins): the empty batch
    *        then does nothing but evict about-to-be-discarded state.
    *        Pipelines that EMIT on watermark passage (event-time timeout
    *        flush, append-mode windowed aggregation) need the default. */
  def drainToMemory(stream: DataFrame, prefix: String,
                    finalWatermarkFlush: Boolean = true): DataFrame = {
    val spark = stream.sparkSession
    val name = s"${prefix}_${memRuns.incrementAndGet()}"
    val dir = s"${graft.CacheRegistry.scratchRoot(spark)}/graft_drain_$name"
    val hp = new org.apache.hadoop.fs.Path(dir)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(hp)) fs.delete(hp, true)
    fs.deleteOnExit(hp)
    drainDirs.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[String]()).add(dir)
    def runDrain(): StructType = {
      val q = stream.writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      stream.schema
    }
    val outSchema = withDrainParallelism(spark) {
      if (finalWatermarkFlush) runDrain()
      else withoutNoDataBatches(spark)(runDrain())
    }
    spark.read.schema(outSchema).parquet(s"$dir/out")
  }

  /** Streaming Gopher gate: the row-local rule set applied to an ARRIVING
    * corpus. [[graft.operators.TextAnalysis.gopherRules]] is stateless (no
    * shuffle, no watermark needed), so append mode emits each verdict
    * exactly once as its microbatch commits — the shape a 100 TB ingest
    * gate runs in: rules evaluate inline in the scan, throughput bounded
    * by source read speed, zero state-store footprint.
    */
  def gopherGate(docs: DataFrame, textCol: String): DataFrame =
    drainToMemory(
      graft.operators.TextAnalysis.gopherRules(docs, textCol), "gopher_gate",
      // stateless row-local rules: nothing waits on a watermark
      finalWatermarkFlush = false)

  final case class Event(user_id: Long, ts: Timestamp, event_type: String, value: Double)
  final case class SessionSummary(user_id: Long, n_events: Int, total_value: Double,
                                  first_ts: Timestamp, last_ts: Timestamp)

  /** Keyed custom state: per-user running session summary emitted when the
    * group goes quiet (processing-time timeout). */
  def sessionize(events: Dataset[Event], timeoutMs: Long = 30000): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionSummary, SessionSummary](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionSummary]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.iterator
            state.remove()
            out
          } else {
            val evs = rows.toSeq
            if (evs.isEmpty) Iterator.empty
            else {
              val prev = state.getOption
              val firstTs = prev.map(_.first_ts).getOrElse(evs.map(_.ts).min(Ordering.by[Timestamp, Long](_.getTime)))
              val lastTs = evs.map(_.ts).max(Ordering.by[Timestamp, Long](_.getTime))
              val updated = SessionSummary(userId,
                prev.map(_.n_events).getOrElse(0) + evs.size,
                prev.map(_.total_value).getOrElse(0.0) + evs.map(_.value).sum,
                firstTs, lastTs)
              state.update(updated)
              state.setTimeoutDuration(timeoutMs)
              Iterator.empty
            }
          }
      }
  }

  /** One closed gap-session: `session_end_us = last event + gap`, the
    * `session_window` convention, so both sessionizers share one oracle. */
  final case class SessionRow(user_id: Long, session_start_us: Long,
                              session_end_us: Long, n_events: Long,
                              total_value: Double)
  final case class SessionAgg(start_us: Long, last_us: Long, n: Long,
                              sum_value: Double)
  final case class SessionizerState(sessions: List[SessionAgg])

  /** EVENT-TIME gap sessionization via `flatMapGroupsWithState` — the
    * custom-state twin of the `session_window` aggregate (gate row
    * `stream_sessionize`), with per-user open-session state instead of the
    * built-in session store. Deterministic by construction:
    *
    *  - each batch's events merge into the group's open sessions by
    *    interval COALESCING (sorted by a total key, adjacent intervals
    *    within `gapUs` fuse), so arrival order and batch boundaries cannot
    *    change the final session set;
    *  - a session is emitted only once the event-time watermark passes
    *    `last_us + gap` — either in the batch that advanced the watermark
    *    or via `EventTimeTimeout`; which batch emits it cannot change WHAT
    *    is emitted;
    *  - in BATCH execution (no watermark exists) the input is by
    *    definition complete, so every session is emitted — making the
    *    operator the drop-in batch/streaming pair the other jobs follow.
    *
    * A caller that needs every session flushed from a FINITE stream
    * appends a sentinel event far past the last real session (see the
    * stream_sessionize_fmgws gate row); Spark's trailing no-data
    * microbatch then fires the event-time timeouts.
    *
    * State is per-user OPEN sessions only — closed sessions leave state
    * immediately, so state size is bounded by concurrently-open sessions,
    * not history (the 100 TB requirement for keyed streaming state). */
  def sessionizeByGap(events: Dataset[Event],
                      gapUs: Long = 28800000000L): Dataset[SessionRow] = {
    import events.sparkSession.implicits._
    def us(t: Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    events.withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionizerState, SessionRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[Event], state: GroupState[SessionizerState]) =>
          val existing = state.getOption.map(_.sessions).getOrElse(Nil)
          val incoming = rows.map(e =>
            SessionAgg(us(e.ts), us(e.ts), 1L, e.value)).toList
          // total sort key (sum_value breaks equal-timestamp ties) → the
          // fold order, hence n/sum accumulation, is arrival-independent
          val all = (existing ++ incoming).sortBy(a =>
            (a.start_us, a.last_us, a.n, a.sum_value))
          val coalesced = all.foldLeft(List.empty[SessionAgg]) { (acc, s) =>
            acc match {
              case h :: t if s.start_us - h.last_us <= gapUs =>
                SessionAgg(h.start_us, math.max(h.last_us, s.last_us),
                  h.n + s.n, h.sum_value + s.sum_value) :: t
              case _ => s :: acc
            }
          }.reverse
          def row(a: SessionAgg) = SessionRow(uid, a.start_us,
            a.last_us + gapUs, a.n, a.sum_value)
          // batch mode has no watermark: the input is complete — emit all
          val wmUs = try Some(state.getCurrentWatermarkMs() * 1000L)
            catch { case _: UnsupportedOperationException => None }
          wmUs match {
            case None => coalesced.iterator.map(row)
            case Some(w) =>
              val (closed, open) = coalesced.partition(_.last_us + gapUs <= w)
              if (open.isEmpty) { if (state.exists) state.remove() }
              else {
                state.update(SessionizerState(open))
                // ceil to ms + 1 so the timeout is strictly beyond the
                // current watermark (Spark rejects timeout <= watermark)
                state.setTimeoutTimestamp(
                  (open.map(_.last_us).min + gapUs) / 1000L + 1L)
              }
              closed.iterator.map(row)
          }
      }
  }
}
