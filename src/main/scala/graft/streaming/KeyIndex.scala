package graft.streaming

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Rebuildable key-index sidecar for the idempotent-append sinks.
  *
  * Problem: [[StreamingJobs.idempotentAppendSink]]'s anti-join must probe
  * the CURRENT target's keys every microbatch. The batch key-envelope
  * prune ([[StreamingJobs.prunedTargetKeys]]) makes that probe
  * batch-envelope-sized for monotonic/time keys, but DEGENERATES for hash
  * keys — and the reference's K1 key IS a random md5 (`event_hash`,
  * src/etl/load/postgis.py:69-94): a digest batch's [min, max] spans the
  * whole key space, so the probe reverts to a full O(target) keyCols scan
  * per batch.
  *
  * Solution: a sidecar key index under `<target>/_keyidx/` that is a pure
  * CACHE of the target — derivable from it, never authoritative — so
  * there is NO atomic-two-write seam (the objection that rules out a
  * writer-maintained side index: a crash between the target append and
  * the index append either loses keys or duplicates rows on replay).
  *
  *  - `manifest.json` (atomic tmp+rename, the backfill-state pattern)
  *    records which target DATA FILES (relative path + length) the index
  *    covers, and which key files hold their keys.
  *  - Probe = manifest-listed key files ∪ a keyCols scan of the UNCOVERED
  *    target files only. A crash between target append and index refresh
  *    just leaves the new files uncovered — the next batch's probe scans
  *    that delta (batch-sized), stays exactly correct, and the refresh
  *    heals the index forward. Orphaned key files (index write survived,
  *    manifest rename didn't) are invisible (probes read only
  *    manifest-listed files) and garbage-collected on the next refresh.
  *  - Key files carry a bucket column `__kb = pmod(xxhash64(keys), N)`,
  *    written bucket-sorted, so the probe pushes `__kb IN (batch's
  *    buckets)` into the index scan: parquet row-group stats + dictionary
  *    filters skip every run of buckets the batch does not touch. For a
  *    B-row microbatch against a T-key target the probe reads
  *    ~min(1, B/N)·T index keys instead of T target keys — the hash-key
  *    case stops being O(target). Monotonic keys additionally keep the
  *    key-envelope prune on BOTH the index and the uncovered scan (the
  *    envelope is sound on any frame carrying the key columns).
  *  - Refresh appends ONE key file per batch (the delta's keys) and
  *    compacts into bucket-range-partitioned files when the file count
  *    passes `spark.graft.keyIndex.compactAt` — steady-state reads stay
  *    O(few files), and compaction is itself crash-safe (new generation
  *    written first, manifest swung atomically, old files deleted after).
  *
  * Soundness invariant (inductive over refreshes): keys(manifest.keyFiles)
  * ⊇ keys(manifest.covered files). Probe = index ∪ scan(current \
  * covered) ⊇ keys(target), so the anti-join can never re-admit a key the
  * target already holds. Staleness the OTHER way (index lists a file the
  * target no longer has — external compaction/vacuum) is detected by the
  * covered-⊆-current check and invalidates the whole index (full-scan
  * fallback + rebuild), because a removed file's keys must not block
  * re-inserts.
  *
  * The sidecar lives INSIDE the target directory on purpose: the `_`
  * prefix keeps it invisible to Spark/Hadoop data-file listing (the same
  * rule that hides `_SUCCESS`/`_temporary`), and it travels with the
  * table under rename/copy.
  */
object KeyIndex {
  val DirName = "_keyidx"
  val BucketCol = "__kb"
  private val ManifestName = "manifest.json"

  /** What the index covers. `covered`: target data file rel-path → length
    * (length change = rewrite = invalidation). `keyDirs`: key-file
    * directories under `_keyidx/`, each a parquet dir of keyCols+__kb.
    * `keyTypes`: catalog strings of the key columns AS WRITTEN — xxhash64
    * hashes the same logical value differently per physical type (int vs
    * long take different width paths), so a key-column type change must
    * invalidate the index or bucket pruning silently drops the very rows
    * that prove duplicates. */
  final case class Manifest(keyCols: Seq[String], keyTypes: Seq[String],
                            buckets: Int,
                            covered: Map[String, Long], keyDirs: Seq[String])

  private[streaming] def typesOf(df: DataFrame, keyCols: Seq[String]): Seq[String] =
    keyCols.map(k => df.schema(k).dataType.catalogString)

  /** The probe plan plus the manifest state [[refresh]] continues from
    * (None = index absent/invalid: refresh rebuilds from scratch). */
  final case class Probe(frame: DataFrame, manifest: Option[Manifest])

  /** Bucket count of a NEW index; an existing one keeps the count its
    * manifest records. */
  private val Buckets = 1024
  private def compactAt(spark: SparkSession): Int =
    spark.conf.get("spark.graft.keyIndex.compactAt", "64").toInt
  // Below this target size the index CANNOT win: the full keyCols scan is
  // a handful of footer reads, while maintaining the sidecar costs a
  // delta read + a write + a manifest rename per microbatch. The index
  // starts being built (one bootstrap scan) the first time the target
  // crosses the threshold; an EXISTING index keeps being used and
  // maintained regardless (it is already paid for).
  private def minTargetBytes(spark: SparkSession): Long =
    spark.conf.get("spark.graft.keyIndex.minTargetBytes",
      (64L * 1024 * 1024).toString).toLong

  // ---------------------------------------------------------------- probe

  /** The target-key probe for the idempotent anti-join: index keys (bucket-
    * and envelope-pruned) ∪ uncovered-file keys (envelope-pruned). Falls
    * back to the full envelope-pruned target scan when the index is
    * absent or invalid. `once` is the deduped (persisted) batch.
    * `listing` lets the sink pass the data-file listing it already took
    * for its has-data-files check — no write happens between the two, so
    * reusing it is sound and saves a recursive LIST per microbatch
    * (object-store targets pay real latency per traversal). */
  def probe(spark: SparkSession, targetPath: String, keyCols: Seq[String],
            once: DataFrame,
            listing: Option[Map[String, Long]] = None): Probe = {
    val root = new Path(targetPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val current = listing.getOrElse(listDataFiles(fs, root))
    val idx = new Path(root, DirName)
    val mOpt = readManifest(fs, idx).filter { m =>
      m.keyCols == keyCols && m.keyTypes == typesOf(once, keyCols) &&
        m.covered.forall { case (p, l) => current.get(p).contains(l) } &&
        m.keyDirs.forall(d => fs.exists(new Path(idx, d)))
    }
    mOpt match {
      case Some(m) =>
        val env = StreamingJobs.envelopeFilter(once, keyCols)
        val idxFrame =
          if (m.keyDirs.isEmpty) None
          else {
            val dirs = m.keyDirs.map(d => new Path(idx, d).toString)
            val raw = spark.read.parquet(dirs: _*)
            val bucketed = batchBuckets(once, keyCols, m.buckets) match {
              case Some(bs) => raw.filter(col(BucketCol).isin(bs: _*))
              case None => raw
            }
            Some(bucketed.filter(env).select(keyCols.map(col): _*))
          }
        val uncovered = current.keysIterator.filterNot(m.covered.contains).toSeq.sorted
        val uncFrame =
          if (uncovered.isEmpty) None
          else Some(spark.read.option("basePath", targetPath)
            .parquet(uncovered.map(p => new Path(root, p).toString): _*)
            .select(keyCols.map(col): _*).filter(env))
        val frame = (idxFrame.toSeq ++ uncFrame.toSeq)
          .reduceOption(_ unionByName _)
          .getOrElse(once.select(keyCols.map(col): _*).limit(0))
        Probe(frame, Some(m))
      case None =>
        Probe(StreamingJobs.prunedTargetKeys(spark, targetPath, keyCols, once), None)
    }
  }

  /** The batch's occupied bucket set, or None when bucket pruning cannot
    * help: unhashable key types (MapType anywhere), or the batch touches
    * most buckets (an IN-list covering the space only adds eval cost). */
  private def batchBuckets(once: DataFrame, keyCols: Seq[String],
                           buckets: Int): Option[Seq[Int]] =
    bucketExpr(once, keyCols, buckets).flatMap { be =>
      val bs = once.select(be.as("b")).distinct()
        .collect().map(_.getInt(0)).toSeq
      if (bs.size * 4 >= buckets * 3) None else Some(bs)
    }

  /** `pmod(xxhash64(hashable key cols), buckets)` — None when no key col
    * is hashable. Both the writer and every probe MUST use the manifest's
    * bucket count, never [[Buckets]], or files of an index built under
    * another count prune wrongly.
    * xxhash64 folds a null input deterministically (seed carry), so the
    * all-null key lands in a stable bucket on both sides. */
  private def bucketExpr(df: DataFrame, keyCols: Seq[String],
                         buckets: Int): Option[Column] = {
    def hashable(dt: org.apache.spark.sql.types.DataType): Boolean = {
      import org.apache.spark.sql.types._
      dt match {
        case _: MapType => false
        case s: StructType => s.fields.forall(f => hashable(f.dataType))
        case a: ArrayType => hashable(a.elementType)
        case _ => true
      }
    }
    val schema = df.schema
    val cols = keyCols.filter(k => hashable(schema(k).dataType))
    if (cols.isEmpty) None
    else Some(pmod(xxhash64(cols.map(col): _*), lit(buckets.toLong)).cast("int"))
  }

  // -------------------------------------------------------------- refresh

  /** Bring the index up to date with the CURRENT target: read the keyCols
    * of every data file the manifest does not cover (after an append
    * that's the just-written files; after a crash it also heals the gap),
    * append them as one bucket-sorted key file, and swing the manifest
    * atomically. Runs AFTER the target append — a crash anywhere in here
    * leaves a stale-but-valid manifest (probe falls back to the uncovered
    * delta scan) or an orphaned key file (invisible; GC'd next time).
    *
    * `batchTypes` (ADVICE r17): the catalog types of the keys AS THE SINK
    * WRITES THEM. The delta parquet read can disagree with them — e.g. a
    * key column that is also a partition column round-trips through
    * partition-value inference as a different type — and an index whose
    * files hash `__kb` under one type while the probe hashes under
    * another can never be used: every probe would invalidate the manifest
    * and every refresh would rebuild O(target), silently doubling the
    * cost the index exists to remove. When the delta's types disagree
    * with `batchTypes`, maintenance is SKIPPED (the existing manifest
    * stays a correct, if stale, cache for a future same-typed stream);
    * casting the delta to the batch types instead is unsound — a
    * narrowing cast can collide distinct target keys onto a batch key
    * and wrongly block a legitimate insert. */
  def refresh(spark: SparkSession, targetPath: String, keyCols: Seq[String],
              prior: Option[Manifest],
              batchTypes: Option[Seq[String]] = None): Unit = {
    val root = new Path(targetPath)
    val conf = spark.sessionState.newHadoopConf()
    val fs = root.getFileSystem(conf)
    val idx = new Path(root, DirName)
    val current = listDataFiles(fs, root)
    // Bootstrap gate: no index yet + target under the amortization
    // threshold → maintaining a sidecar would cost more than the full
    // scan it replaces. An existing index is always maintained.
    if (!fs.exists(new Path(idx, ManifestName)) &&
        current.valuesIterator.sum < minTargetBytes(spark)) return
    // REVALIDATE the prior against THIS listing, not the probe-time one:
    // a covered file removed/rewritten between probe and refresh (external
    // retention, compaction) would otherwise bake its stale keys into a
    // manifest that forever reads as clean — stale EXTRA keys wrongly
    // block re-inserts, the one staleness direction the index must never
    // have. On mismatch, rebuild from scratch (old dirs are GC'd below).
    // A prior whose recorded types cannot match this batch is equally
    // unusable — its key files hash __kb under the other type.
    val prior0 = prior.filter(m =>
      m.covered.forall { case (p, l) => current.get(p).contains(l) } &&
        batchTypes.forall(_ == m.keyTypes))
    val covered0 = prior0.map(_.covered).getOrElse(Map.empty[String, Long])
    val buckets = prior0.map(_.buckets).getOrElse(Buckets)
    val delta = current.filterNot { case (p, l) => covered0.get(p).contains(l) }
    val oldDirs = prior0.map(_.keyDirs).getOrElse(Nil)
    if (delta.isEmpty && prior0.isDefined && oldDirs.size <= compactAt(spark)) return
    val deltaKeys =
      if (delta.isEmpty) None
      else Some(spark.read.option("basePath", targetPath)
        .parquet(delta.keysIterator.map(p => new Path(root, p).toString).toSeq.sorted: _*)
        .select(keyCols.map(col): _*))
    val deltaTypes = deltaKeys.map(typesOf(_, keyCols))
    // batch-type guard (see Scaladoc): an index this probe stream can
    // never validate must not be built or churned — skip maintenance
    if (batchTypes.exists(b => deltaTypes.exists(_ != b))) return
    // cross-check (ADVICE r17): delta types diverging from a RETAINED
    // prior's keyTypes means the old key files' __kb buckets were hashed
    // under the old type — bucket pruning over the mix could drop the
    // very keys that prove duplicates. Rebuild from scratch under the
    // delta's own types instead of appending a mixed-hash generation.
    if (prior0.isDefined && deltaTypes.exists(_ != prior0.get.keyTypes)) {
      refresh(spark, targetPath, keyCols, None, batchTypes); return
    }
    // types AS WRITTEN ride in the manifest (probe invalidates on change)
    val keyTypes = deltaTypes
      .orElse(prior0.map(_.keyTypes))
      .getOrElse(return) // empty target, no prior: nothing to index
    val deltaFrame = deltaKeys.map(withBucket(_, keyCols, buckets))
    val (newDirs, dropDirs) =
      if (oldDirs.size + deltaFrame.size > compactAt(spark) && oldDirs.nonEmpty) {
        // compaction generation: ALL keys rewritten bucket-range-partitioned
        // so steady-state probes read few, skippable files
        val old = spark.read.parquet(oldDirs.map(d => new Path(idx, d).toString): _*)
        val all = (deltaFrame.toSeq :+ old).reduce(_ unionByName _)
        val dir = "keys-" + java.util.UUID.randomUUID().toString
        all.repartitionByRange(math.max(1, buckets / 128), col(BucketCol))
          .sortWithinPartitions(BucketCol)
          .write.mode("overwrite").parquet(new Path(idx, dir).toString)
        (Seq(dir), oldDirs)
      } else deltaFrame match {
        case Some(df) =>
          val dir = "keys-" + java.util.UUID.randomUUID().toString
          // an incremental delta (the files one microbatch wrote, or a
          // crash orphan) coalesces to one file; a BOOTSTRAP or rebuild
          // delta (no prior: the whole target) must not funnel a huge
          // scan + sort through a single task — it takes the same
          // bucket-range layout compaction writes
          (if (prior0.isEmpty) df.repartitionByRange(math.max(1, buckets / 128), col(BucketCol))
           else df.coalesce(1))
            .sortWithinPartitions(BucketCol)
            .write.mode("overwrite").parquet(new Path(idx, dir).toString)
          (oldDirs :+ dir, Nil)
        case None => (oldDirs, Nil)
      }
    writeManifest(spark, fs, idx,
      Manifest(keyCols, keyTypes, buckets, current, newDirs))
    // after the manifest is committed, superseded generations and crash
    // orphans (any child not in the new manifest) are unreferenced — GC
    val keep = newDirs.toSet + ManifestName
    val children =
      if (fs.exists(idx)) fs.listStatus(idx).toSeq else Nil
    // includes a crash-orphaned manifest.json.tmp: GC runs strictly after
    // this refresh's rename committed and the sink is single-writer, so
    // no live tmp can exist here
    (dropDirs ++ children.map(_.getPath.getName).filterNot(keep.contains)).distinct
      .foreach(d => try { fs.delete(new Path(idx, d), true); () } catch { case _: Exception => () })
    ()
  }

  private def withBucket(keys: DataFrame, keyCols: Seq[String], buckets: Int): DataFrame =
    keys.withColumn(BucketCol,
      bucketExpr(keys, keyCols, buckets).getOrElse(lit(0)))

  // ------------------------------------------------------------- plumbing

  /** Target data files as relative-path → length, skipping hidden names
    * (`_`/`.` prefixes — `_keyidx`, `_SUCCESS`, `_temporary`, checksum
    * files) at EVERY path component, mirroring Spark's own listing. */
  private[streaming] def listDataFiles(fs: FileSystem, root: Path): Map[String, Long] = {
    val rootUriPath = root.makeQualified(fs.getUri, fs.getWorkingDirectory).toUri.getPath
    val out = Map.newBuilder[String, Long]
    def walk(p: Path): Unit =
      fs.listStatus(p).foreach { st =>
        val n = st.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) {
          if (st.isDirectory) walk(st.getPath)
          else {
            val full = st.getPath.toUri.getPath
            out += full.stripPrefix(rootUriPath).stripPrefix("/") -> st.getLen
          }
        }
      }
    if (fs.exists(root)) walk(root)
    out.result()
  }

  // Manifest JSON via jackson-databind (ships with Spark): hand-rolled
  // string assembly would mis-escape the arbitrary bytes a partition
  // value can put in a file path.
  private def mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def writeManifest(spark: SparkSession, fs: FileSystem, idx: Path,
                            m: Manifest): Unit = {
    val om = mapper
    val node = om.createObjectNode()
    node.put("v", 1)
    val kc = node.putArray("keyCols"); m.keyCols.foreach(kc.add)
    val kt = node.putArray("keyTypes"); m.keyTypes.foreach(kt.add)
    node.put("buckets", m.buckets)
    val cov = node.putArray("covered")
    m.covered.toSeq.sortBy(_._1).foreach { case (p, l) =>
      val e = cov.addObject(); e.put("p", p); e.put("l", l); ()
    }
    val kd = node.putArray("keyDirs"); m.keyDirs.foreach(kd.add)
    val bytes = om.writeValueAsBytes(node)
    val dest = new Path(idx, ManifestName)
    val tmp = new Path(idx, ManifestName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    // atomic replace: FileContext.rename(OVERWRITE) — FileSystem.rename
    // does not overwrite (the backfill-state pattern, backfill.py:63-66)
    FileContext.getFileContext(dest.toUri, spark.sessionState.newHadoopConf())
      .rename(tmp, dest, Options.Rename.OVERWRITE)
    ()
  }

  private[graft] def readManifest(fs: FileSystem, idx: Path): Option[Manifest] = {
    val p = new Path(idx, ManifestName)
    try {
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val bytes =
          try {
            val buf = new java.io.ByteArrayOutputStream()
            val chunk = new Array[Byte](8192)
            var n = in.read(chunk)
            while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
            buf.toByteArray
          } finally in.close()
        val node = mapper.readTree(bytes)
        if (node.path("v").asInt(-1) != 1) None
        else {
          import scala.jdk.CollectionConverters._
          val keyCols = node.path("keyCols").elements().asScala.map(_.asText()).toSeq
          val keyTypes = node.path("keyTypes").elements().asScala.map(_.asText()).toSeq
          val buckets = node.path("buckets").asInt()
          val covered = node.path("covered").elements().asScala
            .map(e => e.path("p").asText() -> e.path("l").asLong()).toMap
          val keyDirs = node.path("keyDirs").elements().asScala.map(_.asText()).toSeq
          if (keyCols.isEmpty || keyTypes.size != keyCols.size || buckets <= 0) None
          else Some(Manifest(keyCols, keyTypes, buckets, covered, keyDirs))
        }
      }
    } catch { case _: Exception => None } // corrupt manifest = no index
  }
}
