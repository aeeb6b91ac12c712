package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions

/** CSV ingest: the reference's extract/transform path re-expressed as one
  * declarative plan (src/etl/transform/inpe_focos_diario.py).
  *
  * Stages (all row-local until the final dedup):
  *   P1 header normalization → P2 fuzzy column resolution → P3 locale
  *   decimal cast → P6 null-like cleaning → P4/P5 coordinate validation →
  *   P7 props JSON → P8 canonical event hash → P9 in-file dedup.
  *
  * Scale: the only shuffle is `dropDuplicates(event_hash)`; everything else
  * is a narrow projection that Catalyst fuses into the scan. At 100 TB the
  * per-day batches arrive as independent files, so dedup shuffles only the
  * day's partition, not history (cross-day idempotency is the left-anti
  * append, K1).
  */
object Ingest {

  /** P1 — `strip().lower().replace(" ","_")` on all headers
    * (transform/inpe_focos_diario.py:18-21). */
  def normalizeHeader(name: String): String =
    name.trim.toLowerCase.replace(" ", "_")

  def normalizeHeaders(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(normalizeHeader).toIndexedSeq: _*)

  /** P2 — preferred exact names, then substring-contains fallback
    * (transform/inpe_focos_diario.py:24-36). */
  def resolveColumn(columns: Seq[String], preferred: Seq[String]): Option[String] = {
    preferred.collectFirst { case p if columns.contains(p) => p }
      .orElse(columns.find(c => preferred.exists(c.contains)))
  }

  val latPreferred = Seq("lat", "latitude")
  val lonPreferred = Seq("lon", "longitude")
  val tsPreferred = Seq("data_hora_gmt", "datahora", "data_hora", "data")
  val satPreferred = Seq("satelite")
  val munPreferred = Seq("municipio")
  val ufPreferred = Seq("estado", "uf")
  val biomaPreferred = Seq("bioma")

  /** P3 — `,`→`.` then cast; failures become NULL (matches pandas
    * to_numeric(errors="coerce"), transform/inpe_focos_diario.py:39-40). */
  def localeDouble(c: Column): Column =
    regexp_replace(c.cast("string"), ",", ".").cast("double")

  /** P6 — NaN/empty/null-word strings → NULL
    * (transform/inpe_focos_diario.py:43-59). */
  def cleanValue(c: Column): Column =
    when(lower(trim(c)).isin("nan", "na", "null", "none") || trim(c) === "", null)
      .otherwise(trim(c))

  /** Read a daily CSV with delimiter sniffing (S4: the reference lets pandas
    * sniff PER FILE because INPE changed both delimiter and headers over
    * time; we sniff each file's header line driver-side — one line per
    * file — then hand Spark explicit separators so the scan stays
    * distributed). Files are GROUPED by sniffed delimiter and each group
    * reads with its own separator + its own header, unioned by name with
    * missing columns null-filled: sniffing only the first file and
    * applying its delimiter to the whole directory parsed every
    * other-delimiter file as one giant column whose rows the null-coord
    * filter then silently dropped. Uses the Hadoop FileSystem API so
    * directories, globs, and non-local filesystems (hdfs://, s3://) all
    * resolve; an empty match is a clear error rather than a
    * NoSuchElementException.
    */
  def readCsv(spark: SparkSession, path: String): DataFrame = {
    import org.apache.hadoop.fs.{FileStatus, Path => HPath}
    val p = new HPath(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def allCsvs(statuses: Array[FileStatus], what: String): Seq[HPath] = {
      val files = Option(statuses).getOrElse(Array.empty)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".csv"))
      require(files.nonEmpty, s"no .csv files $what: $path")
      files.sortBy(_.getPath.getName).map(_.getPath).toSeq
    }
    val targets: Seq[HPath] =
      if (fs.exists(p) && fs.getFileStatus(p).isDirectory)
        allCsvs(fs.listStatus(p), "in directory")
      else if (fs.exists(p)) Seq(p)
      else allCsvs(fs.globStatus(p), "matching glob")
    def sniff(t: HPath): String = {
      val in = fs.open(t)
      val firstLine =
        try {
          val r = new java.io.BufferedReader(
            new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
          Option(r.readLine()).getOrElse("")
        } finally in.close()
      if (firstLine.count(_ == ';') > firstLine.count(_ == ',')) ";" else ","
    }
    def readGroup(sep: String, files: Seq[HPath]): DataFrame =
      spark.read.option("header", "true").option("sep", sep)
        .option("inferSchema", "false") // everything arrives as string, like dtype=str
        .csv(files.map(_.toString): _*)
        // File-order key for the P9 "first occurrence wins" dedup: for multi-
        // file input FileSourceScanExec packs splits by SIZE, not name, so
        // partition order alone does not reproduce file order. (file_path,
        // file_block_start, within-split row index) does, for any mix of
        // files/globs/dirs. Struct comparison is lexicographic by field.
        .withColumn("__src_order", struct(
          col("_metadata.file_path").as("f"),
          col("_metadata.file_block_start").as("b"),
          monotonically_increasing_id().as("i")))
    targets.groupBy(sniff).toSeq.sortBy(_._1)
      .map { case (sep, files) => readGroup(sep, files) }
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Full transform: raw CSV DataFrame → curated records.
    * Column resolution happens against the *actual* schema (the reference
    * sniffs per file because INPE renamed columns over time).
    */
  def transform(raw: DataFrame, fileDate: java.sql.Date): DataFrame = {
    val df = normalizeHeaders(raw)
    // `__`-prefixed columns are engine bookkeeping (readCsv's __src_order),
    // never data: keep them out of resolution and the props JSON
    val cols = df.columns.toSeq.filterNot(_.startsWith("__"))
    def res(pref: Seq[String]): Option[String] = resolveColumn(cols, pref)

    val latCol = res(latPreferred).getOrElse(
      throw new IllegalArgumentException(s"no latitude column in $cols"))
    val lonCol = res(lonPreferred).getOrElse(
      throw new IllegalArgumentException(s"no longitude column in $cols"))
    val tsCol = res(tsPreferred)
    val satCol = res(satPreferred)
    val munCol = res(munPreferred)
    val ufCol = res(ufPreferred)
    val biomaCol = res(biomaPreferred)

    def opt(name: Option[String]): Column =
      name.map(n => cleanValue(col(n))).getOrElse(lit(null).cast("string"))

    // P9 order key: the readCsv file-order struct when present (multi-file
    // reads), else monotonically_increasing_id (single-file / in-memory
    // frames, where within-partition input order is the file order)
    val ordCol =
      if (df.columns.contains("__src_order")) col("__src_order")
      else struct(monotonically_increasing_id().as("i"))

    val cleaned = df.select(
      ordCol.as("__ord"),
      localeDouble(col(latCol)).as("lat"),
      localeDouble(col(lonCol)).as("lon"),
      opt(tsCol).as("view_ts"),
      opt(satCol).as("satelite"),
      opt(munCol).as("municipio"),
      opt(ufCol).as("uf"),
      opt(biomaCol).as("bioma"),
      // P7: whole cleaned row as JSON props (raw table keeps provenance)
      to_json(struct(cols.map(c => cleanValue(col(c)).as(c)): _*)).as("props"))

    cleaned
      .filter(col("lat").isNotNull && col("lon").isNotNull) // P4
      .filter(col("lat").between(-90, 90) && col("lon").between(-180, 180)) // P5
      .withColumn("file_date", lit(fileDate))
      // P8: canonical hash byte-compatible with the Python pipeline
      .withColumn("event_hash", HashFunctions.eventHashUdf(
        date_format(col("file_date"), "yyyy-MM-dd"),
        col("lat"), col("lon"), col("view_ts"), col("satelite")))
      // P9 — the hash excludes municipio/uf/bioma/props, so the survivor
      // matters: keep the FIRST occurrence in file order like the
      // reference's seen_hash skip (transform/inpe_focos_diario.py:143-169)
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("event_hash").orderBy(col("__ord").asc)))
      .filter(col("__rn") === 1)
      .select("event_hash", "file_date", "lat", "lon", "view_ts", "satelite",
        "municipio", "uf", "bioma", "props")
  }

  /** K1 — idempotent append: only rows whose event_hash is not already in
    * the target partition (ON CONFLICT DO NOTHING analog,
    * src/etl/load/postgis.py:69-94). Existing side is pruned to the same
    * file_date partition so the anti-join never scans history. The same
    * anti-join is J1's new-rows-only enrich increment: curated rows whose
    * hash is not yet enriched (20_enrich_municipio.sql:31-41).
    */
  def idempotentAppend(newRows: DataFrame, existing: DataFrame): DataFrame =
    newRows.join(existing.select("event_hash"), Seq("event_hash"), "left_anti")
}
