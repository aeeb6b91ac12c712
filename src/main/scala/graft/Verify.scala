package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Run each query once (retrying a failure once with a fresh plan) and
    * write its result under `outDir/<name>`. Returns the terminal failures
    * (query → error). Factored out of [[main]] so a poison-injection test
    * can prove a failing query surfaces in the artifact instead of
    * vanishing (the round-7 `dedup_clusters` incident).
    */
  private[graft] def runQueries(
      spark: SparkSession,
      selected: Seq[(String, (SparkSession, String) => DataFrame)],
      sfDir: String, outDir: String): Map[String, String] = {
    // terminal (post-retry) failures, written to failures.json — an absent
    // parquet dir must surface as an artifact the driver can see, never as
    // a silently shorter correctness file
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      // one retry with a freshly built plan: a transient Spark-side failure
      // (e.g. a racing async block release) must not cost the round a row
      def attempt(remaining: Int): Unit = try {
        val df = fn(spark, sfDir)
        // Boundary-type guard: a DECIMAL in a FINAL schema stringifies
        // differently per engine under the gate's pandas canonicalization
        // (DuckDB DECIMAL/HUGEINT → float64 '513.0' vs Spark Decimal
        // '513.00') and hash-mismatches even when every cell is equal.
        // The repo-wide recipe is DOUBLE or fixed-point BIGINT finals —
        // fail loud here so a new query can't regress it to a red row.
        // recurse into struct/array/map: a nested Decimal stringifies just
        // as divergently as a top-level one
        def hasDecimal(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
          case _: org.apache.spark.sql.types.DecimalType => true
          case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => hasDecimal(f.dataType))
          case a: org.apache.spark.sql.types.ArrayType => hasDecimal(a.elementType)
          case m: org.apache.spark.sql.types.MapType => hasDecimal(m.keyType) || hasDecimal(m.valueType)
          case _ => false
        }
        val decCols = df.schema.fields.collect {
          case f if hasDecimal(f.dataType) => f.name
        }
        require(decCols.isEmpty,
          s"$name emits DecimalType final column(s) ${decCols.mkString(",")} — " +
            "cast to DOUBLE or fixed-point BIGINT (see q1_pricing_summary)")
        df.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        if (remaining > 0) {
          System.err.println(s"[verify] $name failed (${e.getMessage}) — retrying once")
          attempt(remaining - 1)
        } else {
          System.err.println(s"[verify] $name FAILED after retry: ${e.getMessage}")
          failures(name) = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
        }
      }
      attempt(1)
    }
    failures.toMap
  }

  /** Names in `selected` with no committed parquet output under `outDir`.
    * Hadoop FS probe, not java.nio: the outputs are WRITTEN through the
    * Hadoop writer, so a non-local outDir (hdfs://, s3a://) would read as
    * all-missing under a local-path check and fail a fully successful run.
    * Takes the SESSION's Hadoop conf (captured before spark.stop()), not a
    * bare `new Configuration()` — spark.hadoop.* credentials/settings are
    * exactly what a remote outDir needs to connect. */
  private[graft] def census(outDir: String, names: Seq[String],
                            conf: org.apache.hadoop.conf.Configuration): Seq[String] = {
    names.filterNot { n =>
      val p = new org.apache.hadoop.fs.Path(s"$outDir/$n/_SUCCESS")
      p.getFileSystem(conf).exists(p)
    }
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private[graft] def writeJsonMap(path: String, m: Iterable[(String, String)]): Unit =
    Files.writeString(Paths.get(path),
      m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", SparkEntry.CodegenCacheMaxEntries)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    LogHygiene.quietKnownBenign()
    new java.io.File(outDir).mkdirs()
    // optional comma-separated filter for local iteration (unset in CI)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val failures = runQueries(spark, selected, sfDir, outDir)
    writeJsonMap(s"$outDir/oracle_sql.json", SparkEntry.oracleSql)
    writeJsonMap(s"$outDir/failures.json", failures)
    // captured BEFORE stop(): the session is gone by census time
    val hadoopConf = spark.sessionState.newHadoopConf()
    spark.stop()
    // Census: every selected query must have produced a parquet dir — a
    // missing output can otherwise read as "not run" downstream. Checked
    // AFTER oracle_sql.json/failures.json are written so a failing census
    // still leaves the artifacts, and surfaced as a non-zero exit.
    val missing = census(outDir, selected.map(_._1), hadoopConf)
    if (missing.nonEmpty) {
      System.err.println(
        s"[verify] CENSUS FAILURE: ${missing.size}/${selected.size} query " +
          s"output(s) missing: ${missing.mkString(", ")}")
      sys.exit(1)
    }
    System.err.println(s"[verify] census ok: ${selected.size}/${selected.size} outputs present")
  }
}
