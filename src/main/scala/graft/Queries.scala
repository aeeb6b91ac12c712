package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.CacheRegistry.scratchRoot
import graft.enrich.Enrich
import graft.functions.{GeoFunctions, HashFunctions, TextFunctions}
import graft.operators.{Dedup, Retrieval, Similarity}
import graft.pipeline.Pipeline
import graft.serve.Serve

/** The engine's query surface: one entry per operator family from
  * SURVEY.md §2 (+ the training-data-pipeline operators), each expressed
  * over the harness test tables and paired, where SQL-expressible, with a
  * DuckDB oracle that computes the same result.
  *
  * Determinism rules used throughout (so the driver's hash compare holds):
  *  - double aggregates are cast to DecimalType before summing (exact) or
  *    rounded after aggregation (error ≪ rounding step);
  *  - every window/top-k has a total tiebreak order;
  *  - both sides compute derived doubles with the same IEEE operation order.
  */
final case class QueryDef(name: String, oracle: Option[String],
                          fn: (SparkSession, String) => DataFrame)

object Queries {

  private def tableMtime(dir: String, name: String): Long = {
    val f = new java.io.File(s"$dir/$name.parquet")
    // a parquet DIRECTORY rewrite lands new part files (dir mtime moves);
    // a single-file rewrite moves the file mtime — cover both, one level
    val kids = if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty)
               else Array.empty[java.io.File]
    (f.lastModified +: kids.map(_.lastModified).toSeq).max
  }

  private[graft] def T(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    // file schema memoized per table: every spark.read.parquet without a
    // user-supplied schema runs a footer-inference JOB — ~30-80 ms of
    // driver latency PER TABLE PER QUERY across a full run. The path's
    // mtime (a local stat, ~µs, no Spark job) is in the tag: a corpus
    // regenerated at the same path mid-session with a different schema
    // re-infers instead of silently miscasting through a stale explicit
    // schema. Non-local URIs stat as 0 — memoized for the session.
    val schema = CacheRegistry.memo(spark, dir, s"schema:$name@${tableMtime(dir, name)}")(
      spark.read.parquet(path).schema)
    val raw = spark.read.schema(schema).parquet(path)
    if (name == "events") {
      // events.ts has shipped as TIMESTAMP(NANOS) (read as long via the
      // nanosAsLong session conf, truncated to µs) and as plain
      // timestamp[us] (read as TIMESTAMP_NTZ) in different testdata
      // generations — normalize BOTH to TimestampType so every downstream
      // query sees one type. Session tz is UTC, so the NTZ→timestamp cast
      // preserves the naive value DuckDB sees and oracle comparisons agree.
      raw.schema("ts").dataType match {
        case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampType => raw
        case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
      }
    } else raw
  }

  /** Restore input parallelism ahead of CPU-heavy per-row work (tokenize /
    * per-row hashing / join+agg fusion) when the source scan cannot split.
    *
    * The local bench tables are single parquet files with ONE row group, so
    * however many byte-range splits `files.minPartitionNum` makes, every row
    * lands in the split holding the row group's midpoint and the whole
    * scan-side pipeline runs on one core of 32 (measured 0.45-0.65 s stages;
    * in a bench row's `layers` it shows as `spark.executor_run_s` near the
    * row's wall time). A real corpus — many files, many row
    * groups — never has this shape, and DuckDB parallelizes the very same
    * file sub-row-group, so the baseline comparison is otherwise 1-vs-32
    * threads on exactly the CPU-bound stages.
    *
    * Conf-gated (`spark.graft.fanOutInputs`, default FALSE, set only by the
    * local Bench session): at cluster scale the conf stays off and the plan
    * is untouched — no repartition of a 100 TB scan ever appears. */
  private[graft] def fanOut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    if (spark.conf.getOption("spark.graft.fanOutInputs").contains("true"))
      df.repartition(math.min(8, spark.sparkContext.defaultParallelism))
    else df
  }

  /** Layout-agnostic STREAMING source for one testdata table: the driver's
    * testdata ships `<table>.parquet` as a single FILE inside `dir` (stream
    * from `dir` with a leaf-name filter — a file path is not a valid
    * stream source directory), while the ScaleGen sf1 slice ships it as a
    * DIRECTORY of part files (stream from that directory — the name filter
    * would match no `part-*.parquet` leaf and the stream would drain
    * empty, the round-16 sf1 stream_append_idempotent failure). */
  private def streamTable(s: SparkSession, dir: String, table: String,
                          schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    if (fs.exists(p) && fs.getFileStatus(p).isDirectory)
      s.readStream.schema(schema).parquet(p.toString)
    else s.readStream.schema(schema)
      .option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }

  /** DuckDB fold for [[TextFunctions.fingerprint64]]'s polynomial
    * (31·h + codepoint, seed 1125899906842597, mod 2⁶⁴) over the chars of
    * `e` — ONE source of truth for every oracle that must stay bit-identical
    * to the Scala fingerprint (text_fingerprint, stats_heavy_hitters,
    * sample_weighted). Returns the UNSIGNED HUGEINT value in [0, 2⁶⁴). */
  private def fnvPolySql(e: String): String =
    "list_reduce(list_prepend(1125899906842597::HUGEINT, " +
      s"list_transform(regexp_extract_all($e, '.'), c -> unicode(c)::HUGEINT)), " +
      "(a, x) -> (31*a + x) % 18446744073709551616::HUGEINT)"

  /** The retrieval probe queries — ONE source of truth for bm25_topk and
    * retrieval_rrf_fusion (Spark side); [[bm25RankSql]] mirrors them. */
  private def retrievalQueries: Seq[(Long, String)] =
    Seq(0L -> "fast table scan", 1L -> "window agg stream merge",
      2L -> "customer order big data")

  /** The BM25 ranking CTE chain (tokenize → pruned postings → idf → 6dp
    * contributions → per-query rank frame `rk`, plus `t`/`q` reusable by
    * downstream CTEs) — ONE source of truth shared by the bm25_topk and
    * retrieval_rrf_fusion oracles so the fused ranking can never drift
    * from the standalone one. */
  private def bm25RankSql: String =
    "WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents), " +
      "tf AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, term, CAST(count(*) AS BIGINT) AS tf " +
      "FROM (SELECT doc_id, w, unnest(w) AS term FROM t) GROUP BY 1, 2, 3), " +
      "q AS (SELECT CAST(query_id AS BIGINT) AS query_id, qtext FROM (VALUES " +
      "(0, 'fast table scan'), (1, 'window agg stream merge'), " +
      "(2, 'customer order big data')) AS qv(query_id, qtext)), " +
      "qt AS (SELECT DISTINCT query_id, unnest(string_split_regex(lower(trim(qtext)), '\\s+')) AS term FROM q), " +
      "tl AS (SELECT DISTINCT term FROM qt), " +
      "ptf AS (SELECT tf.* FROM tf JOIN tl USING (term)), " +
      "df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM ptf GROUP BY term), " +
      "s AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(len(w)) AS BIGINT) AS sumdl FROM t), " +
      "idf AS (SELECT term, df, n, sumdl, round(ln(1.0 + (CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / " +
      "(CAST(df AS DOUBLE) + 0.5)), 8) AS idf FROM df CROSS JOIN s), " +
      "sc AS (SELECT qt.query_id, ptf.doc_id, " +
      "CAST(round(idf.idf * ((CAST(ptf.tf AS DOUBLE) * 2.2) / (CAST(ptf.tf AS DOUBLE) + " +
      "1.2 * (0.25 + 0.75 * (CAST(ptf.dl AS DOUBLE) / (CAST(idf.sumdl AS DOUBLE) / CAST(idf.n AS DOUBLE)))))), 6) " +
      "AS DECIMAL(18,6)) AS c FROM ptf JOIN idf USING (term) JOIN qt USING (term)), " +
      "agg AS (SELECT query_id, doc_id, CAST(sum(c) * 1000000 AS BIGINT) AS score_micro " +
      "FROM sc GROUP BY 1, 2), " +
      "rk AS (SELECT query_id, doc_id, score_micro, CAST(row_number() OVER " +
      "(PARTITION BY query_id ORDER BY score_micro DESC, doc_id ASC) AS INT) AS rank FROM agg)"

  /** Whitespace token count of the `text` column — ONE source of truth for
    * every query that tokenizes by whitespace (pack/chunk/mix/stats/...):
    * the Spark column and its DuckDB mirror must stay in lockstep or token
    * counts silently drift between engines. */
  private val tokensWs: Column =
    size(split(trim(col("text")), "\\s+")).cast("long")
  private val tokensWsSql: String =
    "len(string_split_regex(trim(text), '\\s+'))"

  /** sum of a double column, exactly, via decimal */
  private def dsum(c: Column, scale: Int): Column =
    sum(c.cast(DecimalType(18, scale))).cast(DecimalType(38, scale))

  /** The events table's closed event-type vocabulary — ONE source of truth
    * for queries that enumerate it (pivot columns, funnels). */
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Messy URL synthesized from doc_id arithmetic — ONE source of truth
    * with [[urlOracleCtes]]: scheme case (%4), WWW prefix (%3), cdn
    * subdomain (%2), tld incl. two-label suffix (%5), default/non-default
    * ports (%6), trailing path slash (%7), utm tracking params (%8),
    * fragment (%9). */
  private def syntheticUrl: Column = {
    val id = col("doc_id")
    val scheme = when(id % 4 === 0, "http").when(id % 4 === 1, "HTTP")
      .when(id % 4 === 2, "https").otherwise("HTTPS")
    val www = when(id % 3 === 0, "WWW.").otherwise("")
    val hostcore = concat(
      when(id % 2 === 0, "cdn.site").otherwise("site"), (id % 40).cast("string"))
    // two DIFFERENT listed two-label suffixes (.co.br, .co.uk) so the
    // suffix-set probe is exercised on more than one entry of the snapshot;
    // the %11 overrides exercise every other PSL rule class — the *.ck and
    // *.kawasaki.jp wildcards and their !www.ck / !city.kawasaki.jp
    // exceptions, the pvt.k12.ma.us 4-label literal, and the
    // *.compute.amazonaws.com 4-label wildcard
    val tld = when(id % 11 === 0, ".foo.ck")
      .when(id % 11 === 1, ".www.ck")
      .when(id % 11 === 2, ".x.kawasaki.jp")
      .when(id % 11 === 3, ".city.kawasaki.jp")
      .when(id % 11 === 4, ".pvt.k12.ma.us")
      .when(id % 11 === 5, ".s3e.compute.amazonaws.com")
      .when(id % 5 === 0, ".com").when(id % 5 === 1, ".COM")
      .when(id % 5 === 2, ".org").when(id % 5 === 3, ".co.br").otherwise(".co.uk")
    val port = when(id % 6 === 0, ":80").when(id % 6 === 1, ":443")
      .when(id % 6 === 2, ":8080").otherwise("")
    val path = concat(lit("/docs/"), (id % 20).cast("string"),
      when(id % 7 === 0, "/").otherwise(""))
    val query = when(id % 8 === 0,
        concat(lit("?utm_source=feed&id="), (id % 10).cast("string")))
      .when(id % 8 === 1,
        concat(lit("?id="), (id % 10).cast("string"), lit("&utm_campaign=mail")))
      .when(id % 8 === 2, "?utm_medium=em").otherwise("")
    val frag = when(id % 9 === 0, "#sec2").otherwise("")
    concat(scheme, lit("://"), www, hostcore, tld, port, path, query, frag)
  }

  /** DuckDB twin of [[syntheticUrl]] plus the CLOSED-FORM canonical
    * derivation (`canon` CTE: doc_id, url_raw, url_canon, host,
    * reg_domain) — the oracle derives what the normalizer must produce
    * from the arithmetic directly, never from the raw string. */
  private def urlOracleCtes: String =
    "WITH u AS (SELECT doc_id, " +
      "CASE doc_id % 4 WHEN 0 THEN 'http' WHEN 1 THEN 'HTTP' WHEN 2 THEN 'https' ELSE 'HTTPS' END AS scheme, " +
      "CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END AS www, " +
      "CASE WHEN doc_id % 2 = 0 THEN 'cdn.site' ELSE 'site' END || CAST(doc_id % 40 AS VARCHAR) AS hostcore, " +
      "CASE WHEN doc_id % 11 = 0 THEN '.foo.ck' WHEN doc_id % 11 = 1 THEN '.www.ck' " +
      "WHEN doc_id % 11 = 2 THEN '.x.kawasaki.jp' WHEN doc_id % 11 = 3 THEN '.city.kawasaki.jp' " +
      "WHEN doc_id % 11 = 4 THEN '.pvt.k12.ma.us' WHEN doc_id % 11 = 5 THEN '.s3e.compute.amazonaws.com' " +
      "ELSE CASE doc_id % 5 WHEN 0 THEN '.com' WHEN 1 THEN '.COM' WHEN 2 THEN '.org' WHEN 3 THEN '.co.br' ELSE '.co.uk' END END AS tld, " +
      "CASE doc_id % 6 WHEN 0 THEN ':80' WHEN 1 THEN ':443' WHEN 2 THEN ':8080' ELSE '' END AS port, " +
      "'/docs/' || CAST(doc_id % 20 AS VARCHAR) || CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END AS path, " +
      "CASE doc_id % 8 WHEN 0 THEN '?utm_source=feed&id=' || CAST(doc_id % 10 AS VARCHAR) " +
      "WHEN 1 THEN '?id=' || CAST(doc_id % 10 AS VARCHAR) || '&utm_campaign=mail' " +
      "WHEN 2 THEN '?utm_medium=em' ELSE '' END AS query, " +
      "CASE WHEN doc_id % 9 = 0 THEN '#sec2' ELSE '' END AS frag " +
      "FROM documents), " +
      "canon AS (SELECT doc_id, " +
      "scheme || '://' || www || hostcore || tld || port || path || query || frag AS url_raw, " +
      "CASE WHEN doc_id % 4 <= 1 THEN 'http' ELSE 'https' END || '://' || hostcore || lower(tld) || " +
      "CASE WHEN doc_id % 6 = 0 AND doc_id % 4 >= 2 THEN ':80' " +
      "WHEN doc_id % 6 = 1 AND doc_id % 4 <= 1 THEN ':443' " +
      "WHEN doc_id % 6 = 2 THEN ':8080' ELSE '' END || " +
      "'/docs/' || CAST(doc_id % 20 AS VARCHAR) || " +
      "CASE WHEN doc_id % 8 <= 1 THEN '?id=' || CAST(doc_id % 10 AS VARCHAR) ELSE '' END AS url_canon, " +
      "hostcore || lower(tld) AS host, " +
      // PSL closed forms: wildcard-suffix hosts keep the generic
      // site<N>+suffix shape; exception hosts collapse to the exception
      // rule itself (it IS the registered domain)
      "CASE WHEN doc_id % 11 = 1 THEN 'www.ck' WHEN doc_id % 11 = 3 THEN 'city.kawasaki.jp' " +
      "ELSE 'site' || CAST(doc_id % 40 AS VARCHAR) || lower(tld) END AS reg_domain " +
      "FROM u)"

  /** Fresh scratch warehouse under the scratch root, keyed by query family
    * + sf dir, wiped on entry — shared by the integration-style rows that
    * write real files (pipeline, source-chain, format round-trips). */
  private def scratchDir(s: SparkSession, family: String, d: String): String = {
    val root = s"${scratchRoot(s)}/${family}_" + d.replaceAll("[^A-Za-z0-9]", "_")
    val hp = new org.apache.hadoop.fs.Path(root)
    val fs = hp.getFileSystem(s.sessionState.newHadoopConf())
    if (fs.exists(hp)) fs.delete(hp, true)
    root
  }

  /** Staged single-directory source for the fMGWS sessionizer stream: the
    * four Event columns (ts normalized to TimestampType) plus ONE
    * far-future sentinel row whose event time advances the final watermark
    * past every real session close, so the trailing no-data microbatch
    * flushes all keyed state. Built once per (session, dataset) — staging
    * is harness setup (the production analog is the upstream landing dir a
    * finite drain reads), and folding the sentinel into the same directory
    * keeps the drain to ONE file source: one metadata log, one listing per
    * trigger, no two-source union, and no per-run max(ts) pre-scan job
    * (any sentinel time later than every real event works; a flush
    * sentinel is "+infinity", not a data-dependent value). */
  // The trap-laden HTML page shared by text_html_extract and
  // web_warc_extract — ONE definition (pre/mid/post fragments, tag count,
  // the oracle's expected-text SQL) so the two rows' expectations cannot
  // desynchronize when a trap is added to one of them.
  private[graft] val htmlTrapPre = "<html><head><title>Doc</title>" +
    "<script>var a='<p>not text</p>';</script>" +
    "<style>p>span{color:red}</style></head>" +
    "<body onload=\"f('>')\"><!-- no comment --><h1>Doc "
  private[graft] val htmlTrapMid = "</h1><p>"
  private[graft] val htmlTrapPost =
    " &amp; <a href=\"https://a.example.org/?q=1\">link</a>" +
      " &#72;&#x49;!</p><br/></body></html>"
  private[graft] val htmlTrapNTags = 17
  private[graft] val htmlTrapNLinks = 1
  /** SQL fragment: the page's expected extracted text over `doc_id`/`text`. */
  private[graft] val htmlTrapOracleText =
    "trim(regexp_replace('Doc Doc ' || doc_id || ' ' || text || " +
      "' & link HI!', '\\s+', ' ', 'g'))"
  private[graft] def htmlTrapEscape(text: String): String =
    text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
  private[graft] def htmlTrapPage(id: Long, text: String): String =
    htmlTrapPre + id + htmlTrapMid + htmlTrapEscape(text) + htmlTrapPost

  private def fmgwsStagedSource(s: SparkSession, d: String): (String, StructType) =
    // events.parquet's mtime in the tag, as in [[T]]: a corpus regenerated
    // at the same path mid-session must re-stage, not stream stale rows
    // against a fresh oracle
    CacheRegistry.memo(s, d, s"fmgwsSrc@${tableMtime(d, "events")}") {
      val dir = s"${scratchRoot(s)}/fmgws_src_" + d.replaceAll("[^A-Za-z0-9]", "_")
      val ev = T(s, d, "events").select(col("user_id"), col("ts"),
        col("event_type"), col("value"))
      val sentinel = s.range(1).select(lit(-1L).as("user_id"),
        timestamp_micros(lit(7258118400000000L)).as("ts"), // 2200-01-01 UTC
        lit("sentinel").as("event_type"), lit(0.0).as("value"))
      ev.unionByName(sentinel).write.mode("overwrite").parquet(dir)
      (dir, s.read.parquet(dir).schema)
    }

  /** Rectangle dim row: attach bbox columns + the matching multipolygon
    * geom to a dim-attribute frame (shared by the pipeline integration
    * dims and the late-arriving-UC fixture). Edges sit at x.005 so
    * 2-decimal event coordinates are never ON a boundary. */
  private def dimBox(df: DataFrame, minLon: Double, minLat: Double,
                     maxLon: Double, maxLat: Double): DataFrame = {
    val rect: Seq[Seq[Seq[Seq[Double]]]] =
      Seq(Seq(Seq(Seq(minLon, minLat), Seq(maxLon, minLat), Seq(maxLon, maxLat),
        Seq(minLon, maxLat), Seq(minLon, minLat))))
    df.withColumn("min_lon", lit(minLon)).withColumn("min_lat", lit(minLat))
      .withColumn("max_lon", lit(maxLon)).withColumn("max_lat", lit(maxLat))
      .withColumn("geom", typedLit[Seq[Seq[Seq[Seq[Double]]]]](rect))
  }

  /** Rectangle municipality/biome dims for the pipeline integration rows:
    * 3 municipality strips by lon, 2 biome strips by lat — every valid
    * event lands in exactly ONE box of each dim, which is what lets the
    * oracles reduce conservation sums to plain row counts. */
  private def pipelineDims(s: SparkSession): (DataFrame, DataFrame) = {
    import s.implicits._
    def box(df: DataFrame, minLon: Double, minLat: Double,
            maxLon: Double, maxLat: Double): DataFrame =
      dimBox(df, minLon, minLat, maxLon, maxLat)
    val municipios =
      box(Seq(("m1", "MunA", "UF1", 5000.0)).toDF("cd_mun", "nm_mun", "uf", "area_km2"),
        -70.005, -10.005, -60.005, 0.005)
      .unionByName(box(Seq(("m2", "MunB", "UF2", 6000.0)).toDF("cd_mun", "nm_mun", "uf", "area_km2"),
        -60.005, -10.005, -50.005, 0.005))
      .unionByName(box(Seq(("m3", "MunC", "UF3", 7000.0)).toDF("cd_mun", "nm_mun", "uf", "area_km2"),
        -50.005, -10.005, -39.995, 0.005))
    val biomas =
      box(Seq((1L, "1", "BiomaSul")).toDF("dim_id", "cd_bioma", "bioma_nome"),
        -70.005, -10.005, -39.995, -5.005)
      .unionByName(box(Seq((2L, "2", "BiomaNorte")).toDF("dim_id", "cd_bioma", "bioma_nome"),
        -70.005, -5.005, -39.995, 0.005))
    (municipios, biomas)
  }

  /** INPE-shaped raw CSV frame from a pre-filtered events slice, day key
    * pinned to `dayStr`: lat encodes event_id uniquely (so the in-batch
    * hash dedup can never fire), poison rows pin the drop rules — lat 'nan'
    * (%97 → P4), lat out of range (%89 → P5) — and %11 sends a null-word
    * satelite (cleaned, not dropped). Valid-row count is therefore the
    * closed-form `¬%97 ∧ ¬%89` predicate the pipeline oracles replay. */
  private def pipelineRawCsv(ev: DataFrame, dayStr: String): DataFrame =
    ev.select(
      when(col("event_id") % 97 === 0, lit("nan"))
        .when(col("event_id") % 89 === 0, lit("95,00"))
        .otherwise(concat(lit("-"), expr("event_id div 10000").cast("string"),
          lit(","), lpad((col("event_id") % 10000).cast("string"), 4, "0")))
        .as("latitude"),
      concat(lit("-"), (col("event_id") % 30 + 40).cast("string"), lit(","),
        lpad(((col("event_id") * 7) % 100).cast("string"), 2, "0")).as("longitude"),
      concat(lit(s"$dayStr "), date_format(col("ts"), "HH:mm:ss")).as("data_hora_gmt"),
      when(col("event_id") % 11 === 0, lit("nan")).otherwise(lit("AQUA_M-T")).as("satelite"),
      lit("RAW_MUN").as("municipio"), lit("XX").as("estado"), lit("RAW_BIOMA").as("bioma"))

  /** DuckDB replay of [[operators.TextAnalysis.gopherRules]] — ONE source
    * of truth for the batch (quality_gopher_rules) and streaming
    * (stream_gopher_gate) oracle rows: the gate is the same row-local
    * expression tree in both execution modes, so it gets one oracle. */
  private val gopherRulesOracleSql: String =
    "WITH t AS (SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents), " +
      "m AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words, " +
      "CAST(list_sum(list_transform(w, x -> len(x))) AS BIGINT) AS word_chars, " +
      "CAST(len(list_filter(w, x -> regexp_matches(x, '[\\p{L}]'))) AS BIGINT) AS alpha_words, " +
      "CAST(len(list_intersect(list_distinct(w), " +
      "['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_hits, " +
      "CAST(length(text) - length(replace(text, '#', '')) + " +
      "(length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS symbols FROM t) " +
      "SELECT doc_id, n_words, word_chars, alpha_words, stop_hits, symbols, " +
      "n_words BETWEEN 50 AND 100000 AS r_word_count, " +
      "3 * n_words <= word_chars AND word_chars <= 10 * n_words AS r_mean_word_len, " +
      "5 * alpha_words >= 4 * n_words AS r_alpha_frac, " +
      "stop_hits >= 2 AS r_stopwords, " +
      "10 * symbols <= n_words AS r_symbol_ratio, " +
      "(n_words BETWEEN 50 AND 100000) AND (3 * n_words <= word_chars AND word_chars <= 10 * n_words) " +
      "AND (5 * alpha_words >= 4 * n_words) AND (stop_hits >= 2) AND (10 * symbols <= n_words) AS pass " +
      "FROM m ORDER BY doc_id"

  /** DuckDB replay of [[graft.operators.Classifier.fitHardSigmoid]] over
    * `documents` (label: lang = 'en'; features: n_chars/1000, tokens/100,
    * avg-word-length/10), 2 GD rounds unrolled as CTEs. Every expression
    * mirrors the Scala operator literally — hard sigmoid, 2^-20 grid
    * floor, LONG gradient sums, `w − 0.5·((g/2^20)/n)` updates — so the
    * final weights and training accuracy hash-match bit-for-bit. */
  private val classifierXs = Seq("x0", "x1", "x2", "x3")

  private def classifierP(ws: Seq[String]): String = {
    val z = classifierXs.zip(ws).map { case (x, w) => s"($x * $w)" }
      .mkString(" + ")
    s"least(greatest(0.5 + ($z) / 4.0, 0.0), 1.0)"
  }

  /** The shared CTE chain replaying both GD rounds (f → g1 → w1 → g2 →
    * w2); callers append their own final SELECT over `f, w2`. */
  private def classifierCtes: String = {
    val xs = classifierXs
    def grads(ws: Seq[String]) = xs.indices.map { i =>
      s"CAST(sum(CAST(floor((${classifierP(ws)} - y) * ${xs(i)} * 1048576.0) AS BIGINT)) AS BIGINT) AS g$i"
    }.mkString(", ")
    def update(prev: Int => String) = xs.indices.map { i =>
      s"${prev(i)} - 4.0 * ((g$i / 1048576.0) / n) AS w$i"
    }.mkString(", ")
    val w1refs = xs.indices.map(i => s"w1.w$i")
    "WITH f AS (SELECT doc_id, CASE WHEN n_chars > 300 THEN 1.0 ELSE 0.0 END AS y, " +
      "1.0 AS x0, n_chars / 1000.0 - 0.3 AS x1, " +
      s"$tokensWsSql / 100.0 - 0.5 AS x2, " +
      s"(n_chars / greatest($tokensWsSql, 1)) / 10.0 - 0.55 AS x3 FROM documents), " +
      s"g1 AS (SELECT ${grads(Seq.fill(4)("0.0"))}, count(*) AS n FROM f), " +
      s"w1 AS (SELECT ${update(_ => "0.0")}, n FROM g1), " +
      s"g2 AS (SELECT ${grads(w1refs)}, " +
      xs.indices.map(i => s"min(w1.w$i) AS pw$i").mkString(", ") +
      ", count(*) AS n FROM f, w1), " +
      s"w2 AS (SELECT ${update(i => s"pw$i")}, n FROM g2) "
  }

  private def classifierOracleSql: String = {
    val w2refs = classifierXs.indices.map(i => s"w2.w$i")
    classifierCtes +
      s"SELECT ${classifierXs.indices.map(i => s"min(w2.w$i) AS w$i").mkString(", ")}, " +
      s"count(*) FILTER (WHERE CAST((${classifierP(w2refs)} >= 0.5) AS DOUBLE) = y) AS n_correct, " +
      "count(*) AS n FROM f, w2"
  }

  private def classifierGateSql: String = {
    val w2refs = classifierXs.indices.map(i => s"w2.w$i")
    classifierCtes +
      s"SELECT f.doc_id, ${classifierP(w2refs)} AS score, " +
      s"CASE WHEN ${classifierP(w2refs)} >= 0.5 THEN 1 ELSE 0 END AS kept " +
      "FROM f, w2"
  }

  /** The Spark twins of [[classifierCtes]]'s `f` projection. */
  private def classifierLabel: Column =
    when(col("n_chars") > 300, 1.0).otherwise(0.0)
  private def classifierFeats: Seq[Column] = Seq(
    col("n_chars") / lit(1000.0) - lit(0.3),
    tokensWs / lit(100.0) - lit(0.5),
    (col("n_chars") / greatest(tokensWs, lit(1L))) / lit(10.0) - lit(0.55))

  // The trained quality-filter weights are ONE production artifact shared
  // by the fit/gate queries (like the BPE table and k-means centroids) —
  // trained once per (session, sf-dir) in the session memo.
  private def classifierWeights(s: SparkSession, d: String): Array[Double] =
    CacheRegistry.memo(s, d, "classifier")(operators.Classifier.fitHardSigmoid(
      T(s, d, "documents"), classifierLabel, classifierFeats, lr = 4.0, iters = 2)._1)

  /** Nearest-rank per-group percentile pick: for each group, the ACTUAL
    * data value whose row_number (ordered by `value`, `tie`) equals
    * `greatest(1, ceil(p·n))`, one output column per (alias, p). No float
    * interpolation — the result is an element of the data, so downstream
    * comparisons/counts are engine-exact. Shared by winsorize and MAD. */

  /** One BPE merge round of the oracle unroll (shared by text_bpe_merges
    * and text_bpe_encode so their semantics cannot drift): pair counts from
    * adjacent-token zips over v{n}, lexicographic-tiebreak argmax b{n},
    * merge applied via a list-of-lists fold into v{n+1}. The 1-row b{n} is
    * LEFT JOINed (lambdas accept columns, not subqueries) — LEFT, not
    * CROSS, so a round with no pairs left yields null-pair comparisons and
    * a no-op fold instead of annihilating the vocabulary, mirroring
    * bpeFit's early stop. */
  private def bpeRoundSql(n: Int): String = {
    val (v, p, b) = (s"v$n", s"p$n", s"b$n")
    s"$p AS (SELECT pr.l AS l, pr.r AS r, CAST(sum(cnt) AS BIGINT) AS c FROM " +
      s"(SELECT cnt, unnest(list_transform(range(len(t) - 1), i -> " +
      s"{'l': t[CAST(i AS INT)+1], 'r': t[CAST(i AS INT)+2]})) AS pr FROM $v) GROUP BY 1, 2), " +
      s"$b AS (SELECT l, r, l || r AS m, c FROM $p ORDER BY c DESC, l, r LIMIT 1), " +
      s"v${n + 1} AS (SELECT w, cnt, list_reduce(list_transform(t, x -> [x]), " +
      s"(acc, x) -> CASE WHEN acc[len(acc)] = $b.l AND x[1] = $b.r " +
      s"THEN list_concat(acc[1:len(acc)-1], [$b.m]) ELSE list_concat(acc, x) END) AS t " +
      s"FROM $v LEFT JOIN $b ON true)"
  }

  // ---------------------------------------------------------------- geometry
  // Synthetic deterministic geo layout shared with the oracle SQL:
  //  - every customer becomes a point; lon/lat are pure integer-arithmetic
  //    functions of c_custkey (offset 0.05° so no point sits on a cell edge)
  //  - every nation becomes a 72°×34° rectangle in a 5×5 world grid
  //  - every region becomes a 144°-wide overlapping lon band (first-match
  //    tiebreak exercise)

  private val ptsSql =
    "SELECT c_custkey, ((c_custkey*7919)%3600)/10.0 - 179.95 AS lon, " +
      "((c_custkey*104729)%1700)/10.0 - 84.95 AS lat FROM customer"

  private val cellsSql =
    "SELECT n_nationkey, n_name, " +
      "CAST((n_nationkey%5)*72 - 180 AS DOUBLE) AS min_lon, " +
      "CAST((n_nationkey//5)*34 - 85 AS DOUBLE) AS min_lat, " +
      "CAST((n_nationkey%5)*72 - 108 AS DOUBLE) AS max_lon, " +
      "CAST((n_nationkey//5)*34 - 51 AS DOUBLE) AS max_lat FROM nation"

  private def points(spark: SparkSession, dir: String): DataFrame =
    T(spark, dir, "customer").select(
      col("c_custkey"),
      ((col("c_custkey") * 7919 % 3600) / 10.0 - 179.95).as("lon"),
      ((col("c_custkey") * 104729 % 1700) / 10.0 - 84.95).as("lat"))

  private def cells(spark: SparkSession, dir: String): DataFrame =
    T(spark, dir, "nation").select(
      col("n_nationkey"), col("n_name"),
      (col("n_nationkey") % 5 * 72 - 180).cast("double").as("min_lon"),
      (expr("n_nationkey div 5") * 34 - 85).cast("double").as("min_lat"),
      (col("n_nationkey") % 5 * 72 - 108).cast("double").as("max_lon"),
      (expr("n_nationkey div 5") * 34 - 51).cast("double").as("max_lat"))

  // The learned BPE merge table is a production artifact (the trained
  // tokenizer) shared by the merges/encode queries — trained once per
  // (session, sf-dir) in the session memo.
  private def bpeMerges(s: SparkSession, d: String): Seq[(Int, String, String, String, Long)] =
    CacheRegistry.memo(s, d, "bpe")(
      operators.Tokenizer.bpeFit(T(s, d, "documents"), "text", 10))

  // The k=8 IVF coarse quantizer is likewise ONE trained artifact shared by
  // dedup_semantic / sim_kmeans / sim_topk_kmeans — in production it is
  // fitted once and persisted next to the index it defines.
  private def kmeans8(s: SparkSession, d: String): Seq[Seq[Double]] =
    CacheRegistry.memo(s, d, "kmeans8")(Similarity.kmeansFit(
      T(s, d, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v")),
      "vec_id", "v", k = 8, iters = 2))

  // The fitted PC1 power-iteration rounds are likewise ONE trained
  // artifact (raw per-round iterates; round k re-derives its aggregate
  // frame lazily) shared by the pca fit/project queries.
  private def pcaRounds(s: SparkSession, d: String): Seq[Array[Double]] =
    CacheRegistry.memo(s, d, "pca")(operators.Pca.fitRounds(
      T(s, d, "embeddings")
        .select(col("embedding").cast("array<double>").as("v")),
      "v", dim = 64, iters = 2))

  // The trained PQ codebooks (per-subspace k-means) are likewise ONE
  // artifact shared by embed_pq_codes / sim_topk_pq — in production the
  // quantizer is fitted once and persisted next to the code index.
  private def pqBooks2x4(s: SparkSession, d: String): Seq[Seq[Seq[Double]]] =
    CacheRegistry.memo(s, d, "pq2x4")(operators.Similarity.pqFit(
      T(s, d, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v")),
      "vec_id", "v", dims = 64, m = 2, k = 4, iters = 2))

  /** DuckDB replay of [[graft.operators.Pca]]'s power iteration (2 rounds
    * from the all-ones start, 2⁻²⁰-grid LONG update sums, `(g/2²⁰)/n`
    * iterates). `list_inner_product` is the same ascending left fold as
    * [[graft.plans.DotExpr]], and every weight derivation is a fixed IEEE
    * expression over exact-integer inputs, so the rounds hash-match
    * bit-for-bit. Callers append a final SELECT over `e, g2`. */
  private def pcaCtes: String = {
    val ones = "[" + Seq.fill(64)("1.0").mkString(", ") + "]"
    def round(u: String, g: String, src: String) =
      s"$u AS (SELECT unnest(range(64)) AS pos, unnest(v) AS x, " +
        s"list_inner_product(v, $src) AS d FROM e), " +
        s"$g AS (SELECT pos, CAST(sum(CAST(floor(d * x * 1048576.0) AS BIGINT)) AS BIGINT) AS g, " +
        s"count(*) AS n FROM $u GROUP BY pos)"
    "WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      round("u1", "g1", ones) + ", " +
      "w1 AS (SELECT list((CAST(g AS DOUBLE)/1048576.0)/n ORDER BY pos) AS w FROM g1), " +
      round("u2", "g2", "(SELECT w FROM w1)")
  }

  /** A shared mart, persisted and materialized once per (session, sf-dir)
    * in the session memo. The serve_* queries all read the same day×dim
    * cube — production reads it from the persisted mv_focos_day_dim mart,
    * so Verify/Bench build it once instead of re-paying the 3-join
    * aggregation per query; the other marts follow the same pattern. A
    * long-lived host bounds growth with CacheRegistry.unpersistAll. */
  private def memoized(s: SparkSession, d: String, tag: String)(build: => DataFrame): DataFrame =
    CacheRegistry.memo(s, d, tag) {
      val df = CacheRegistry.register(
        build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      df.count() // materialize eagerly so no single query is charged the build
      df
    }

  /** The Q1 pricing-summary aggregate as a shared memoized mart: the
    * production shape is ONE lineitem scan feeding every report that
    * rolls up from (returnflag, linestatus) grain — q1_pricing_summary
    * serves it directly and unpivot_metrics re-aggregates the 6-row mart
    * (exact: all three melted metrics are integer sums — quantity is
    * integral, prices are e2-cent BIGINTs — so the coarser rollup equals
    * the direct scan bit-for-bit). Charged to q1 (alphabetically first
    * consumer) per the bench timing contract. */
  private def pricingSummary(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "pricingSummary") {
      T(s, d, "lineitem").groupBy("l_returnflag", "l_linestatus").agg(
        sum("l_quantity").cast("long").as("sum_qty"),
        (dsum(col("l_extendedprice"), 2) * 100).cast("long").as("sum_base_e2"),
        (dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4) * 10000)
          .cast("long").as("sum_disc_e4"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        count(lit(1)).as("n"))
    }

  /** fact-cube analog for the serving routes: nation plays municipality,
    * region plays UF (day, uf, cd_mun, mun_nm_mun, n_focos) */
  private def choroCube(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "choroCube") {
      T(s, d, "orders")
        .join(T(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(T(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(T(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("o_orderdate").cast("date").as("day"), col("r_name").as("uf"),
          col("n_nationkey").as("cd_mun"), col("n_name").as("mun_nm_mun"))
        .agg(count(lit(1)).as("n_focos"))
    }

  /** municipality-geometry analog: one rectangle per nation keyed under its
    * region as "uf" */
  private def munGeoms(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "munGeoms") {
      cells(s, d)
        .join(broadcast(T(s, d, "nation").select(col("n_nationkey").as("nk"),
          col("n_regionkey"))), col("n_nationkey") === col("nk"))
        .join(broadcast(T(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("key"), col("r_name").as("uf"), rectGeom.as("geom"))
    }

  /** Near-dup cluster assignment (prefix-filter Jaccard pairs → connected
    * components) — a materialized mart in production (the cluster map is
    * written once per corpus build and read by every downstream consumer),
    * so the two consumers here (dedup_clusters, dedup_summary) share one
    * memoized build instead of re-running the pair join + iteration twice.
    * Deliberately NOT pre-warmed in Bench: the first consumer measures the
    * real build. */
  private def clusterAssignments(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "dedupClusters") {
      Dedup.connectedComponents(T(s, d, "documents").select("doc_id"), "doc_id",
        jaccardPairs(s, d), "id_a", "id_b")
    }

  /** BM25 top-20 ranking over the probe query set — the materialized
    * ranking mart both retrieval consumers read (bm25_topk truncates to
    * 10, retrieval_rrf_fusion fuses it with the Jaccard ranking), so the
    * postings build runs once per (session, corpus, probe set).
    * Deliberately NOT pre-warmed in Bench: the first consumer measures
    * the real build. */
  private def bm25Rank20(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "bm25Rank20") {
      operators.Retrieval.bm25TopK(T(s, d, "documents"), "doc_id", "text",
        retrievalQueries, k = 20)
    }

  /** The near-dup pair list itself is ALSO a materialized production
    * artifact (the corpus build writes it before clustering) — shared by
    * dedup_jaccard_words and the cluster build above. */
  private def jaccardPairs(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "jaccardPairs") {
      val w = T(s, d, "documents").select(col("doc_id"), col("lang"),
        array_distinct(split(lower(col("text")), " ")).as("ws"))
      Dedup.jaccardPrefixPairs(w, "doc_id", "ws", col("lang"), 0.9)
    }

  /** Unigram-LM per-doc NLL scores — a materialized mart in production
    * (scored once per corpus build, read by every fluency consumer), so
    * text_lm_score and quality_ccnet_buckets share one memoized build. */
  private def lmScores(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "lmScores") {
      val docs = T(s, d, "documents")
      // the unigram-count aggregate and the scoring join both read the
      // token stream — persist so the corpus tokenizes once
      val toks = CacheRegistry.register(
        docs.select(col("doc_id"),
          explode(filter(split(lower(col("text")), "[^\\p{L}]+"),
            x => length(x) > 0)).as("w"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val cnt = toks.groupBy("w").agg(count(lit(1)).as("c"))
      val tot = cnt.agg(sum("c").as("n"))
      val agg = toks.join(cnt, "w").crossJoin(broadcast(tot))
        .withColumn("lp", round(-log(col("c").cast("double") / col("n")), 8)
          .cast(DecimalType(18, 8)))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_toks"),
          (sum(col("lp")) * 100000000L).cast("long").as("nll_e8"))
      docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("n_toks"), lit(0L)).as("n_toks"),
          coalesce(col("nll_e8"), lit(0L)).as("nll_e8"))
    }

  /** [[lmScores]]' oracle CTE chain, ending in `lmsc(doc_id, n_toks,
    * nll_e8)` — ONE source of truth for the text_lm_score and
    * quality_ccnet_buckets oracles. */
  private def lmNllSql: String =
    "toks AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), " +
      "'[^\\p{L}]+'), x -> len(x) > 0)) AS w FROM documents), " +
      "cnt AS (SELECT w, count(*) AS c FROM toks GROUP BY w), " +
      "tot AS (SELECT sum(c) AS n FROM cnt), " +
      "sc AS (SELECT t.doc_id, CAST(round(-ln(CAST(c AS DOUBLE) / n), 8) AS DECIMAL(18, 8)) AS lp " +
      "FROM toks t JOIN cnt ON cnt.w = t.w CROSS JOIN tot), " +
      "agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks, " +
      "CAST(sum(lp) * 100000000 AS BIGINT) AS nll_e8 FROM sc GROUP BY doc_id), " +
      "lmsc AS (SELECT d.doc_id, coalesce(a.n_toks, 0) AS n_toks, " +
      "coalesce(a.nll_e8, 0) AS nll_e8 " +
      "FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id)"

  /** Shared oracle closure for the CC family (dedup_clusters /
    * dedup_summary): `rounds` unrolled rounds of min-label propagation +
    * pointer jumping over the SAME pair predicate — each round takes the
    * min label over {self} ∪ neighbors, then chases one pointer hop
    * (adopts the label OF the label node), exactly Spark's
    * connectedComponents iteration. Replaces the recursive reachability
    * closure, which materializes id × reachable-node pairs and cannot
    * finish in DuckDB at sf0.1 bench scale (>6 min; this unroll runs in
    * seconds). Converges for component diameter ≲ 2^rounds (8 rounds ⇒
    * diameter ~256 — far above any near-dup chain the 0.9-Jaccard pair
    * predicate can produce; each extra round costs two tiny label joins,
    * so the margin is cheap). Non-convergence is loud, not silent: far
    * nodes keep intermediate labels and the gate flags the row. Ends with
    * `cl(doc_id, cluster_id)`. */
  private def ccClosureSql(rounds: Int): String = {
    // every iteration CTE is referenced twice (self-join on labels) — they
    // MUST be MATERIALIZED or the optimizer's inlining re-evaluates the
    // whole chain per reference (2^rounds pair-join expansions)
    val base =
      "w AS MATERIALIZED (SELECT doc_id, lang, list_distinct(string_split(lower(text), ' ')) AS ws FROM documents), " +
        "p AS MATERIALIZED (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM w a JOIN w b " +
        "ON a.lang = b.lang AND a.doc_id < b.doc_id " +
        "WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) / " +
        "len(list_distinct(list_concat(a.ws, b.ws))) >= 0.9), " +
        "e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM p UNION ALL SELECT id_b, id_a FROM p), " +
        "l0 AS MATERIALIZED (SELECT doc_id AS id, doc_id AS lbl FROM documents)"
    val iters = (0 until rounds).flatMap { t =>
      Seq(
        s"a$t AS MATERIALIZED (SELECT l.id, least(l.lbl, coalesce(min(nl.lbl), l.lbl)) AS lbl " +
          s"FROM l$t l LEFT JOIN e ON e.src = l.id LEFT JOIN l$t nl ON nl.id = e.dst " +
          "GROUP BY l.id, l.lbl)",
        s"l${t + 1} AS MATERIALIZED (SELECT a.id, a2.lbl FROM a$t a JOIN a$t a2 ON a2.id = a.lbl)")
    }
    (base +: iters).mkString(", ") +
      s", cl AS (SELECT id AS doc_id, lbl AS cluster_id FROM l$rounds)"
  }

  /** choroCube as oracle SQL (shared by the serve_* oracles) */
  private val cubeSql =
    "SELECT CAST(o.o_orderdate AS DATE) AS day, r.r_name AS uf, " +
      "n.n_nationkey AS cd_mun, n.n_name AS mun_nm_mun, count(*) AS n_focos " +
      "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey " +
      "JOIN nation n ON c.c_nationkey = n.n_nationkey " +
      "JOIN region r ON n.n_regionkey = r.r_regionkey GROUP BY 1,2,3,4"

  /** media table derived from documents (payload = utf-8 text bytes) */
  private def mediaFromDocs(s: SparkSession, d: String): DataFrame =
    T(s, d, "documents").select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio").otherwise("video").as("kind"),
      when(col("doc_id") % 3 === 0, "image/png")
        .when(col("doc_id") % 3 === 1, "audio/wav").otherwise("video/mp4").as("mime"),
      encode(col("text"), "UTF-8").as("payload"))

  /** rectangle ring (single closed ring, GeoJSON point nesting) from bbox
    * columns. Kept 2-deep: the former build-4-deep-multipolygon-then-
    * `element_at(element_at(...))` destructure generated Java that Janino
    * rejected ("project_isNull_N is not an rvalue") and silently fell back
    * to interpreted projection — see GeoCodegenSpec, which runs this family
    * with codegen.fallback=false so a regression fails loud. */
  private def rectRing: Column = {
    def p(a: Column, b: Column) = array(a, b)
    array(
      p(col("min_lon"), col("min_lat")), p(col("max_lon"), col("min_lat")),
      p(col("max_lon"), col("max_lat")), p(col("min_lon"), col("max_lat")),
      p(col("min_lon"), col("min_lat")))
  }

  /** rectangle multipolygon column from bbox columns (GeoJSON nesting) */
  private def rectGeom: Column = array(array(rectRing))

  /** two-part multipolygon: left rect 24° wide, right rect 48° wide */
  private def twoPartGeom: Column = {
    def p(a: Column, b: Column) = array(a, b)
    def rect(lo: Column, hi: Column) = array(array(
      p(lo, col("min_lat")), p(hi, col("min_lat")),
      p(hi, col("max_lat")), p(lo, col("max_lat")), p(lo, col("min_lat"))))
    array(rect(col("min_lon"), col("min_lon") + 24),
      rect(col("min_lon") + 24, col("max_lon")))
  }

  /** Materialize the session-shared serve inputs (choroCube, munGeoms,
    * lmScores) — production reads these from persisted marts
    * (mv_focos_day_dim; the per-corpus LM-score table every fluency
    * consumer shares), so benchmarks warm them outside any timed query.
    * Idempotent. */
  def warmupShared(spark: SparkSession, dir: String): Unit = {
    choroCube(spark, dir)
    munGeoms(spark, dir)
    lmScores(spark, dir)
  }

  /** The real rows [[warmupPlans]] runs over tiny snapshots. Each family
    * compiles its own codegen/typed-encoder classes on first use — a cold
    * full-bench run showed 2-4x first-execution penalties on exactly these
    * shapes — and running the rows themselves keeps the warmed plans
    * identical to the timed ones. */
  private[graft] val warmupRows: Seq[String] = Seq(
    // the many-stage dedup/LSH/retrieval chains: gram-key windows, the
    // winnow kernel, inverted-index chains, the CC iteration round, the
    // bigram-LM multi-join, PQ slice folds, DSIR bucket aggs, KS bin windows
    "dedup_jaccard_words", "dedup_minhash_lsh", "dedup_simhash", "sim_topk_lsh",
    "dedup_clusters", "text_lm_bigram", "dedup_winnow", "dedup_substring",
    "dedup_containment", "dedup_lines", "retrieval_rrf_fusion",
    "quality_dsir_weights", "sim_topk_pq", "stats_ks_drift",
    // the rankSelect family (sketch grid agg, bracket slice window, audit
    // explode) and other single-family kernels
    "stats_mad_outliers", "quality_winsorize", "stats_approx_quantiles",
    "stats_exact_quantiles_continuous", "a8_fact_cube", "skew_salted_join",
    "stats_hll_distinct", "zorder_layout", "text_tfidf_top_terms",
    "quality_repetition_rules",
    // the pagerank join/agg chain, the domain-cap window-over-InSet
    // projection, the imageio resize encoder
    "web_pagerank", "web_domain_cap", "mm_resize_image",
    // the from-spec codecs: typed encoders, mapPartitions, decoder JIT
    "mm_decode_jpeg", "mm_decode_jpeg_color", "mm_decode_adpcm",
    "mm_decode_adpcm_wav", "mm_decode_jpeg_progressive",
    "mm_decode_jpeg_arith", "mm_decode_jpeg_lossless",
    // resize→re-encode→dHash→banded-hamming-join and audio-envelope chains
    "dedup_image_near", "dedup_audio_near",
    // lifecycle rows: the pipeline chain (locale CSV transform → hash
    // anti-join append → PIP/KNN enrich → dynamic-partition-overwrite mart
    // writes) and the streaming micro-batch engine (file-source metadata
    // log, state store, watermark bookkeeping, flatMapGroupsWithState,
    // foreachBatch sink) load large class families on first use — measured
    // ~2-3 s on whichever lifecycle row ran first
    "pipeline_idempotent", "stream_window_agg", "stream_state_metrics",
    "stream_sessionize_fmgws", "stream_append_idempotent")

  /** Rows whose vocabulary-keyed joins AQE can leave as SHUFFLED joins at
    * bench scale: the snapshots compile only the broadcast variants, so
    * [[warmupPlans]] re-runs these with auto-broadcast disabled. */
  private[graft] val warmupShuffledJoinRows: Seq[String] =
    Seq("retrieval_rrf_fusion", "quality_dsir_weights", "text_lm_bigram")

  /** JIT/codegen warmup: run [[warmupRows]] over ~100-row slices so their
    * whole-stage-codegen classes are Janino-compiled (and cached) before
    * timing. Only compilation is amortized — the timed queries still
    * execute their full input one-shot, and the memoized marts the warmup
    * builds are keyed by the snapshot dir, never by `dir`.
    *
    * The slices are tiny PARQUET SNAPSHOTS of the real tables, read
    * through the same [[T]] reader — NOT `.limit(n)` on the real frames: a
    * limit node changes the fused pipeline, so the generated source of
    * every scan-side stage differs from the real query's and the one-shot
    * timing still pays its Janino compile on the driver (measured
    * ~0.5-1 s across a 13-17-job chain). A same-schema scan of a different
    * path compiles to byte-identical source. */
  def warmupPlans(spark: SparkSession, dir: String): Unit = {
    val qs = queries
    def snapshot(prefix: String): String = {
      val wdir = s"${scratchRoot(spark)}/$prefix" + dir.replaceAll("[^A-Za-z0-9]", "_")
      Seq("documents" -> 120, "embeddings" -> 64, "events" -> 200,
        "lineitem" -> 300, "orders" -> 200, "part" -> 200).foreach { case (t, n) =>
        // always overwrite: a stale snapshot left after the source corpus
        // is regenerated with a different schema would mis-shape the warmup
        spark.read.parquet(s"$dir/$t.parquet").limit(n)
          .write.mode("overwrite").parquet(s"$wdir/$t.parquet")
      }
      wdir
    }
    def run(rows: Seq[String], wdir: String): Unit =
      rows.foreach(q => qs(q)(spark, wdir).queryExecution.toRdd.count())
    run(warmupRows, snapshot("graft_warmup_"))
    // static planning and AQE both read the threshold. A SECOND snapshot:
    // over the first, retrieval_rrf_fusion would reuse the bm25Rank20 mart
    // memoized under broadcast joins, and its shuffled-join classes would
    // never compile
    val bcPrev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try run(warmupShuffledJoinRows, snapshot("graft_warmup_nobc_"))
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcPrev)
  }

  /** DuckDB SQL builders for the unrolled deterministic k-means oracle
    * (init = first k vectors by vec_id, per-iteration 6dp centroid
    * rounding, empty-cell coalesce, lowest-cell tie via list_position on
    * the min) — ONE source of truth for the sim_kmeans / dedup_semantic /
    * sim_topk_kmeans / embed_pq_codes / sim_topk_pq oracles. `p` prefixes
    * the CTE names so several instantiations (e.g. the two PQ subspaces)
    * can coexist in one WITH chain; a table `tbl` must expose (vec_id, v).
    */
  private object KmeansSql {
    def distList(dim: Int, v: String, cs: String): String =
      s"list_transform($cs, c -> list_reduce(list_prepend(0.0::DOUBLE, " +
        s"list_transform(range($dim), i -> ($v[CAST(i AS INT)+1]-c[CAST(i AS INT)+1])*" +
        s"($v[CAST(i AS INT)+1]-c[CAST(i AS INT)+1]))), (a, x) -> a + x))"
    def iterSql(p: String, tbl: String, dim: Int, k: Int, n: Int): String =
      s"${p}g$n AS (SELECT vec_id, v, CAST(list_position(ds, list_min(ds)) AS INT) - 1 AS cell FROM " +
        s"(SELECT vec_id, v, ${distList(dim, "v", s"(SELECT cs FROM ${p}c$n)")} AS ds FROM $tbl) ${p}t$n), " +
        s"${p}m$n AS (SELECT cell, pos, round(avg(x), 6) AS m FROM " +
        s"(SELECT cell, unnest(range(len(v))) AS pos, unnest(v) AS x FROM ${p}g$n) ${p}u$n GROUP BY cell, pos), " +
        s"${p}n$n AS (SELECT cell, list(m ORDER BY pos) AS c FROM ${p}m$n GROUP BY cell), " +
        s"${p}c${n + 1} AS (SELECT list(coalesce(${p}n$n.c, (SELECT cs FROM ${p}c$n)[CAST(cellno AS INT)+1]) " +
        s"ORDER BY cellno) AS cs FROM range($k) ${p}r$n(cellno) LEFT JOIN ${p}n$n ON ${p}n$n.cell = cellno)"
    /** c0 init + 2 Lloyd iterations; the trained centroids are `${p}c2`. */
    def trainBlock(p: String, tbl: String, dim: Int, k: Int): String =
      s"${p}c0 AS (SELECT list(v ORDER BY vec_id) AS cs FROM " +
        s"(SELECT vec_id, v FROM $tbl ORDER BY vec_id LIMIT $k) ${p}i0), " +
        iterSql(p, tbl, dim, k, 0) + ", " + iterSql(p, tbl, dim, k, 1)
    /** trainBlock + per-vector distance lists vs the trained centroids. */
    def subBlock(p: String, tbl: String, dim: Int, k: Int): String =
      trainBlock(p, tbl, dim, k) + ", " +
        s"${p}fin AS (SELECT vec_id, ${distList(dim, "v", s"(SELECT cs FROM ${p}c2)")} AS ds FROM $tbl)"
  }

  /** Proxy enriched-fact frame for the A3–A6 mart family: the reference's
    * post-enrichment shape (file_date, string view_ts, UF/biome/UC/TI keys)
    * built deterministically from orders×customer×nation so the marts'
    * sharpest semantic trap — municipality/UF keyed on
    * `coalesce(view_ts::date, file_date)` while biome/UC/TI key on RAW
    * file_date (SURVEY §7.5) — is oracle-pinned. view_ts exercises all
    * three coalesce branches: unparseable ('pending' → NULL → file_date),
    * a view date that DIFFERS from file_date (+1 day), and the agreeing
    * case. UC/TI keys are null off their modulus to pin the null-drop. */
  // Memoized like the other standing marts (CC closure, bm25 ranking, PQ
  // codebooks): in the reference pipeline the enriched fact IS a persisted
  // table every mart reads, not a join each mart re-runs — eight mart/cube
  // rows consume this frame, and re-paying the orders⋈customer⋈nation
  // shuffle per row measured ~0.3-0.5s each at sf0.1. Charged to the
  // alphabetically first consumer per the bench timing contract.
  private def enrichedProxy(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "enrichedProxy")(enrichedProxyUncached(s, d))

  private def enrichedProxyUncached(s: SparkSession, d: String): DataFrame =
    T(s, d, "orders")
      .join(T(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(T(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(
        col("o_orderdate").cast("date").as("file_date"),
        when(col("o_orderkey") % 7 === 0, lit("pending"))
          .when(col("o_orderkey") % 3 === 0,
            date_format(date_add(col("o_orderdate").cast("date"), 1),
              "yyyy-MM-dd HH:mm:ss"))
          .otherwise(date_format(col("o_orderdate").cast("date"),
            "yyyy-MM-dd HH:mm:ss"))
          .as("view_ts"),
        // municipality keys for the A1/A2 rows' REAL mart builders: null
        // off a modulus (pins the builders' null-drop filter), area a pure
        // integer function of the key so max(area) is deterministic
        when(col("o_orderkey") % 13 =!= 0, col("c_custkey")).as("mun_cd_mun"),
        when(col("o_orderkey") % 13 =!= 0,
          concat(lit("MUN-"), col("c_custkey"))).as("mun_nm_mun"),
        (col("c_custkey") % 1000 + 10).cast("long").as("mun_area_km2"),
        col("c_mktsegment").as("mun_uf"),
        col("c_nationkey").as("cd_bioma"),
        col("n_name").as("bioma"),
        when(col("o_orderkey") % 5 === 0, col("o_orderkey") % 100).as("cd_cnuc"),
        when(col("o_orderkey") % 5 === 0,
          concat(lit("UC-"), col("o_orderkey") % 100)).as("uc_nome"),
        when(col("o_orderkey") % 11 === 0, col("o_orderkey") % 50).as("terrai_cod"),
        when(col("o_orderkey") % 11 === 0,
          concat(lit("TI-"), col("o_orderkey") % 50)).as("ti_nome"))

  /** DuckDB mirror of [[enrichedProxy]]. */
  private val enrProxySql: String =
    "SELECT CAST(o_orderdate AS DATE) AS file_date, " +
      "CASE WHEN o_orderkey % 7 = 0 THEN 'pending' " +
      "WHEN o_orderkey % 3 = 0 THEN strftime(CAST(o_orderdate AS DATE) + INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S') " +
      "ELSE strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') END AS view_ts, " +
      "CASE WHEN o_orderkey % 13 <> 0 THEN c_custkey END AS mun_cd_mun, " +
      "CASE WHEN o_orderkey % 13 <> 0 THEN 'MUN-' || c_custkey END AS mun_nm_mun, " +
      "CAST(c_custkey % 1000 + 10 AS BIGINT) AS mun_area_km2, " +
      "c_mktsegment AS mun_uf, c_nationkey AS cd_bioma, n_name AS bioma, " +
      "CASE WHEN o_orderkey % 5 = 0 THEN o_orderkey % 100 END AS cd_cnuc, " +
      "CASE WHEN o_orderkey % 5 = 0 THEN 'UC-' || (o_orderkey % 100) END AS uc_nome, " +
      "CASE WHEN o_orderkey % 11 = 0 THEN o_orderkey % 50 END AS terrai_cod, " +
      "CASE WHEN o_orderkey % 11 = 0 THEN 'TI-' || (o_orderkey % 50) END AS ti_nome " +
      "FROM orders JOIN customer ON o_custkey = c_custkey " +
      "JOIN nation ON c_nationkey = n_nationkey"

  /** Municipality dim proxy for A9: (cd_mun, uf, integer area). Integer
    * areas keep the rollup sum and the density ratio in exact integer
    * arithmetic on both engines (no decimal-division scale divergence). */
  private def municipiosProxy(s: SparkSession, d: String): DataFrame =
    T(s, d, "customer").select(col("c_custkey").as("cd_mun"),
      col("c_mktsegment").as("uf"),
      (col("c_custkey") % 1000 + 10).cast("long").as("area_km2"))

  private def ufAreaSql(excludeBuilding: Boolean): String =
    "SELECT c_mktsegment AS uf, CAST(sum(c_custkey % 1000 + 10) AS BIGINT) AS uf_area_km2 " +
      "FROM customer " +
      (if (excludeBuilding) "WHERE c_mktsegment <> 'BUILDING' " else "") +
      "GROUP BY 1"

  /** Half-up `round(100·n/area, 4)` as an exact integer at 1e-4 scale:
    * `(2·10⁶·n + area) div (2·area)` — the same two's-complement division
    * on both engines, immune to decimal-scale and double-rounding drift. */
  private val densityE4 = "(2000000 * n_focos + uf_area_km2) div (2 * uf_area_km2)"
  private val densityE4Sql = "(2000000 * n_focos + uf_area_km2) // (2 * uf_area_km2)"

  // ============================================================== queries ==

  val all: Seq[QueryDef] = Seq(

    // ---------------------------------------------------- aggregations (A*)

    // exact decimal sums internally, fixed-point BIGINT at the boundary —
    // a DECIMAL(38,x) FINAL column stringifies differently per engine
    // under the gate's canonicalization ('513.00' vs '513.0')
    QueryDef("q1_pricing_summary", Some(
      "SELECT l_returnflag, l_linestatus, CAST(sum(l_quantity) AS BIGINT) AS sum_qty, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_base_e2, " +
        "CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) * 10000 AS BIGINT) AS sum_disc_e4, " +
        "round(avg(l_quantity),4) AS avg_qty, count(*) AS n " +
        "FROM lineitem GROUP BY 1,2"),
      (s, d) => pricingSummary(s, d)),

    // A1 — the REAL focos_diario_municipio mart-table entry under the gate (round-16:
    // the old row tested an aggregate SHAPE over lineitem; this one runs
    // the actual builder): coalesce(view_ts::date, file_date) day key,
    // null-municipality drop, and the reference's max(area) density
    // denominator (10_focos_diario_municipio.sql:44-47). Density emitted
    // as the exact half-up integer at 1e-4 scale (densityE4 pattern).
    QueryDef("a1_daily_mart", Some(
      s"WITH e AS ($enrProxySql), " +
        "m AS (SELECT coalesce(try_cast(view_ts AS DATE), file_date) AS day, " +
        "mun_cd_mun, mun_nm_mun, mun_uf, max(mun_area_km2) AS mun_area_km2, " +
        "count(*) AS n_focos FROM e WHERE mun_cd_mun IS NOT NULL GROUP BY 1,2,3,4) " +
        "SELECT day, mun_cd_mun, mun_nm_mun, mun_uf, mun_area_km2, " +
        "CAST(n_focos AS BIGINT) AS n_focos, " +
        "(2000000 * n_focos + mun_area_km2) // (2 * mun_area_km2) AS density_e4 " +
        "FROM m ORDER BY day, mun_cd_mun"),
      (s, d) => graft.marts.Marts("focos_diario_municipio")(enrichedProxy(s, d))
        .select(col("day"), col("mun_cd_mun"), col("mun_nm_mun"), col("mun_uf"),
          col("mun_area_km2"), col("n_focos"),
          expr("(2000000 * n_focos + mun_area_km2) div (2 * mun_area_km2)")
            .as("density_e4"))
        .orderBy("day", "mun_cd_mun")),

    // A2 — the REAL focos_mensal_municipio entry (11_focos_mensal_municipio
    // .sql): same semantics with the coalesce day key truncated to month.
    QueryDef("a2_monthly_mart", Some(
      s"WITH e AS ($enrProxySql), " +
        "m AS (SELECT CAST(date_trunc('month', coalesce(try_cast(view_ts AS DATE), file_date)) AS DATE) AS month, " +
        "mun_cd_mun, mun_nm_mun, mun_uf, max(mun_area_km2) AS mun_area_km2, " +
        "count(*) AS n_focos FROM e WHERE mun_cd_mun IS NOT NULL GROUP BY 1,2,3,4) " +
        "SELECT month, mun_cd_mun, mun_nm_mun, mun_uf, mun_area_km2, " +
        "CAST(n_focos AS BIGINT) AS n_focos, " +
        "(2000000 * n_focos + mun_area_km2) // (2 * mun_area_km2) AS density_e4 " +
        "FROM m ORDER BY month, mun_cd_mun"),
      (s, d) => graft.marts.Marts("focos_mensal_municipio")(enrichedProxy(s, d))
        .select(col("month"), col("mun_cd_mun"), col("mun_nm_mun"), col("mun_uf"),
          col("mun_area_km2"), col("n_focos"),
          expr("(2000000 * n_focos + mun_area_km2) div (2 * mun_area_km2)")
            .as("density_e4"))
        .orderBy("month", "mun_cd_mun")),

    // A3 — the REAL focos_diario_uf mart-table entry: day key is
    // coalesce(view_ts::date, file_date) (20_focos_diario_uf.sql:30-43),
    // area joined INNER (UFs without area drop — 'BUILDING' is excluded
    // from the dim to make that drop observable). Density emitted as an
    // exact integer at 1e-4 scale (see densityE4).
    QueryDef("a3_daily_uf", Some(
      s"WITH e AS ($enrProxySql), ua AS (${ufAreaSql(excludeBuilding = true)}), " +
        "m AS (SELECT coalesce(try_cast(view_ts AS DATE), file_date) AS day, " +
        "mun_uf AS uf, count(*) AS n_focos FROM e WHERE mun_uf IS NOT NULL GROUP BY 1,2) " +
        s"SELECT m.day, m.uf, CAST(m.n_focos AS BIGINT) AS n_focos, ua.uf_area_km2, " +
        s"$densityE4Sql AS density_e4 FROM m JOIN ua USING (uf) ORDER BY m.day, m.uf"),
      (s, d) => graft.marts.Marts("focos_diario_uf")(enrichedProxy(s, d),
          graft.marts.Marts.ufAreaRollup(municipiosProxy(s, d))
            .filter(col("uf") =!= "BUILDING"))
        .select(col("day"), col("uf"), col("n_focos"), col("uf_area_km2"),
          expr(densityE4).as("density_e4"))
        .orderBy("day", "uf")),

    // A3 monthly flavor (21_focos_mensal_uf.sql) — same coalesce day key
    // truncated to month.
    QueryDef("a3_monthly_uf", Some(
      s"WITH e AS ($enrProxySql), ua AS (${ufAreaSql(excludeBuilding = true)}), " +
        "m AS (SELECT CAST(date_trunc('month', coalesce(try_cast(view_ts AS DATE), file_date)) AS DATE) AS month, " +
        "mun_uf AS uf, count(*) AS n_focos FROM e WHERE mun_uf IS NOT NULL GROUP BY 1,2) " +
        s"SELECT m.month, m.uf, CAST(m.n_focos AS BIGINT) AS n_focos, ua.uf_area_km2, " +
        s"$densityE4Sql AS density_e4 FROM m JOIN ua USING (uf) ORDER BY m.month, m.uf"),
      (s, d) => graft.marts.Marts("focos_mensal_uf")(enrichedProxy(s, d),
          graft.marts.Marts.ufAreaRollup(municipiosProxy(s, d))
            .filter(col("uf") =!= "BUILDING"))
        .select(col("month"), col("uf"), col("n_focos"), col("uf_area_km2"),
          expr(densityE4).as("density_e4"))
        .orderBy("month", "uf")),

    // A4 — biome daily mart: keyed on RAW file_date, NOT the coalesce key
    // (40_focos_diario_bioma.sql:20-30) — the §7.5 semantic trap this row
    // exists to pin. Label via max() as in the reference.
    QueryDef("a4_daily_bioma", Some(
      s"WITH e AS ($enrProxySql) " +
        "SELECT file_date AS day, cd_bioma, max(bioma) AS bioma, " +
        "CAST(count(*) AS INT) AS focos FROM e WHERE cd_bioma IS NOT NULL " +
        "GROUP BY 1,2 ORDER BY 1,2"),
      (s, d) => graft.marts.Marts("focos_diario_bioma")(enrichedProxy(s, d))
        .orderBy("day", "cd_bioma")),

    // A4 monthly (41_*.sql — still file_date-keyed).
    QueryDef("a4_monthly_bioma", Some(
      s"WITH e AS ($enrProxySql) " +
        "SELECT CAST(date_trunc('month', file_date) AS DATE) AS month, cd_bioma, " +
        "max(bioma) AS bioma, CAST(count(*) AS INT) AS focos FROM e " +
        "WHERE cd_bioma IS NOT NULL GROUP BY 1,2 ORDER BY 1,2"),
      (s, d) => graft.marts.Marts("focos_mensal_bioma")(enrichedProxy(s, d))
        .orderBy("month", "cd_bioma")),

    // A5 — UC daily mart (50_focos_diario_uc.sql): biome shape, file_date
    // key, rows outside any UC (null key) dropped.
    QueryDef("a5_daily_uc", Some(
      s"WITH e AS ($enrProxySql) " +
        "SELECT file_date AS day, cd_cnuc, max(uc_nome) AS uc_nome, " +
        "CAST(count(*) AS INT) AS focos FROM e WHERE cd_cnuc IS NOT NULL " +
        "GROUP BY 1,2 ORDER BY 1,2"),
      (s, d) => graft.marts.Marts("focos_diario_uc")(enrichedProxy(s, d))
        .orderBy("day", "cd_cnuc")),

    // A5 monthly (51_focos_mensal_uc.sql:24-35): same shared keyed-count
    // builder, file_date month key — oracle row closes the UC family 2/2.
    QueryDef("a5_monthly_uc", Some(
      s"WITH e AS ($enrProxySql) " +
        "SELECT CAST(date_trunc('month', file_date) AS DATE) AS month, cd_cnuc, " +
        "max(uc_nome) AS uc_nome, CAST(count(*) AS INT) AS focos FROM e " +
        "WHERE cd_cnuc IS NOT NULL GROUP BY 1,2 ORDER BY 1,2"),
      (s, d) => graft.marts.Marts("focos_mensal_uc")(enrichedProxy(s, d))
        .orderBy("month", "cd_cnuc")),

    // A6 — TI monthly mart (61_focos_mensal_ti.sql): file_date month key.
    QueryDef("a6_monthly_ti", Some(
      s"WITH e AS ($enrProxySql) " +
        "SELECT CAST(date_trunc('month', file_date) AS DATE) AS month, terrai_cod, " +
        "max(ti_nome) AS ti_nome, CAST(count(*) AS INT) AS focos FROM e " +
        "WHERE terrai_cod IS NOT NULL GROUP BY 1,2 ORDER BY 1,2"),
      (s, d) => graft.marts.Marts("focos_mensal_ti")(enrichedProxy(s, d))
        .orderBy("month", "terrai_cod")),

    // A6 daily (60_focos_diario_ti.sql:20-31): raw file_date key — oracle
    // row closes the TI family 2/2 (the round-5 day-key-trap lesson:
    // shared code paths stay honest only when each variant has its own
    // oracle pin).
    QueryDef("a6_daily_ti", Some(
      s"WITH e AS ($enrProxySql) " +
        "SELECT file_date AS day, terrai_cod, max(ti_nome) AS ti_nome, " +
        "CAST(count(*) AS INT) AS focos FROM e WHERE terrai_cod IS NOT NULL " +
        "GROUP BY 1,2 ORDER BY 1,2"),
      (s, d) => graft.marts.Marts("focos_diario_ti")(enrichedProxy(s, d))
        .orderBy("day", "terrai_cod")),

    // A9 — UF area rollup (sql/ref/05_ref_uf_area.sql:10-18): the dim-side
    // aggregate the UF marts join against.
    QueryDef("a9_uf_area", Some(
      ufAreaSql(excludeBuilding = false) + " ORDER BY 1"),
      (s, d) => graft.marts.Marts.ufAreaRollup(municipiosProxy(s, d))
        .orderBy("uf")),

    QueryDef("a8_fact_cube", Some(
      "SELECT CAST(l.l_shipdate AS DATE) AS day, l.l_returnflag, l.l_linestatus, " +
        "o.o_orderpriority, count(*) AS n_focos " +
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey " +
        "GROUP BY 1,2,3,4"),
      (s, d) => T(s, d, "lineitem")
        .join(T(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_shipdate").cast("date").as("day"), col("l_returnflag"),
          col("l_linestatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_focos"))),

    // Per-column data-quality profile of an arbitrary table (orders): one
    // wide aggregate (Expand + single shuffle) computing rows/nulls/exact
    // distincts for every column at once, unpivoted via stack.
    QueryDef("profile_table", Some {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      cols.map(c =>
        s"SELECT '$c' AS col_name, count(*) AS n_rows, " +
          s"count(*) FILTER (WHERE $c IS NULL) AS n_nulls, " +
          s"count(DISTINCT $c) AS n_distinct FROM orders")
        .mkString("", " UNION ALL ", " ORDER BY col_name")
    },
      (s, d) => operators.Profile.profile(T(s, d, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate", "o_orderpriority"))
        .orderBy("col_name")),

    // Pathological-skew aggregation: l_returnflag has 3 values over 600k
    // rows — a direct groupBy sends ~1/3 of the table to each of 3 reducers.
    // The salted two-stage decomposition spreads each hot key over 16
    // reducers and must return EXACTLY the direct result (count/sum are
    // monoids; decimal partials keep the sum split-invariant).
    QueryDef("skew_salted_agg", Some(
      "SELECT l_returnflag, count(*) AS n, CAST(sum(l_quantity) AS BIGINT) AS sum_qty " +
        "FROM lineitem GROUP BY 1 ORDER BY 1"),
      (s, d) => operators.Skew.saltedCountSum(T(s, d, "lineitem"),
          col("l_returnflag"), "l_returnflag", col("l_quantity"), salts = 16)
        .select(col("l_returnflag"), col("n"), col("s").cast("long").as("sum_qty"))
        .orderBy("l_returnflag")),

    // Z-score anomaly scan: top-20 most anomalous event values vs their
    // event-type distribution. Moments are EXACT decimal sums (engine
    // summation order invisible); mean/sd/z then use the identical IEEE
    // expression on both engines; global top-k is a TakeOrdered merge, not
    // a sort. The per-type moment frame broadcasts back onto the stream.
    QueryDef("stats_zscore_outliers", Some(
      "WITH s AS (SELECT event_type, count(*) AS n, " +
        "sum(CAST(value AS DECIMAL(18,9))) AS s1, " +
        "sum(CAST(value AS DECIMAL(18,9)) * CAST(value AS DECIMAL(18,9))) AS s2 " +
        "FROM events GROUP BY 1), " +
        "m AS (SELECT event_type, CAST(s1 AS DOUBLE) / n AS mean, " +
        "sqrt(CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) AS sd FROM s), " +
        "z AS (SELECT e.event_id, e.event_type, e.value, " +
        "round((e.value - m.mean) / m.sd, 4) AS z FROM events e JOIN m USING (event_type) " +
        "WHERE m.sd > 0) " +
        "SELECT event_id, event_type, value, z FROM z ORDER BY abs(z) DESC, event_id LIMIT 20"),
      (s, d) => {
        val ev = T(s, d, "events")
        val vdec = col("value").cast(DecimalType(18, 9))
        val mom = ev.groupBy("event_type").agg(count(lit(1)).as("n"),
          sum(vdec).as("s1"), sum(vdec * vdec).as("s2"))
        val mean = col("s1").cast("double") / col("n")
        val m = mom.select(col("event_type"), mean.as("mean"),
          sqrt(col("s2").cast("double") / col("n") - mean * mean).as("sd"))
        // sd = 0 (singleton / constant group) would put NaN z-scores at the
        // top of the ranking — degenerate groups have no outliers by def
        ev.join(broadcast(m.filter(col("sd") > 0)), "event_type")
          .withColumn("z", round((col("value") - col("mean")) / col("sd"), 4))
          .orderBy(abs(col("z")).desc, col("event_id"))
          .select("event_id", "event_type", "value", "z")
          .limit(20)
      }),

    // Two-sample KS drift audit between the view/purchase value
    // distributions — the shift check a pipeline runs before admitting a
    // new batch. Exact integers end-to-end: 1e-2 value bins (floor, an
    // IEEE-deterministic op both engines share), ONE hash aggregate counts
    // both groups, and the ECDF-gap window runs on the BIN frame
    // (value-range-bounded cardinality — never corpus-sized). The
    // supremum row ships |cumA·nB − cumB·nA| exactly plus the derived
    // 1e-6-unit KS statistic.
    QueryDef("stats_ks_drift", Some(
      "WITH b AS (SELECT CAST(floor(value * 100) AS BIGINT) AS bin, " +
        "CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ia, " +
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ib " +
        "FROM events WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL), " +
        "c AS (SELECT bin, CAST(sum(ia) AS BIGINT) AS ca, CAST(sum(ib) AS BIGINT) AS cb " +
        "FROM b GROUP BY 1), " +
        "w AS (SELECT bin, sum(ca) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING " +
        "AND CURRENT ROW) AS cum_a, sum(cb) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND CURRENT ROW) AS cum_b, sum(ca) OVER () AS n_a, sum(cb) OVER () AS n_b FROM c) " +
        "SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b, " +
        "CAST(abs(cum_a * n_b - cum_b * n_a) AS BIGINT) AS ks_num, bin AS bin_at_max, " +
        "CAST(abs(cum_a * n_b - cum_b * n_a) * 1000000 // (n_a * n_b) AS BIGINT) AS ks_e6, " +
        "n_a > 0 AND n_b > 0 AS valid " +
        "FROM w ORDER BY ks_num DESC, bin_at_max LIMIT 1"),
      (s, d) => operators.Profile.ksDrift(T(s, d, "events"),
          "value", "event_type", "view", "purchase", binsPerUnit = 100)
        .select("n_a", "n_b", "ks_num", "bin_at_max", "ks_e6", "valid")),

    // The MONITOR form of drift: every 6h window of the purchase stream
    // gets an exact-integer L1 (total-variation) distance against the view
    // reference distribution — the dashboard line a pipeline alarms on
    // when an arriving source shifts. Reference-only bins fold in closed
    // form ((refTot − Σ matched ref)·winTot), so no outer join
    // materializes the bin union; after the ONE corpus aggregate to
    // (window, bin) counts, everything runs on that bounded frame.
    QueryDef("stats_drift_windows", Some(
      "WITH r AS (SELECT CAST(floor(value * 10) AS BIGINT) AS bin, count(*) AS ref_n " +
        "FROM events WHERE event_type = 'view' AND value IS NOT NULL GROUP BY 1), " +
        "rt AS (SELECT CAST(sum(ref_n) AS BIGINT) AS ref_tot FROM r), " +
        "w AS (SELECT CAST(floor(epoch(ts)/21600)*21600 AS BIGINT) AS win_start, " +
        "CAST(floor(value * 10) AS BIGINT) AS bin, count(*) AS cnt " +
        "FROM events WHERE event_type = 'purchase' AND value IS NOT NULL GROUP BY 1, 2), " +
        "t AS (SELECT win_start, CAST(sum(cnt) AS BIGINT) AS win_tot FROM w GROUP BY 1), " +
        "j AS (SELECT w.win_start, w.cnt, coalesce(r.ref_n, 0) AS ref_n, t.win_tot, rt.ref_tot " +
        "FROM w LEFT JOIN r USING (bin) JOIN t USING (win_start) CROSS JOIN rt), " +
        "a AS (SELECT win_start, CAST(max(win_tot) AS BIGINT) AS n, " +
        "CAST(max(ref_tot) AS BIGINT) AS rt2, " +
        "CAST(sum(abs(cnt * ref_tot - ref_n * win_tot)) AS BIGINT) AS mabs, " +
        "CAST(sum(ref_n) AS BIGINT) AS mref FROM j GROUP BY 1) " +
        "SELECT win_start, n, CAST(mabs + (rt2 - mref) * n AS BIGINT) AS drift_num, " +
        "CAST((mabs + (rt2 - mref) * n) * 1000000 // (2 * n * rt2) AS BIGINT) AS tv_e6, " +
        "rt2 > 0 AND n > 0 AS valid " +
        "FROM a ORDER BY win_start"),
      (s, d) => {
        val ev = T(s, d, "events")
        operators.Profile.histDriftWindows(
            ev.filter(col("event_type") === "purchase"),
            ev.filter(col("event_type") === "view"),
            "value", "ts", windowSeconds = 21600, binsPerUnit = 10)
          .orderBy("win_start")
      }),

    // Count-min heavy hitters: tokens whose exact corpus count >= 500 next
    // to their CMS estimate (d=4, w=1024, Kirsch–Mitzenmacher buckets over
    // the corpus fingerprint polynomial). The oracle recomputes the SKETCH
    // too, so bucket math, cell sums and the min-estimate all hash-check;
    // `never_undercounts` makes CMS's one-sided error auditable per row.
    QueryDef("stats_heavy_hitters", Some {
      def fnv(e: String): String = fnvPolySql(e)
      "WITH toks AS (SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), " +
        "x -> len(x) > 0)) AS term FROM documents), " +
        "counts AS (SELECT term, CAST(count(*) AS BIGINT) AS exact_cnt FROM toks GROUP BY term), " +
        s"h AS (SELECT term, exact_cnt, ${fnv("term")} AS h1, ${fnv("term || '#'")} AS h2 FROM counts), " +
        "jb AS (SELECT term, exact_cnt, j, CAST((h1 + j * h2) % 1024 AS BIGINT) AS b " +
        "FROM h CROSS JOIN (SELECT unnest(range(4)) AS j)), " +
        "cells AS (SELECT j, b, CAST(sum(exact_cnt) AS BIGINT) AS cell FROM jb GROUP BY j, b), " +
        "est AS (SELECT c.term, c.exact_cnt, min(cells.cell) AS cms_est FROM jb c " +
        "JOIN cells ON cells.j = c.j AND cells.b = c.b WHERE c.exact_cnt >= 500 GROUP BY 1, 2) " +
        "SELECT term, exact_cnt, CAST(cms_est AS BIGINT) AS cms_est, " +
        "cms_est >= exact_cnt AS never_undercounts FROM est ORDER BY exact_cnt DESC, term"
    },
      (s, d) => operators.Sketches.cmsHeavyHitters(T(s, d, "documents"), "text",
          threshold = 500L, depth = 4, width = 1024)
        .orderBy(col("exact_cnt").desc, col("term"))),

    // HyperLogLog++ distincts per group, certified: the CMS recipe applied
    // to HLL — the sketch estimate folds into a `within_bound` boolean next
    // to the exact count, so the row hash-checks against an exact-side
    // oracle (HLL register noise never reaches the output). ±5% is
    // generous vs relativeSD 0.02; the tighter bound stays in SketchesSpec.
    QueryDef("stats_hll_distinct", Some(
      "SELECT event_type, count(DISTINCT user_id) AS exact_distinct, " +
        "TRUE AS within_bound FROM events GROUP BY 1"),
      (s, d) => operators.Sketches.hllDistinctAudit(
          T(s, d, "events").select("event_type", "user_id"),
          "event_type", "user_id")
        .orderBy("event_type")),

    // EXACT per-group order statistics over a genuinely CONTINUOUS metric
    // (value + event_id/1e7 — unique per row, so no count-frame collapse
    // exists) via Sketches.rankSelect: GK grid brackets + two aggregation
    // passes + a window over only the in-bracket slice, never a per-group
    // full ranking. The 2dp-metric rows (stats_mad_outliers / winsorize)
    // use the count-frame collapse instead; this row pins the
    // continuous-values path under the gate. Selection returns actual data
    // values and both engines derive the metric with the identical double
    // expression, so the quantiles hash-check with no rounding.
    QueryDef("stats_exact_quantiles_continuous", Some(
      "WITH ev AS (SELECT event_type, value + event_id / 10000000.0 AS v FROM events), " +
        "g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ev GROUP BY 1), " +
        "r AS (SELECT event_type, v, row_number() OVER " +
        "(PARTITION BY event_type ORDER BY v) AS rn FROM ev) " +
        "SELECT r.event_type, " +
        "max(CASE WHEN rn = greatest(1, ceil(0.50 * n)) THEN v END) AS q50, " +
        "max(CASE WHEN rn = greatest(1, ceil(0.90 * n)) THEN v END) AS q90, " +
        "max(CASE WHEN rn = greatest(1, ceil(0.99 * n)) THEN v END) AS q99 " +
        "FROM r JOIN g USING (event_type) GROUP BY 1 ORDER BY 1"),
      (s, d) => {
        val ev = CacheRegistry.register(
          fanOut(T(s, d, "events")
            .select(col("event_type"),
              (col("value") + col("event_id") / 10000000.0).as("v")))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        def k(p: Double) = (n: Column) => greatest(lit(1L), ceil(lit(p) * n))
        operators.Sketches.rankSelect(ev, "event_type", col("v"),
            Seq("q50" -> k(0.50), "q90" -> k(0.90), "q99" -> k(0.99)),
            accuracy = 1000)
          .drop("__n")
          .orderBy("event_type")
      }),

    // Greenwald–Khanna approximate quantiles per group, certified: one row
    // per (event_type, p) with the exact interpolated quantile — assembled
    // as vlo + (vhi−vlo)·frac from row_number'd values, the identical IEEE
    // expression on both sides, so no rounding is needed — and a
    // within_bound verdict checking GK's rank guarantee (≤ n/accuracy).
    QueryDef("stats_approx_quantiles", Some(
      "WITH ev AS (SELECT event_type, value AS v FROM events), " +
        "g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ev GROUP BY 1), " +
        "t AS (SELECT event_type, n, p, CAST(n - 1 AS DOUBLE) * p AS idx, " +
        "CAST(floor(CAST(n - 1 AS DOUBLE) * p) AS BIGINT) AS lo, " +
        "CAST(ceil(CAST(n - 1 AS DOUBLE) * p) AS BIGINT) AS hi " +
        "FROM g CROSS JOIN (SELECT unnest([0.5, 0.9, 0.99]) AS p)), " +
        "r AS (SELECT event_type, v, row_number() OVER " +
        "(PARTITION BY event_type ORDER BY v) AS rn FROM ev) " +
        "SELECT t.event_type, t.p, " +
        "max(CASE WHEN rn = lo + 1 THEN v END) + " +
        "(max(CASE WHEN rn = hi + 1 THEN v END) - " +
        "max(CASE WHEN rn = lo + 1 THEN v END)) * (idx - CAST(lo AS DOUBLE)) AS exact_q, " +
        "TRUE AS within_bound " +
        "FROM r JOIN t ON r.event_type = t.event_type " +
        "GROUP BY t.event_type, t.p, t.idx, t.lo"),
      (s, d) => operators.Sketches.approxQuantilesAudit(
          CacheRegistry.register(
            fanOut(T(s, d, "events").select("event_type", "value"))
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)),
          "event_type", "value", Seq(0.5, 0.9, 0.99))
        .orderBy("event_type", "p")),

    QueryDef("a10_coverage_check", Some(
      "SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month, count(*) AS n, " +
        "count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f, " +
        "round(100.0*(count(*) FILTER (WHERE o_orderstatus = 'F'))/count(*), 4) AS pct_f " +
        "FROM orders GROUP BY 1"),
      (s, d) => T(s, d, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
        .agg(count(lit(1)).as("n"),
          count(when(col("o_orderstatus") === "F", 1)).as("n_f"),
          round(lit(100.0) * count(when(col("o_orderstatus") === "F", 1)) / count(lit(1)), 4)
            .as("pct_f"))),

    QueryDef("a11_timeseries_week", Some(
      "SELECT CAST(date_trunc('week', ts) AS DATE) AS week, count(*) AS n, " +
        "round(sum(value), 4) AS total_value FROM events GROUP BY 1"),
      (s, d) => T(s, d, "events")
        .groupBy(date_trunc("week", col("ts")).cast("date").as("week"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total_value"))),

    QueryDef("a12_distinct_days", Some(
      "SELECT DISTINCT CAST(l_shipdate AS DATE) AS day FROM lineitem"),
      (s, d) => T(s, d, "lineitem").select(col("l_shipdate").cast("date").as("day")).distinct()),

    QueryDef("a13_count_distinct", Some(
      "SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n " +
        "FROM events GROUP BY 1"),
      (s, d) => T(s, d, "events").groupBy("event_type")
        .agg(countDistinct("user_id").as("n_users"), count(lit(1)).as("n"))),

    // ----------------------------------------------------------- joins (J*)

    QueryDef("j1_left_anti", Some(
      "SELECT c_custkey, c_name FROM customer " +
        "WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')"),
      (s, d) => T(s, d, "customer")
        .join(T(s, d, "orders").filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")),

    // revenue emitted as BIGINT cents (exact integer, no decimal repr to
    // diverge between engines) and the output totally ordered: the round-2
    // driver hash flagged this query despite cell-exact values.
    QueryDef("j6_dim_rollup", Some(
      "SELECT n.n_name, count(*) AS n_items, CAST(sum(l.l_quantity) AS BIGINT) AS sum_qty, " +
        "CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)))*100 AS BIGINT) AS revenue_cents " +
        "FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey " +
        "JOIN nation n ON s.s_nationkey = n.n_nationkey GROUP BY 1 ORDER BY 1"),
      (s, d) => T(s, d, "lineitem")
        .join(broadcast(T(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(T(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_items"), sum("l_quantity").cast("long").as("sum_qty"),
          (dsum(col("l_extendedprice"), 2) * 100).cast("long").as("revenue_cents"))
        .orderBy("n_name")),

    // same hash-robustness treatment as j6: BIGINT cents + total ORDER BY
    QueryDef("j8_cross_scaffold", Some(
      "WITH months AS (SELECT DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE) AS month FROM orders), " +
        "f AS (SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month, r.r_name, " +
        "count(*) AS n, CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2)))*100 AS BIGINT) AS total_cents " +
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey " +
        "JOIN nation n ON c.c_nationkey = n.n_nationkey " +
        "JOIN region r ON n.n_regionkey = r.r_regionkey GROUP BY 1,2) " +
        "SELECT m.month, r.r_name, coalesce(f.n, 0) AS n, " +
        "coalesce(f.total_cents, 0) AS total_cents " +
        "FROM months m CROSS JOIN region r " +
        "LEFT JOIN f ON f.month = m.month AND f.r_name = r.r_name " +
        "ORDER BY m.month, r.r_name"),
      (s, d) => {
        val o = T(s, d, "orders")
        val months = o.select(date_trunc("month", col("o_orderdate")).cast("date").as("month")).distinct()
        val f = o.join(T(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(T(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(T(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
          .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"), col("r_name"))
          .agg(count(lit(1)).as("n"), (dsum(col("o_totalprice"), 2) * 100).cast("long").as("total_cents"))
        months.crossJoin(broadcast(T(s, d, "region").select("r_name")))
          .join(f, Seq("month", "r_name"), "left")
          .select(col("month"), col("r_name"), coalesce(col("n"), lit(0)).as("n"),
            coalesce(col("total_cents"), lit(0L)).as("total_cents"))
          .orderBy("month", "r_name")
      }),

    // J7 — mart→geometry inner equi join (90_geo_focos_diario_municipio.sql)
    QueryDef("j7_geo_join", Some(
      s"WITH cube AS ($cubeSql), " +
        "mart AS (SELECT day, cd_mun, CAST(sum(n_focos) AS BIGINT) AS n_focos FROM cube " +
        "WHERE day >= DATE '1995-01-01' AND day < DATE '1995-02-01' GROUP BY 1,2), " +
        s"g AS (SELECT n_nationkey AS cd_mun, min_lon, min_lat FROM ($cellsSql)) " +
        "SELECT m.day, m.cd_mun, m.n_focos, g.min_lon, g.min_lat " +
        "FROM mart m JOIN g USING (cd_mun) ORDER BY m.day, m.cd_mun"),
      (s, d) => {
        val mart = choroCube(s, d)
          .filter(col("day") >= lit("1995-01-01") && col("day") < lit("1995-02-01"))
          .groupBy("day", "cd_mun").agg(sum("n_focos").as("n_focos"))
        val geomDim = cells(s, d)
          .select(col("n_nationkey").as("cd_mun"), col("min_lon"), col("min_lat"))
        graft.marts.Marts.geoFocosDiario(mart, geomDim, "cd_mun")
          .select("day", "cd_mun", "n_focos", "min_lon", "min_lat")
          .orderBy("day", "cd_mun")
      }),

    QueryDef("j9_zero_fill", Some(
      "SELECT n.n_name, coalesce(s.cnt, 0) AS n_suppliers FROM nation n LEFT JOIN " +
        "(SELECT s_nationkey, count(*) AS cnt FROM supplier GROUP BY 1) s " +
        "ON s.s_nationkey = n.n_nationkey"),
      (s, d) => T(s, d, "nation")
        .join(T(s, d, "supplier").groupBy("s_nationkey").agg(count(lit(1)).as("cnt")),
          col("s_nationkey") === col("n_nationkey"), "left")
        .select(col("n_name"), coalesce(col("cnt"), lit(0)).as("n_suppliers"))),

    QueryDef("j11_stats_peaks", Some(
      "WITH daily AS (SELECT o_orderpriority AS p, CAST(o_orderdate AS DATE) AS day, " +
        "count(*) AS cnt FROM orders GROUP BY 1,2), " +
        "stats AS (SELECT p, CAST(sum(cnt) AS BIGINT) AS n_total, " +
        "round(avg(cnt), 2) AS avg_daily, max(cnt) AS max_daily FROM daily GROUP BY 1), " +
        "peak AS (SELECT p, day, row_number() OVER (PARTITION BY p ORDER BY cnt DESC, day ASC) AS rn FROM daily) " +
        "SELECT s.p AS priority, s.n_total, s.avg_daily, s.max_daily, k.day AS peak_day " +
        "FROM stats s JOIN peak k ON k.p = s.p AND k.rn = 1"),
      (s, d) => {
        val daily = T(s, d, "orders")
          .groupBy(col("o_orderpriority").as("p"), col("o_orderdate").cast("date").as("day"))
          .agg(count(lit(1)).as("cnt"))
        val stats = daily.groupBy("p").agg(
          sum("cnt").cast("long").as("n_total"), round(avg("cnt"), 2).as("avg_daily"),
          max("cnt").as("max_daily"))
        val peak = daily
          .withColumn("rn", row_number().over(
            Window.partitionBy("p").orderBy(col("cnt").desc, col("day").asc)))
          .filter(col("rn") === 1).select(col("p"), col("day").as("peak_day"))
        stats.join(peak, "p").select(col("p").as("priority"), col("n_total"),
          col("avg_daily"), col("max_daily"), col("peak_day"))
      }),

    // W1/W2 driven through the REAL mart function (Marts.focosDiarioUfTrend)
    // over the TPC-H-derived cube. Moving averages are emitted as cents
    // (decimal → BIGINT), with the oracle computing the identical half-up
    // rounding via exact integer math: round2(s/c)·100 = (200·s + c)÷(2·c).
    QueryDef("mart_trend", Some(
      s"WITH cube AS ($cubeSql), " +
        "daily AS (SELECT day, uf, CAST(sum(n_focos) AS BIGINT) AS n_focos FROM cube GROUP BY 1,2), " +
        "w AS (SELECT day, uf, n_focos, " +
        "sum(n_focos) OVER w7 AS s7, count(*) OVER w7 AS c7, " +
        "sum(n_focos) OVER w30 AS s30, count(*) OVER w30 AS c30 FROM daily " +
        "WINDOW w7 AS (PARTITION BY uf ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), " +
        "w30 AS (PARTITION BY uf ORDER BY day ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)) " +
        "SELECT day, uf, n_focos, CAST((200*s7 + c7) // (2*c7) AS BIGINT) AS ma7_cents, " +
        "CAST((200*s30 + c30) // (2*c30) AS BIGINT) AS ma30_cents FROM w ORDER BY uf, day"),
      (s, d) => {
        val daily = choroCube(s, d).groupBy("day", "uf").agg(sum("n_focos").as("n_focos"))
        graft.marts.Marts.focosDiarioUfTrend(daily)
          .select(col("day"), col("uf"), col("n_focos"),
            (col("ma7") * 100).cast("long").as("ma7_cents"),
            (col("ma30") * 100).cast("long").as("ma30_cents"))
          .orderBy("uf", "day")
      }),

    // A7 driven through the REAL mart function (Marts.focosPeriodoUf):
    // period totals + argmax peak day (earliest on ties) + density ratios,
    // decimals emitted as scaled BIGINTs with exact integer-math oracles.
    QueryDef("mart_periodo", Some(
      s"WITH cube AS ($cubeSql), " +
        "daily AS (SELECT day, uf, CAST(sum(n_focos) AS BIGINT) AS n_focos FROM cube GROUP BY 1,2), " +
        "area AS (SELECT r_name AS uf, CAST((r_regionkey + 1) * 1000 AS DOUBLE) AS uf_area_km2 FROM region), " +
        "base AS (SELECT d.day, d.uf, d.n_focos, a.uf_area_km2 FROM daily d JOIN area a USING (uf) " +
        "WHERE d.day BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'), " +
        "stats AS (SELECT uf, max(uf_area_km2) AS uf_area_km2, CAST(sum(n_focos) AS BIGINT) AS n_focos_total, " +
        "CAST(count(*) AS BIGINT) AS days, CAST(max(n_focos) AS BIGINT) AS n_focos_max_daily FROM base GROUP BY 1), " +
        "peak AS (SELECT uf, day, row_number() OVER (PARTITION BY uf ORDER BY n_focos DESC, day ASC) AS rn FROM base) " +
        "SELECT s.uf, s.uf_area_km2, s.n_focos_total, " +
        "CAST((200*s.n_focos_total + s.days) // (2*s.days) AS BIGINT) AS avg_daily_cents, " +
        "s.n_focos_max_daily, k.day AS peak_day, " +
        "DATE '1995-01-01' AS period_start, DATE '1995-12-31' AS period_end, " +
        "CAST((2000*s.n_focos_total + CAST(s.uf_area_km2/1000 AS BIGINT)) // " +
        "(2*CAST(s.uf_area_km2/1000 AS BIGINT)) AS BIGINT) AS focos_100km2_e4 " +
        "FROM stats s JOIN peak k ON k.uf = s.uf AND k.rn = 1 ORDER BY s.uf"),
      (s, d) => {
        val daily = choroCube(s, d).groupBy("day", "uf").agg(sum("n_focos").as("n_focos"))
        val area = T(s, d, "region").select(col("r_name").as("uf"),
          ((col("r_regionkey") + 1) * 1000).cast("double").as("uf_area_km2"))
        graft.marts.Marts.focosPeriodoUf(daily.join(broadcast(area), "uf"),
            java.sql.Date.valueOf("1995-01-01"), java.sql.Date.valueOf("1995-12-31"))
          .select(col("uf"), col("uf_area_km2"),
            col("n_focos_total").cast("long").as("n_focos_total"),
            (col("n_focos_avg_daily") * 100).cast("long").as("avg_daily_cents"),
            col("n_focos_max_daily").cast("long").as("n_focos_max_daily"),
            col("peak_day"), col("period_start"), col("period_end"),
            (col("focos_por_100km2") * 10000).cast("long").as("focos_100km2_e4"))
          .orderBy("uf")
      }),

    QueryDef("j12_scalar_summary", Some(
      "WITH f AS (SELECT * FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-05' " +
        "AND CAST(ts AS DATE) < DATE '2024-01-25'), " +
        "daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS cnt FROM f GROUP BY 1), " +
        "tot AS (SELECT count(*) AS n_events, round(sum(value), 4) AS total_value FROM f), " +
        "peak AS (SELECT day AS peak_day, cnt AS peak_n, " +
        "row_number() OVER (ORDER BY cnt DESC, day ASC) AS rn FROM daily) " +
        "SELECT t.n_events, t.total_value, p.peak_day, p.peak_n FROM tot t " +
        "JOIN peak p ON p.rn = 1"),
      (s, d) => {
        val f = T(s, d, "events")
          .filter(col("ts").cast("date") >= lit("2024-01-05") &&
            col("ts").cast("date") < lit("2024-01-25"))
        val daily = f.groupBy(col("ts").cast("date").as("day")).agg(count(lit(1)).as("cnt"))
        val tot = f.agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("total_value"))
        // single-pass argmax (cnt desc, day asc) — no single-partition
        // global window: maximize (cnt, -epoch(day)) and keep its row
        val peak = daily.agg(
          max_by(struct(col("day"), col("cnt")),
            struct(col("cnt"), to_timestamp(col("day")).cast("long") * -1)).as("pk"))
          .select(col("pk.day").as("peak_day"), col("pk.cnt").as("peak_n"))
        tot.crossJoin(peak)
      }),

    // --------------------------------------------------------- windows (W*)

    QueryDef("w1_ma7", Some(
      "WITH daily AS (SELECT user_id % 10 AS grp, CAST(ts AS DATE) AS day, count(*) AS cnt " +
        "FROM events GROUP BY 1,2) " +
        "SELECT grp, day, cnt, round(avg(cnt) OVER (PARTITION BY grp ORDER BY day " +
        "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS ma7 FROM daily"),
      (s, d) => {
        val daily = T(s, d, "events")
          .groupBy((col("user_id") % 10).as("grp"), col("ts").cast("date").as("day"))
          .agg(count(lit(1)).as("cnt"))
        daily.withColumn("ma7", round(avg("cnt").over(
          Window.partitionBy("grp").orderBy("day").rowsBetween(-6, 0)), 2))
      }),

    QueryDef("w2_ma30", Some(
      "WITH daily AS (SELECT l_returnflag AS rf, CAST(l_shipdate AS DATE) AS day, " +
        "count(*) AS cnt FROM lineitem GROUP BY 1,2) " +
        "SELECT rf, day, cnt, round(avg(cnt) OVER (PARTITION BY rf ORDER BY day " +
        "ROWS BETWEEN 29 PRECEDING AND CURRENT ROW), 2) AS ma30 FROM daily"),
      (s, d) => {
        val daily = T(s, d, "lineitem")
          .groupBy(col("l_returnflag").as("rf"), col("l_shipdate").cast("date").as("day"))
          .agg(count(lit(1)).as("cnt"))
        daily.withColumn("ma30", round(avg("cnt").over(
          Window.partitionBy("rf").orderBy("day").rowsBetween(-29, 0)), 2))
      }),

    QueryDef("w3_argmax_tiebreak", Some(
      "WITH daily AS (SELECT l_returnflag AS rf, CAST(l_shipdate AS DATE) AS day, " +
        "count(*) AS cnt FROM lineitem GROUP BY 1,2) " +
        "SELECT rf, day AS peak_day, cnt FROM (SELECT rf, day, cnt, " +
        "row_number() OVER (PARTITION BY rf ORDER BY cnt DESC, day ASC) AS rn FROM daily) " +
        "WHERE rn = 1"),
      (s, d) => {
        val daily = T(s, d, "lineitem")
          .groupBy(col("l_returnflag").as("rf"), col("l_shipdate").cast("date").as("day"))
          .agg(count(lit(1)).as("cnt"))
        daily.withColumn("rn", row_number().over(
            Window.partitionBy("rf").orderBy(col("cnt").desc, col("day").asc)))
          .filter(col("rn") === 1)
          .select(col("rf"), col("day").as("peak_day"), col("cnt"))
      }),

    QueryDef("w5_latest_per_key", Some(
      "SELECT user_id, event_id, event_type FROM (SELECT user_id, event_id, event_type, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn " +
        "FROM events) WHERE rn = 1"),
      (s, d) => T(s, d, "events")
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)))
        .filter(col("rn") === 1)
        .select("user_id", "event_id", "event_type")),

    // Time-series gap fill (last observation carried forward): the daily
    // per-type metric joined onto a complete day×type scaffold, missing
    // days filled from the most recent observed day — the dashboard/
    // feature-store densification every reporting pipeline needs. Gaps are
    // synthesized CELL-wise ((day-of-month + len(type)) % 3 = 0 drops the
    // whole cell), so ~⅓ of the scaffold is unobserved at ANY scale — a
    // row-sampled gap would close up as the corpus grows and the fill
    // branch would silently stop being exercised. Determinism: the daily
    // value is the (ts, event_id)-max row's value (same pick both
    // engines); micro-rounding happens once, AFTER the fill. Scale shape:
    // one (type, day)-keyed partial agg; the scaffold is bounded
    // (days × types) and the LOCF window partitions by type — key-parallel
    // for real key cardinalities; only the 1-row bounds frame broadcasts.
    QueryDef("ts_fill_forward", Some(
      "WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id, value " +
        "FROM events WHERE value IS NOT NULL " +
        "AND (day(CAST(ts AS DATE)) + len(event_type)) % 3 <> 0), " +
        "dly AS (SELECT event_type, day, value FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY event_type, day " +
        "ORDER BY ts DESC, event_id DESC) AS rn FROM ev) WHERE rn = 1), " +
        "b AS (SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM events), " +
        "days AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM b), " +
        "ty AS (SELECT DISTINCT event_type FROM events), " +
        "sc AS (SELECT event_type, day FROM ty CROSS JOIN days), " +
        "j AS (SELECT sc.event_type, sc.day, dly.value, " +
        "dly.value IS NOT NULL AS observed FROM sc LEFT JOIN dly USING (event_type, day)), " +
        "f AS (SELECT event_type, day, observed, " +
        "last_value(value IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY day " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv FROM j) " +
        "SELECT event_type, day, observed, " +
        "CAST(round(fv * 1000000) AS BIGINT) AS value_filled_micro " +
        "FROM f ORDER BY event_type, day"),
      (s, d) => {
        val evAll = T(s, d, "events")
        val ev = evAll.filter(col("value").isNotNull)
          .withColumn("day", col("ts").cast("date"))
          .filter((dayofmonth(col("day")) + length(col("event_type"))) % 3 =!= 0)
        val daily = ev.groupBy("event_type", "day")
          .agg(max_by(col("value"), struct(col("ts"), col("event_id"))).as("v"))
        val days = evAll
          .agg(min(col("ts").cast("date")).as("d0"), max(col("ts").cast("date")).as("d1"))
          .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
        val scaffold = evAll.select("event_type").distinct()
          .crossJoin(broadcast(days))
        val w = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        scaffold.join(daily, Seq("event_type", "day"), "left")
          .withColumn("observed", col("v").isNotNull)
          .withColumn("value_filled_micro",
            round(last(col("v"), ignoreNulls = true).over(w) * 1000000).cast("long"))
          .select("event_type", "day", "observed", "value_filled_micro")
          .orderBy("event_type", "day")
      }),

    // ------------------------------------------------------ sort/limit (T*)

    QueryDef("t1_topn", Some(
      "SELECT o_orderkey, o_totalprice FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20"),
      (s, d) => T(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .select("o_orderkey", "o_totalprice").limit(20)),

    QueryDef("t3_limit_probe", Some(
      "SELECT o_orderkey, o_orderstatus FROM orders ORDER BY o_orderkey LIMIT 101"),
      (s, d) => T(s, d, "orders").orderBy("o_orderkey")
        .select("o_orderkey", "o_orderstatus").limit(101)),

    // --------------------------------------------------------- set ops (U*)

    QueryDef("u1_union_all", Some(
      "SELECT 'orders' AS tbl, count(*) AS n FROM orders " +
        "UNION ALL SELECT 'customer', count(*) FROM customer " +
        "UNION ALL SELECT 'lineitem', count(*) FROM lineitem"),
      (s, d) =>
        T(s, d, "orders").agg(count(lit(1)).as("n")).select(lit("orders").as("tbl"), col("n"))
          .unionAll(T(s, d, "customer").agg(count(lit(1)).as("n"))
            .select(lit("customer").as("tbl"), col("n")))
          .unionAll(T(s, d, "lineitem").agg(count(lit(1)).as("n"))
            .select(lit("lineitem").as("tbl"), col("n")))),

    // ORC source/sink round-trip: the fact slice writes as ORC (Spark's
    // second columnar format — orc-core is a stock Spark dependency, no
    // extra jars) and reads back through the ORC vectorized reader; the
    // aggregate must equal the same aggregate computed off parquet, which
    // is exactly what the oracle does. l_quantity is integer-valued, so
    // the BIGINT casts are exact on both engines.
    QueryDef("ingest_orc_roundtrip", Some(
      "SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(l_quantity) AS BIGINT) AS sum_qty FROM lineitem " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
      (s, d) => {
        val dir = scratchRoot(s) + "/graft_orc_roundtrip_" + d.replaceAll("[^A-Za-z0-9]", "_")
        T(s, d, "lineitem").select("l_returnflag", "l_linestatus", "l_quantity")
          .write.mode("overwrite").orc(dir)
        s.read.orc(dir)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"),
            sum("l_quantity").cast("long").as("sum_qty"))
          .orderBy("l_returnflag", "l_linestatus")
      }),

    // ------------------------------------------- projections / filters (P*)

    QueryDef("p3_locale_cast", Some(
      "SELECT p_partkey, p_partkey || ',' || p_size AS raw, " +
        "CAST(replace(p_partkey || ',' || p_size, ',', '.') AS DOUBLE) AS val FROM part"),
      (s, d) => T(s, d, "part").select(
        col("p_partkey"),
        concat(col("p_partkey").cast("string"), lit(","), col("p_size").cast("string")).as("raw"),
        regexp_replace(
          concat(col("p_partkey").cast("string"), lit(","), col("p_size").cast("string")),
          ",", ".").cast("double").as("val"))),

    // S4+P1+P2+P3+P4+P5+P6 end-to-end through a REAL file: an INPE-shaped
    // daily CSV (';' dialect, BR decimal commas, messy mixed-case headers
    // with padding) is written to local disk, then re-read through the
    // sniffing readCsv + full transform; the oracle recomputes the curated
    // rows from the same integer formulas over `events`. Poison rows pin
    // the drop rules: lat='nan' (P4), lat out of range (P5), null-word
    // satelite / empty bioma (P6). lat encodes event_id uniquely so the P9
    // hash dedup can never fire (it is pinned separately by p8/p9 proxies).
    QueryDef("ingest_csv_roundtrip", Some(
      "WITH e AS (SELECT event_id, ts FROM events WHERE event_id % 10 = 0), " +
        "r AS (SELECT event_id, ts, " +
        "CASE WHEN event_id % 97 = 0 THEN 'nan' WHEN event_id % 89 = 0 THEN '95,00' " +
        "ELSE '-' || (event_id // 10000) || ',' || lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0') END AS lat_raw, " +
        "'-' || (40 + event_id % 30) || ',' || lpad(CAST((event_id*7) % 100 AS VARCHAR), 2, '0') AS lon_raw FROM e) " +
        "SELECT CAST(replace(lat_raw, ',', '.') AS DOUBLE) AS lat, " +
        "CAST(replace(lon_raw, ',', '.') AS DOUBLE) AS lon, " +
        "strftime(ts, '%Y-%m-%d %H:%M:%S') AS view_ts, " +
        "CASE WHEN event_id % 11 = 0 THEN NULL ELSE 'AQUA_M-T' END AS satelite, " +
        "'MUN ' || event_id AS municipio, 'UF' || (event_id % 27) AS uf, " +
        "CASE WHEN event_id % 5 = 0 THEN NULL ELSE 'BIOMA ' || (event_id % 6) END AS bioma, " +
        "DATE '2024-01-15' AS file_date " +
        "FROM r WHERE event_id % 97 <> 0 AND event_id % 89 <> 0"),
      (s, d) => {
        val dir = scratchRoot(s) + "/graft_csv_roundtrip_" + d.replaceAll("[^A-Za-z0-9]", "_")
        val raw = T(s, d, "events").filter(col("event_id") % 10 === 0).select(
          when(col("event_id") % 97 === 0, lit("nan"))
            .when(col("event_id") % 89 === 0, lit("95,00"))
            .otherwise(concat(lit("-"), expr("event_id div 10000").cast("string"),
              lit(","), lpad((col("event_id") % 10000).cast("string"), 4, "0")))
            .as(" LATITUDE "),
          concat(lit("-"), (col("event_id") % 30 + 40).cast("string"), lit(","),
            lpad(((col("event_id") * 7) % 100).cast("string"), 2, "0")).as("Longitude"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("Data Hora GMT"),
          when(col("event_id") % 11 === 0, lit("nan")).otherwise(lit("AQUA_M-T")).as("Satelite"),
          concat(lit("MUN "), col("event_id").cast("string")).as("Municipio"),
          concat(lit("UF"), (col("event_id") % 27).cast("string")).as("Estado"),
          when(col("event_id") % 5 === 0, lit(""))
            .otherwise(concat(lit("BIOMA "), (col("event_id") % 6).cast("string"))).as("Bioma"))
        // one file per day is the S-layer's unit of arrival (a daily INPE
        // CSV); coalesce(1) mirrors that — dims-sized data, not a fact path
        raw.coalesce(1).write.mode("overwrite")
          .option("sep", ";").option("header", "true").csv(dir)
        graft.ingest.Ingest.transform(
            graft.ingest.Ingest.readCsv(s, dir), java.sql.Date.valueOf("2024-01-15"))
          .select("lat", "lon", "view_ts", "satelite", "municipio", "uf",
            "bioma", "file_date")
      }),

    // ORC PARTITIONED sink + pruned scan (complements the plain
    // ingest_orc_roundtrip above): the curated slice written as a partitioned ORC table
    // (the other columnar format a lakehouse interops with — Spark-native,
    // no extra dependency) and read back through a partition-pruning +
    // pushed-predicate scan, then aggregated. The oracle recomputes the
    // aggregate from `events` directly, so the compare proves the
    // write→read round-trip is lossless (types, partition-column
    // reconstruction, predicate semantics) — not just that a file
    // appeared. Plan-pinned: the ORC scan prunes to the two selected
    // partitions and pushes the value predicate down.
    QueryDef("ingest_orc_partitioned", Some(
      "SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n, " +
        "CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS sum_milli " +
        "FROM events WHERE value IS NOT NULL " +
        "AND event_type IN ('view', 'purchase') AND round(value * 1000) >= 500 " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
      (s, d) => {
        val dir = scratchDir(s, "graft_orc_partitioned", d)
        T(s, d, "events").filter(col("value").isNotNull)
          .select(col("event_id"),
            round(col("value") * 1000).cast("long").as("value_milli"),
            col("ts").cast("date").as("day"), col("event_type"))
          .write.mode("overwrite").partitionBy("event_type").orc(dir)
        s.read.orc(dir)
          .filter(col("event_type").isin("view", "purchase") &&
            col("value_milli") >= 500)
          .groupBy("event_type", "day")
          .agg(count(lit(1)).as("n"), sum("value_milli").as("sum_milli"))
          .orderBy("event_type", "day")
      }),

    // S1+S2+S3 under the gate: the full source-selection chain through REAL
    // files (reference download_daily_csv, inpe_focos_diario.py:257-311).
    // 60 days of rows split into two monthly archives (Jan carries BR
    // dd/MM/yyyy timestamps, Feb ISO — both regex branches of the S3 date
    // extractor); daily files exist for two probe days only and carry one
    // extra sentinel row, so the row COUNT proves which source was read:
    //  - 2024-01-05 old + daily present → monthly preferred (count=base,
    //    NOT base+1: the retention cutoff really did route around the file)
    //  - 2024-01-06 old + daily absent  → monthly
    //  - 2024-02-10 recent + daily present → daily (count=base+1)
    //  - 2024-02-11 recent + daily absent  → monthly 404-fallback
    QueryDef("source_fallback_chain", Some(
      "WITH probe(idx) AS (VALUES (4), (5), (40), (41)), " +
        "e AS (SELECT CAST(event_id // 10 % 60 AS INT) AS idx FROM events " +
        "WHERE event_id % 10 = 0), " +
        "c AS (SELECT idx, count(*) AS n FROM e WHERE idx IN (4, 5, 40, 41) GROUP BY 1) " +
        "SELECT DATE '2024-01-01' + p.idx AS day, " +
        "CASE WHEN p.idx = 40 THEN 'daily' ELSE 'monthly' END AS source, " +
        "coalesce(c.n, 0) + CASE WHEN p.idx = 40 THEN 1 ELSE 0 END AS n_rows " +
        "FROM probe p LEFT JOIN c USING (idx) ORDER BY day"),
      (s, d) => {
        import s.implicits._
        val dir = scratchDir(s, "graft_source_chain", d)
        val today = java.time.LocalDate.parse("2024-03-01") // cutoff 2024-01-16
        val jan1 = java.time.LocalDate.parse("2024-01-01")
        val rows = T(s, d, "events").filter(col("event_id") % 10 === 0)
          .select(expr("CAST(event_id div 10 % 60 AS INT)").as("idx"),
            col("event_id"))
          .withColumn("day", date_add(lit(java.sql.Date.valueOf(jan1)), col("idx")))
        def writeCsv(df: DataFrame, path: String): Unit =
          df.coalesce(1).write.mode("overwrite")
            .option("sep", ";").option("header", "true").csv(path)
        def stamped(df: DataFrame, fmt: String): DataFrame =
          df.select(concat(date_format(col("day"), fmt), lit(" 00:30:00"))
            .as("Data Hora GMT"), col("event_id").cast("string").as("valor"))
        // the four fixture CSVs are independent writes to distinct paths —
        // §2.6 overlap (each is a coalesce(1) write whose wall is mostly
        // driver commit latency)
        Pipeline.inParallel[Unit](Seq(
          () => writeCsv(stamped(rows.filter(month(col("day")) === 1), "dd/MM/yyyy"),
            s"$dir/monthly_2024-01"),
          () => writeCsv(stamped(rows.filter(month(col("day")) === 2), "yyyy-MM-dd"),
            s"$dir/monthly_2024-02")) ++ Seq(4, 40).map(idx => () => {
            val dayStr = jan1.plusDays(idx.toLong).toString
            writeCsv(stamped(rows.filter(col("idx") === idx), "yyyy-MM-dd")
              .unionByName(Seq(("sentinel", "-1")).toDF("Data Hora GMT", "valor")),
              s"$dir/daily_$dayStr")
          }))
        val daily: java.time.LocalDate => Option[String] = dt =>
          Option(s"$dir/daily_$dt").filter(_ => Seq(4L, 40L).contains(
            java.time.temporal.ChronoUnit.DAYS.between(jan1, dt)))
        val monthly: java.time.YearMonth => Option[String] =
          ym => Some(s"$dir/monthly_$ym")
        // 4 bounded driver-side resolves: each models one ARRIVING day — the
        // production unit of work — not a distributed scan. The four days
        // are independent (distinct sources, read-only against the fixture
        // dirs), so they run overlapped too (§2.6).
        Pipeline.inParallel(Seq(4, 5, 40, 41).map(idx => () => {
          val dt = jan1.plusDays(idx.toLong)
          val r = graft.sources.Sources.resolveDaily(s, dt, daily, monthly, today)
          (java.sql.Date.valueOf(dt), r.source.split(":")(0), r.df.count())
        })).toDF("day", "source", "n_rows").orderBy("day")
      }),

    // The JSONL corpus source under the gate: a REAL .jsonl file with
    // planted malformed lines (every 97th slot) is read back through
    // readJsonl's PERMISSIVE + _corrupt_record path. Clean rows must parse
    // with exact field values (id sum), corrupt lines must be quarantined
    // VERBATIM (their ids are re-extracted from the raw lines — a reader
    // that dropped or truncated them could not reproduce the sum).
    QueryDef("ingest_jsonl_quarantine", Some(
      "WITH e AS (SELECT event_id FROM events WHERE event_id % 10 = 0) " +
        "SELECT CAST(sum(CASE WHEN event_id % 97 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean, " +
        "CAST(sum(CASE WHEN event_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt, " +
        "CAST(sum(CASE WHEN event_id % 97 <> 0 THEN event_id END) AS BIGINT) AS sum_id_clean, " +
        "CAST(coalesce(sum(CASE WHEN event_id % 97 = 0 THEN event_id END), 0) AS BIGINT) AS sum_id_corrupt " +
        "FROM e"),
      (s, d) => {
        val dir = scratchDir(s, "graft_jsonl_q", d)
        val ev = T(s, d, "events").filter(col("event_id") % 10 === 0)
        ev.select(
            when(col("event_id") % 97 === 0,
              concat(lit("NOT{JSON line for id "), col("event_id").cast("string")))
            .otherwise(to_json(struct(col("event_id"), col("event_type"))))
            .as("value"))
          .coalesce(1).write.mode("overwrite").text(s"$dir/docs.jsonl")
        val r = graft.sources.Sources.readJsonl(s, s"$dir/docs.jsonl",
          StructType(Seq(
            StructField("event_id", LongType),
            StructField("event_type", StringType))))
        val clean = r.clean.agg(
          count(lit(1)).as("n_clean"),
          sum("event_id").as("sum_id_clean"))
        val corrupt = r.corrupt.agg(
          count(lit(1)).as("n_corrupt"),
          coalesce(sum(regexp_extract(col("raw_line"), "([0-9]+)$", 1)
            .cast("long")), lit(0L)).as("sum_id_corrupt"))
        clean.crossJoin(corrupt)
          .select("n_clean", "n_corrupt", "sum_id_clean", "sum_id_corrupt")
      }),

    // S1 under the gate: the download cache's skip-if-present contract
    // (reference "extract cache hit", inpe_focos_diario.py:224-233). A
    // counting fetcher serves a CSV built from one day's events slice: the
    // first call fetches, the second must hit the cache (fetch count stays
    // 1), force=true refetches, and a None fetcher (HTTP 404) resolves to
    // nothing without touching the cache. n_rows reads the cached file
    // back through the sniffing CSV reader, so the byte round-trip is
    // checked too. The tiny collect models the DOWNLOAD seam — inherently
    // driver-side, bounded by one day's file.
    QueryDef("source_cache_fetch", Some(
      "WITH e AS (SELECT count(*) AS n FROM events " +
        "WHERE event_id % 10 = 0 AND event_id // 10 % 60 = 4) " +
        "SELECT CAST(n AS BIGINT) AS n_rows, CAST(2 AS BIGINT) AS n_fetches, " +
        "CAST(1 AS BIGINT) AS n_404_probes, true AS second_call_hit FROM e"),
      (s, d) => {
        import s.implicits._
        val dir = scratchDir(s, "graft_source_cache", d)
        val cache = java.nio.file.Paths.get(dir, "cache")
        val ids = T(s, d, "events")
          .filter(col("event_id") % 10 === 0 && expr("event_id div 10 % 60") === 4)
          .select("event_id").orderBy("event_id").collect().map(_.getLong(0))
        val csv = ("valor" +: ids.map(_.toString)).mkString("\n").getBytes("UTF-8")
        var nFetch = 0L
        val fetch = () => { nFetch += 1; Some(csv) }
        val p1 = graft.sources.Sources.cachedFetch(cache, "d.csv", fetch)
        val p2 = graft.sources.Sources.cachedFetch(cache, "d.csv", fetch)
        val secondHit = p2.isDefined && nFetch == 1
        graft.sources.Sources.cachedFetch(cache, "d.csv", fetch, force = true)
        var n404 = 0L
        val gone = graft.sources.Sources.cachedFetch(cache, "missing.csv",
          () => { n404 += 1; None })
        val nRows = graft.ingest.Ingest.readCsv(s, p1.get.toString).count()
        Seq((nRows, nFetch, n404, secondHit && gone.isEmpty))
          .toDF("n_rows", "n_fetches", "n_404_probes", "second_call_hit")
      }),

    // S6 under the gate: the candidate-column dimension normalizer
    // (reference 00_build_ref_core.sql:88-122). A messy UC-shaped source is
    // synthesized from `nation`: the preferred code column exists but is
    // BLANK for ⅓ of rows (must fall through to uc_id), the preferred name
    // is NULL for ¼ (falls through to `name`), values carry padding, and
    // the geometry hides under the fallback name `geometry`. The oracle
    // replays coalesce(nullif(trim(..))) + the code-ordered surrogate id.
    QueryDef("dim_normalize_uc", Some(
      "WITH src AS (SELECT n_nationkey, " +
        "CASE WHEN n_nationkey % 3 = 0 THEN '  ' ELSE 'C' || lpad(CAST(n_nationkey AS VARCHAR), 3, '0') END AS cd_cnuc, " +
        "'U' || CAST(n_nationkey AS VARCHAR) AS uc_id, " +
        "CASE WHEN n_nationkey % 4 = 0 THEN NULL ELSE '  ' || n_name || '  ' END AS nome_uc, " +
        "n_name || '_ALT' AS name, 'G' || CAST(n_nationkey AS VARCHAR) AS geometry FROM nation), " +
        "norm AS (SELECT coalesce(nullif(trim(cd_cnuc), ''), nullif(trim(uc_id), '')) AS code, " +
        "coalesce(nullif(trim(nome_uc), ''), nullif(trim(name), '')) AS name, geometry AS geom FROM src) " +
        "SELECT code, name, geom, CAST(row_number() OVER (ORDER BY code) AS INT) AS dim_id " +
        "FROM norm ORDER BY code"),
      (s, d) => {
        val src = T(s, d, "nation").select(
          when(col("n_nationkey") % 3 === 0, "  ")
            .otherwise(concat(lit("C"), lpad(col("n_nationkey").cast("string"), 3, "0")))
            .as("cd_cnuc"),
          concat(lit("U"), col("n_nationkey").cast("string")).as("uc_id"),
          when(col("n_nationkey") % 4 === 0, lit(null).cast("string"))
            .otherwise(concat(lit("  "), col("n_name"), lit("  "))).as("nome_uc"),
          concat(col("n_name"), lit("_ALT")).as("name"),
          concat(lit("G"), col("n_nationkey").cast("string")).as("geometry"))
        graft.sources.DimNormalizer.normalizeUc(src)
          .select("code", "name", "geom", "dim_id")
          .orderBy("code")
      }),

    // S5 under the gate: the GeoJSON FeatureCollection dimension reader
    // (the engine contract for the reference's ogr2ogr'd shapefiles,
    // SURVEY §2.1). A real .geojson file is WRITTEN from nation arithmetic
    // — alternating Polygon (promoted to 1-part multipolygon; every 4th
    // carries a hole ring) and 2-part MultiPolygon features, with the
    // `name` property MISSING on every 5th feature (property-union null
    // preservation) — then parsed back; part/ring counts and the bbox
    // columns have closed forms. Coordinates use binary-exact fractions
    // (.5/.25/.125) so JSON parse and SQL arithmetic yield identical
    // doubles.
    QueryDef("geojson_dim_source", Some(
      "SELECT 'M' || CAST(n_nationkey AS VARCHAR) AS cd_mun, " +
        "CASE WHEN n_nationkey % 5 = 0 THEN NULL ELSE 'Mun ' || CAST(n_nationkey AS VARCHAR) END AS name, " +
        "CAST(CASE WHEN n_nationkey % 2 = 0 THEN 1 ELSE 2 END AS INT) AS n_parts, " +
        "CAST(CASE WHEN n_nationkey % 4 = 0 THEN 2 WHEN n_nationkey % 2 = 0 THEN 1 ELSE 2 END AS INT) AS n_rings, " +
        "CAST(n_nationkey AS DOUBLE) AS min_lon, CAST(0 AS DOUBLE) AS min_lat, " +
        "CAST(n_nationkey AS DOUBLE) + CASE WHEN n_nationkey % 2 = 0 THEN 0.5 ELSE 1.25 END AS max_lon, " +
        "CASE WHEN n_nationkey % 2 = 0 THEN 0.5 ELSE 1.25 END AS max_lat " +
        "FROM nation ORDER BY cd_mun"),
      (s, d) => {
        val dir = scratchDir(s, "graft_geojson_src", d)
        // dim-file builds are inherently driver-side (the reference runs
        // ogr2ogr on a downloaded zip); nation is 25 rows
        val keys = T(s, d, "nation").select("n_nationkey")
          .orderBy("n_nationkey").collect()
          .map(_.get(0).asInstanceOf[Number].longValue())
        def sq(x0: Double, y0: Double, side: Double): String = {
          val (x1, y1) = (x0 + side, y0 + side)
          s"[[$x0,$y0],[$x1,$y0],[$x1,$y1],[$x0,$y1],[$x0,$y0]]"
        }
        val feats = keys.map { k =>
          val props =
            if (k % 5 == 0) s"""{"cd_mun":"M$k"}"""
            else s"""{"cd_mun":"M$k","name":"Mun $k"}"""
          val geom =
            if (k % 2 == 0) {
              val rings =
                if (k % 4 == 0) s"[${sq(k.toDouble, 0.0, 0.5)},${sq(k + 0.125, 0.125, 0.125)}]"
                else s"[${sq(k.toDouble, 0.0, 0.5)}]"
              s"""{"type":"Polygon","coordinates":$rings}"""
            } else
              s"""{"type":"MultiPolygon","coordinates":[[${sq(k.toDouble, 0.0, 0.5)}],[${sq(k + 1.0, 1.0, 0.25)}]]}"""
          s"""{"type":"Feature","properties":$props,"geometry":$geom}"""
        }
        val file = java.nio.file.Paths.get(dir, "dims.geojson")
        java.nio.file.Files.createDirectories(file.getParent)
        java.nio.file.Files.writeString(file,
          s"""{"type":"FeatureCollection","features":[${feats.mkString(",")}]}""")
        graft.sources.GeoJsonDims.readFeatureCollection(s, file.toString)
          .select(col("cd_mun"), col("name"),
            size(col("geom")).as("n_parts"),
            expr("aggregate(geom, 0, (a, p) -> a + size(p))").as("n_rings"),
            col("min_lon"), col("min_lat"), col("max_lon"), col("max_lat"))
          .orderBy("cd_mun")
      }),

    // §2.8 mojibake repair under the gate (reference api/app/main.py:
    // 628-657): clean labels are double-encoded DRIVER-SIDE into their
    // utf8-read-as-latin1 mojibake form ('São'→'SÃ£o'), crossed onto
    // `nation` rows, and the engine must recover the ORIGINAL string —
    // which is exactly what the oracle emits closed-form, so the repair
    // can't be trivially self-consistent. Pool covers: repairable BR
    // accents, an unrepairable lone 'Â' (invalid utf-8 → must stay
    // as-is), and a plain ascii pass-through (suspicion gate must not
    // touch it).
    QueryDef("serve_label_repair", Some(
      "SELECT n_nationkey, CASE n_nationkey % 6 " +
        "WHEN 0 THEN 'São Paulo' WHEN 1 THEN 'Paraná' WHEN 2 THEN 'Rondônia' " +
        "WHEN 3 THEN 'coração' WHEN 4 THEN 'Â' ELSE 'Plain Label' END AS label " +
        "FROM nation ORDER BY n_nationkey"),
      (s, d) => {
        val pool = Seq("São Paulo", "Paraná", "Rondônia", "coração", "Â", "Plain Label")
        def garble(x: String): String =
          new String(x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            java.nio.charset.StandardCharsets.ISO_8859_1)
        // 'Â' garbles to 'Ã' whose utf8 re-read is valid ('Â') — to
        // pin the KEEP-ORIGINAL branch it must arrive ungarbled (a lone
        // 0xC2 byte is an invalid utf-8 run, so repair is rejected);
        // 'Plain Label' is not suspicious and must pass through untouched
        val raw = pool.zipWithIndex.map { case (p, i) =>
          if (i == 4 || i == 5) p else garble(p)
        }
        val labelRaw = raw.zipWithIndex.foldLeft(lit(null).cast("string")) {
          case (acc, (r, i)) => when(col("n_nationkey") % 6 === i, lit(r)).otherwise(acc)
        }
        T(s, d, "nation").select(col("n_nationkey"),
          TextFunctions.cleanLabelUdf(labelRaw).as("label"))
          .orderBy("n_nationkey")
      }),

    QueryDef("p6_value_clean", Some(
      "WITH t AS (SELECT p_partkey, CASE WHEN p_partkey % 5 = 0 THEN 'nan' " +
        "WHEN p_partkey % 7 = 0 THEN '  ' WHEN p_partkey % 3 = 0 THEN 'NULL' " +
        "ELSE p_brand END AS dirty FROM part) " +
        "SELECT p_partkey, dirty, CASE WHEN trim(dirty) = '' THEN NULL " +
        "WHEN lower(trim(dirty)) IN ('nan','na','null','none') THEN NULL " +
        "ELSE trim(dirty) END AS cleaned FROM t"),
      (s, d) => {
        val dirty = when(col("p_partkey") % 5 === 0, "nan")
          .when(col("p_partkey") % 7 === 0, "  ")
          .when(col("p_partkey") % 3 === 0, "NULL")
          .otherwise(col("p_brand"))
        T(s, d, "part").select(col("p_partkey"), dirty.as("dirty"))
          .withColumn("cleaned",
            when(trim(col("dirty")) === "", null)
              .when(lower(trim(col("dirty"))).isin("nan", "na", "null", "none"), null)
              .otherwise(trim(col("dirty"))))
      }),

    QueryDef("p7_props_json", Some(
      "SELECT o_orderkey, to_json(struct_pack(o_orderkey := o_orderkey, " +
        "o_orderstatus := o_orderstatus)) AS props FROM orders"),
      (s, d) => T(s, d, "orders").select(col("o_orderkey"),
        to_json(struct(col("o_orderkey"), col("o_orderstatus"))).as("props"))),

    QueryDef("p8_event_hash", Some(
      "WITH t AS (SELECT event_id, strftime(ts, '%Y-%m-%d') AS fd, " +
        "((user_id % 1700)/10.0 - 85.0) AS lat, (((user_id*7) % 3600)/10.0 - 180.0) AS lon, " +
        "strftime(ts, '%Y-%m-%d %H:%M:%S') AS vts, event_type AS sat FROM events) " +
        "SELECT event_id, md5('{\"file_date\": \"' || fd || '\", \"lat\": ' || printf('%.1f', lat) || " +
        "', \"lon\": ' || printf('%.1f', lon) || ', \"view_ts\": \"' || vts || " +
        "'\", \"satelite\": \"' || sat || '\"}') AS event_hash FROM t"),
      (s, d) => T(s, d, "events").select(
        col("event_id"),
        HashFunctions.eventHashUdf(
          date_format(col("ts"), "yyyy-MM-dd"),
          (col("user_id") % 1700) / 10.0 - 85.0,
          (col("user_id") * 7 % 3600) / 10.0 - 180.0,
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"),
          col("event_type")).as("event_hash"))),

    QueryDef("p10_filter_norm", Some(
      "SELECT c_custkey, CASE WHEN trim(upper('  ' || c_mktsegment || ' ')) = '' THEN NULL " +
        "ELSE trim(upper('  ' || c_mktsegment || ' ')) END AS segment FROM customer"),
      (s, d) => {
        val padded = concat(lit("  "), col("c_mktsegment"), lit(" "))
        val norm = trim(upper(padded))
        T(s, d, "customer").select(col("c_custkey"),
          when(norm === "", null).otherwise(norm).as("segment"))
      }),

    QueryDef("p11_api_where", Some(
      "SELECT event_id, user_id, value FROM events " +
        "WHERE CAST(ts AS DATE) >= DATE '2024-01-10' AND CAST(ts AS DATE) < DATE '2024-01-20' " +
        "AND (event_type = 'click' OR upper(event_type) = 'CLICK')"),
      (s, d) => T(s, d, "events").filter(
        col("ts").cast("date") >= lit("2024-01-10") &&
          col("ts").cast("date") < lit("2024-01-20") &&
          (col("event_type") === "click" || upper(col("event_type")) === "CLICK"))
        .select("event_id", "user_id", "value")),

    QueryDef("p12_bbox_filter", Some(
      s"WITH p AS ($ptsSql) SELECT c_custkey, lon, lat FROM p " +
        "WHERE lon >= -50 AND lon <= 50 AND lat >= -20 AND lat <= 20"),
      (s, d) => points(s, d).filter(
        col("lon") >= -50 && col("lon") <= 50 && col("lat") >= -20 && col("lat") <= 20)),

    // ------------------------------------------------------ scalar families

    QueryDef("scalar_string_funcs", Some(
      "SELECT c_custkey, split_part(c_name, '#', 2) AS id_part, " +
        "upper(c_mktsegment) AS seg_upper, " +
        "coalesce(CASE WHEN c_mktsegment = 'BUILDING' THEN NULL ELSE c_mktsegment END, 'OTHER') AS seg_or_other, " +
        "length(c_name) AS name_len FROM customer"),
      (s, d) => T(s, d, "customer").select(
        col("c_custkey"),
        expr("split_part(c_name, '#', 2)").as("id_part"),
        upper(col("c_mktsegment")).as("seg_upper"),
        coalesce(when(col("c_mktsegment") === "BUILDING", null).otherwise(col("c_mktsegment")),
          lit("OTHER")).as("seg_or_other"),
        length(col("c_name")).as("name_len"))),

    QueryDef("scalar_date_funcs", Some(
      "SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od, " +
        "try_cast(CASE WHEN o_orderkey % 3 = 0 THEN 'not-a-date' ELSE '2024-01-15' END AS DATE) AS parsed, " +
        "datediff('day', CAST(o_orderdate AS DATE), DATE '2001-12-31') AS days_to_end, " +
        "CAST(CAST(o_orderdate AS DATE) - INTERVAL 30 DAY AS DATE) AS od_minus_30, " +
        "greatest(o_orderkey % 7, 3) AS g FROM orders"),
      (s, d) => T(s, d, "orders").select(
        col("o_orderkey"),
        col("o_orderdate").cast("date").as("od"),
        to_date(when(col("o_orderkey") % 3 === 0, "not-a-date").otherwise("2024-01-15"))
          .as("parsed"),
        datediff(lit("2001-12-31").cast("date"), col("o_orderdate").cast("date"))
          .as("days_to_end"),
        date_sub(col("o_orderdate").cast("date"), 30).as("od_minus_30"),
        greatest(col("o_orderkey") % 7, lit(3)).as("g"))),

    QueryDef("scalar_json_funcs", Some(
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events"),
      (s, d) => T(s, d, "events").select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))),

    // -------------------------------------------------------- geospatial

    QueryDef("geo_bbox", Some(
      s"WITH c AS ($cellsSql) SELECT n_nationkey, min_lon AS bb_min_lon, " +
        "min_lat AS bb_min_lat, max_lon AS bb_max_lon, max_lat AS bb_max_lat FROM c"),
      (s, d) => {
        val g = cells(s, d).withColumn("geom", rectGeom)
          .withColumn("bb", GeoFunctions.bboxUdf(col("geom")))
        g.select(col("n_nationkey"),
          col("bb._1").as("bb_min_lon"), col("bb._2").as("bb_min_lat"),
          col("bb._3").as("bb_max_lon"), col("bb._4").as("bb_max_lat"))
      }),

    QueryDef("j2_pip_join", Some(
      s"WITH p AS ($ptsSql), c AS ($cellsSql) " +
        "SELECT p.c_custkey, p.lon, p.lat, c.n_name FROM p LEFT JOIN c " +
        "ON p.lon > c.min_lon AND p.lon < c.max_lon AND p.lat > c.min_lat AND p.lat < c.max_lat"),
      // the engine's own PIP join (inclusive bbox); the .x5-offset points
      // never touch a cell border, so the oracle's strict bbox agrees
      (s, d) => Enrich.pipJoin(points(s, d), cells(s, d).withColumn("geom", rectGeom))
        .select("c_custkey", "lon", "lat", "n_name")),

    QueryDef("j3_knn_join", Some(
      s"WITH p AS ($ptsSql), c AS ($cellsSql), " +
        "ctr AS (SELECT n_nationkey, n_name, min_lon + 36.0 AS clon, min_lat + 17.0 AS clat FROM c), " +
        "dist AS (SELECT p.c_custkey, ctr.n_name, ctr.n_nationkey, " +
        "2*6371000.0*asin(least(1.0, sqrt(" +
        "pow(sin((ctr.clat - p.lat)/180.0*pi()/2), 2) + " +
        "cos(p.lat/180.0*pi())*cos(ctr.clat/180.0*pi())*pow(sin((ctr.clon - p.lon)/180.0*pi()/2), 2)" +
        "))) AS d FROM p CROSS JOIN ctr) " +
        "SELECT c_custkey, n_name, round(d, 0) AS dist_m FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY d ASC, n_nationkey ASC) AS rn FROM dist) " +
        "WHERE rn = 1 AND d <= 3000000"),
      (s, d) => {
        val ctr = cells(s, d).select(col("n_nationkey"), col("n_name"),
          (col("min_lon") + 36.0).as("clon"), (col("min_lat") + 17.0).as("clat"))
        points(s, d).crossJoin(broadcast(ctr))
          .withColumn("d", GeoFunctions.haversineMeters(
            col("lon"), col("lat"), col("clon"), col("clat")))
          .withColumn("rn", row_number().over(
            Window.partitionBy("c_custkey").orderBy(col("d").asc, col("n_nationkey").asc)))
          .filter(col("rn") === 1 && col("d") <= 3000000)
          .select(col("c_custkey"), col("n_name"), round(col("d"), 0).as("dist_m"))
      }),

    QueryDef("j4_first_match", Some(
      s"WITH p AS ($ptsSql), " +
        "b AS (SELECT r_regionkey, r_name, CAST(r_regionkey*72 - 180 AS DOUBLE) AS min_lon, " +
        "CAST(r_regionkey*72 - 36 AS DOUBLE) AS max_lon FROM region) " +
        "SELECT c_custkey, r_name FROM (SELECT p.c_custkey, b.r_name, " +
        "row_number() OVER (PARTITION BY p.c_custkey ORDER BY b.r_regionkey ASC) AS rn " +
        "FROM p JOIN b ON p.lon > b.min_lon AND p.lon < b.max_lon) WHERE rn = 1"),
      (s, d) => {
        val bands = T(s, d, "region").select(col("r_regionkey"), col("r_name"),
          (col("r_regionkey") * 72 - 180).cast("double").as("min_lon"),
          (col("r_regionkey") * 72 - 36).cast("double").as("max_lon"))
        points(s, d).join(broadcast(bands),
            col("lon") > col("min_lon") && col("lon") < col("max_lon"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("c_custkey").orderBy(col("r_regionkey").asc)))
          .filter(col("rn") === 1)
          .select("c_custkey", "r_name")
      }),

    // J5 — first-match ordered by *code*, not surrogate id
    // (sqlm/marts/canonical/055_v_focos_enriched_full.sql:36-65). The dim's
    // code column deliberately reverses the key order so this query's
    // winners differ from j4's id-ordered winners.
    QueryDef("j5_code_order", Some(
      s"WITH p AS ($ptsSql), " +
        "b AS (SELECT r_regionkey, 5 - r_regionkey AS code, r_name, " +
        "CAST(r_regionkey*72 - 180 AS DOUBLE) AS min_lon, " +
        "CAST(r_regionkey*72 - 36 AS DOUBLE) AS max_lon FROM region), " +
        "m AS (SELECT p.c_custkey, b.r_name, " +
        "row_number() OVER (PARTITION BY p.c_custkey ORDER BY b.code ASC) AS rn " +
        "FROM p JOIN b ON p.lon > b.min_lon AND p.lon < b.max_lon) " +
        "SELECT p.c_custkey, m.r_name AS region_name FROM p " +
        "LEFT JOIN (SELECT c_custkey, r_name FROM m WHERE rn = 1) m USING (c_custkey)"),
      (s, d) => {
        val facts = points(s, d).select(col("c_custkey").as("event_hash"),
          col("lon"), col("lat"))
        val dim = T(s, d, "region").select(
          col("r_regionkey").as("dim_id"), (lit(5) - col("r_regionkey")).as("code"),
          col("r_name"),
          (col("r_regionkey") * 72 - 180).cast("double").as("min_lon"),
          lit(-90.0).as("min_lat"),
          (col("r_regionkey") * 72 - 36).cast("double").as("max_lon"),
          lit(90.0).as("max_lat"))
          .withColumn("geom", rectGeom)
        Enrich.enrichFirstMatch(facts, dim, Map("r_name" -> "region_name"),
            "region_checked", orderCol = "code")
          .select(col("event_hash").as("c_custkey"), col("region_name"))
      }),

    // J10 — municipal choropleth: per-"UF" geometry left-joined to the
    // period aggregate, zero-filled, ordered (api/app/main.py:1020-1130).
    // nation plays municipality, region plays UF; geometry column dropped
    // for the compare (simplification is unit-tested).
    QueryDef("j10_choropleth_mun", Some(
      "WITH agg AS (SELECT CAST(n.n_nationkey AS VARCHAR) AS key, " +
        "max(n.n_name) AS label, count(*) AS n_focos " +
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey " +
        "JOIN nation n ON c.c_nationkey = n.n_nationkey " +
        "JOIN region r ON n.n_regionkey = r.r_regionkey " +
        "WHERE CAST(o.o_orderdate AS DATE) >= DATE '1995-01-01' " +
        "AND CAST(o.o_orderdate AS DATE) < DATE '1995-06-30' AND r.r_name = 'ASIA' " +
        "GROUP BY 1), " +
        "g AS (SELECT CAST(n_nationkey AS VARCHAR) AS key, r_name AS uf FROM nation " +
        "JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA') " +
        "SELECT g.key, g.uf, coalesce(a.label, g.key) AS label, " +
        "coalesce(a.n_focos, 0) AS n_focos, " +
        "CAST(coalesce(a.n_focos, 0) AS DOUBLE)/180 AS mean_per_day " +
        "FROM g LEFT JOIN agg a USING (key) ORDER BY n_focos DESC, key"),
      (s, d) => {
        val cube = choroCube(s, d)
        val geoms = munGeoms(s, d)
        Serve.choroplethMun(cube, geoms,
            java.time.LocalDate.parse("1995-01-01"), java.time.LocalDate.parse("1995-06-30"),
            Serve.Filters(uf = Some("ASIA")))
          .drop("geom")
      }),

    // /api/timeseries/total through the real Serve.timeseries — 109-day
    // span exercises the auto week-bucketing (main.py:392-397,1448-1506)
    QueryDef("serve_timeseries", Some(
      s"WITH cube AS ($cubeSql) " +
        "SELECT CAST(date_trunc('week', day) AS DATE) AS bucket, " +
        "CAST(sum(n_focos) AS BIGINT) AS n_focos FROM cube " +
        "WHERE day >= DATE '1995-01-01' AND day < DATE '1995-04-20' " +
        "AND uf = 'ASIA' GROUP BY 1 ORDER BY 1"),
      (s, d) => Serve.timeseries(choroCube(s, d),
          java.time.LocalDate.parse("1995-01-01"), java.time.LocalDate.parse("1995-04-20"),
          Serve.Filters(uf = Some("ASIA")))
        .select(col("bucket"), col("n_focos").cast("long").as("n_focos"))),

    // /api/top via Serve.top: by=mun WITHOUT a uf filter triggers the
    // municipality guardrail (limit capped at 10; main.py:1536-1539)
    QueryDef("serve_top_guardrail", Some(
      s"WITH cube AS ($cubeSql) " +
        "SELECT cd_mun AS key, max(mun_nm_mun) AS name, CAST(sum(n_focos) AS BIGINT) AS n_focos " +
        "FROM cube WHERE day >= DATE '1995-01-01' AND day < DATE '1995-12-31' " +
        "AND cd_mun IS NOT NULL GROUP BY 1 ORDER BY n_focos DESC, key ASC LIMIT 10"),
      (s, d) => Serve.top(choroCube(s, d),
          java.time.LocalDate.parse("1995-01-01"), java.time.LocalDate.parse("1995-12-31"),
          Serve.Filters(), by = "mun", limit = 50)
        .select(col("key"), col("name"), col("n_focos").cast("long").as("n_focos"))),

    // /api/totals + /api/summary through Serve (main.py:1597-1710)
    QueryDef("serve_summary", Some(
      s"WITH cube AS ($cubeSql), " +
        "f AS (SELECT * FROM cube WHERE day >= DATE '1995-01-01' AND day < DATE '1995-12-31' AND uf = 'ASIA'), " +
        "daily AS (SELECT day, sum(n_focos) AS n FROM f GROUP BY 1), " +
        "peak AS (SELECT day, n, row_number() OVER (ORDER BY n DESC, day ASC) AS rn FROM daily) " +
        "SELECT (SELECT CAST(coalesce(sum(n),0) AS BIGINT) FROM daily) AS total_focos, " +
        "(SELECT round(avg(n), 2) FROM daily) AS mean_daily, " +
        "p.day AS peak_day, CAST(p.n AS BIGINT) AS peak_n " +
        "FROM peak p WHERE p.rn = 1"),
      (s, d) => Serve.summary(choroCube(s, d),
          java.time.LocalDate.parse("1995-01-01"), java.time.LocalDate.parse("1995-12-31"),
          Serve.Filters(uf = Some("ASIA")))
        .select(col("total_focos").cast("long").as("total_focos"),
          round(col("mean_daily"), 2).as("mean_daily"),
          col("peak_day"), col("peak_n").cast("long").as("peak_n"))),

    // /api/choropleth/uf via Serve.choroplethUf: latest-geometry-per-UF
    // (W5) left-joined to the period aggregate, zero-filled (main.py:950-975)
    QueryDef("serve_choropleth_uf", Some(
      s"WITH cube AS ($cubeSql), " +
        "agg AS (SELECT uf, CAST(sum(n_focos) AS BIGINT) AS n_focos FROM cube " +
        "WHERE day >= DATE '1995-01-01' AND day < DATE '1995-07-01' GROUP BY 1), " +
        "g AS (SELECT r_name AS uf, CAST(r_regionkey*72 - 180 + 1 AS DOUBLE) AS minx FROM region) " +
        "SELECT g.uf, g.minx, coalesce(a.n_focos, 0) AS n_focos " +
        "FROM g LEFT JOIN agg a USING (uf) ORDER BY g.uf"),
      (s, d) => {
        val bands = T(s, d, "region").select(col("r_name").as("uf"),
          (col("r_regionkey") * 72 - 180).cast("double").as("min_lon"),
          lit(-90.0).as("min_lat"),
          (col("r_regionkey") * 72 - 36).cast("double").as("max_lon"),
          lit(90.0).as("max_lat"))
        // two geometry vintages per UF; day2's rect is shifted +1° so the
        // output minx proves the LATEST geometry won the W5 window
        val geoms = bands.withColumn("day", lit("1995-01-01").cast("date"))
          .withColumn("geom", rectGeom)
          .unionByName(bands
            .withColumn("min_lon", col("min_lon") + 1)
            .withColumn("day", lit("1995-06-01").cast("date"))
            .withColumn("geom", rectGeom))
          .select("uf", "day", "geom")
        Serve.choroplethUf(choroCube(s, d), geoms,
            java.time.LocalDate.parse("1995-01-01"), java.time.LocalDate.parse("1995-07-01"),
            Serve.Filters())
          .withColumn("bb", GeoFunctions.bboxUdf(col("geom")))
          .select(col("uf"), col("bb._1").as("minx"), col("n_focos"))
      }),

    // /api/validate consistency triple (main.py:1733-1790) — the three
    // sums computed through three different Serve paths must agree
    QueryDef("serve_validate", Some(
      s"WITH cube AS ($cubeSql), " +
        "f AS (SELECT * FROM cube WHERE day >= DATE '1995-01-01' AND day < DATE '1995-12-31' AND uf = 'ASIA'), " +
        "tot AS (SELECT CAST(coalesce(sum(n_focos),0) AS BIGINT) AS total FROM f), " +
        "ts AS (SELECT CAST(coalesce(sum(n),0) AS BIGINT) AS ts_sum FROM " +
        "(SELECT day, sum(n_focos) AS n FROM f GROUP BY 1)), " +
        "pu AS (SELECT CAST(coalesce(sum(n),0) AS BIGINT) AS uf_sum FROM " +
        "(SELECT uf, sum(n_focos) AS n FROM f GROUP BY 1)) " +
        "SELECT t.total, s.ts_sum, p.uf_sum, " +
        "(t.total = s.ts_sum AND s.ts_sum = p.uf_sum) AS consistent " +
        "FROM tot t, ts s, pu p"),
      (s, d) => {
        val (tot, tsSum, byUf) = Serve.validateConsistency(choroCube(s, d),
          java.time.LocalDate.parse("1995-01-01"), java.time.LocalDate.parse("1995-12-31"),
          Serve.Filters(uf = Some("ASIA")))
        import s.implicits._
        Seq((tot, tsSum, byUf, tot == tsSum && tsSum == byUf))
          .toDF("total", "ts_sum", "uf_sum", "consistent")
      }),

    // /api/lookup/mun (main.py:1133-1208)
    QueryDef("serve_lookup_mun", Some(
      "WITH gm AS (SELECT CAST(n_nationkey AS VARCHAR) AS mun, r_name AS uf FROM nation " +
        "JOIN region ON n_regionkey = r_regionkey WHERE CAST(n_nationkey AS VARCHAR) = '7' LIMIT 1), " +
        "d AS (SELECT CAST(n.n_nationkey AS VARCHAR) AS mun, max(n.n_name) AS mun_nome " +
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey " +
        "JOIN nation n ON c.c_nationkey = n.n_nationkey " +
        "WHERE CAST(n.n_nationkey AS VARCHAR) = '7' GROUP BY 1) " +
        "SELECT gm.mun, coalesce(d.mun_nome, gm.mun) AS mun_nome, " +
        "upper(gm.uf) AS uf, upper(gm.uf) AS uf_nome FROM gm LEFT JOIN d ON d.mun = gm.mun"),
      (s, d) => Serve.lookupMun(choroCube(s, d), munGeoms(s, d), "7")),

    // /api/bounds (main.py:1211-1245): bbox + center of a keyed geometry
    QueryDef("serve_bounds", Some(
      s"WITH c AS ($cellsSql) SELECT min_lon AS minx, min_lat AS miny, " +
        "max_lon AS maxx, max_lat AS maxy, " +
        "(min_lat + max_lat)/2 AS center_lat, (min_lon + max_lon)/2 AS center_lon " +
        "FROM c WHERE n_nationkey = 7"),
      (s, d) => Serve.bounds(
        cells(s, d).select(col("n_nationkey").as("key"), lit("X").as("uf"),
          rectGeom.as("geom")), "7")),

    // /api/geo/qa metric surface (main.py:1345-1398) — npoints / validity /
    // spherical area / envelope per geometry, via the QA UDFs
    QueryDef("serve_geo_qa", Some(
      s"WITH c AS ($cellsSql) SELECT n_nationkey, 1 AS n_parts, 5 AS npoints, " +
        "TRUE AS is_valid, CAST(round(abs(" +
        "(72.0/180.0*pi())*((2 + sin(min_lat/180.0*pi()) + sin(min_lat/180.0*pi()))) + " +
        "(-72.0/180.0*pi())*((2 + sin(max_lat/180.0*pi()) + sin(max_lat/180.0*pi())))" +
        ") * 6371000.0 * 6371000.0 / 2, 0) AS BIGINT) AS area_m2, " +
        "min_lon AS minx, min_lat AS miny, max_lon AS maxx, max_lat AS maxy FROM c"),
      (s, d) => {
        val g = cells(s, d).withColumn("geom", rectGeom)
          .withColumn("bb", GeoFunctions.bboxUdf(col("geom")))
        g.select(col("n_nationkey"),
          size(col("geom")).as("n_parts"),
          GeoFunctions.nPointsUdf(col("geom")).as("npoints"),
          GeoFunctions.isValidUdf(col("geom")).as("is_valid"),
          round(GeoFunctions.multiPolygonAreaSqMetersUdf(col("geom")), 0)
            .cast("long").as("area_m2"),
          col("bb._1").as("minx"), col("bb._2").as("miny"),
          col("bb._3").as("maxx"), col("bb._4").as("maxy"))
      }),

    // /api/geo fact side (main.py:1294-1317): one entity's filtered sum with
    // label fallback + display-label cleanup (identity on clean labels)
    QueryDef("serve_geo_overlay", Some(
      "SELECT 'uc' AS entity, '1-URGENT' AS key, " +
        "coalesce(max(uc_nome), '1-URGENT') AS label, " +
        "CAST(coalesce(sum(n_focos), 0) AS BIGINT) AS n_focos FROM " +
        "(SELECT CAST(o_orderdate AS DATE) AS day, o_orderpriority AS cd_cnuc, " +
        "o_orderpriority || ' NAME' AS uc_nome, count(*) AS n_focos FROM orders GROUP BY 1,2,3) " +
        "WHERE day >= DATE '1995-01-01' AND day < DATE '1995-12-31' " +
        "AND (cd_cnuc = '1-URGENT' OR upper(uc_nome) = '1-URGENT')"),
      (s, d) => {
        val cube = T(s, d, "orders")
          .groupBy(col("o_orderdate").cast("date").as("day"),
            col("o_orderpriority").as("cd_cnuc"),
            concat(col("o_orderpriority"), lit(" NAME")).as("uc_nome"))
          .agg(count(lit(1)).as("n_focos"))
        Serve.geoOverlayStats(cube, "uc", "1-URGENT",
          java.time.LocalDate.parse("1995-01-01"), java.time.LocalDate.parse("1995-12-31"),
          Serve.Filters())
      }),

    QueryDef("geo_area", Some(
      s"WITH c AS ($cellsSql) SELECT n_nationkey, CAST(round(abs(" +
        "(72.0/180.0*pi())*((2 + sin(min_lat/180.0*pi()) + sin(min_lat/180.0*pi()))) + " +
        "(-72.0/180.0*pi())*((2 + sin(max_lat/180.0*pi()) + sin(max_lat/180.0*pi())))" +
        ") * 6371000.0 * 6371000.0 / 2, 0) AS BIGINT) AS area_m2 FROM c"),
      (s, d) => cells(s, d)
        .select(col("n_nationkey"),
          round(GeoFunctions.ringAreaSqMetersUdf(rectRing), 0)
            .cast("long").as("area_m2"))),

    // ST_Dump / mainland / dissolve — the choropleth prereq chain
    // (sqlm/marts/prereq/010-030_*.sql) over synthetic two-part nation
    // geometries: left part 24° wide, right part 48° wide.

    QueryDef("geo_dump_parts", Some(
      s"WITH c AS ($cellsSql), parts AS (" +
        "SELECT n_nationkey, 0 AS part_idx, min_lon AS lo, min_lon + 24 AS hi, min_lat, max_lat FROM c " +
        "UNION ALL SELECT n_nationkey, 1, min_lon + 24, max_lon, min_lat, max_lat FROM c) " +
        "SELECT n_nationkey, part_idx, 5 AS npoints, CAST(round(abs(" +
        "((hi - lo)/180.0*pi())*((2 + sin(min_lat/180.0*pi()) + sin(min_lat/180.0*pi()))) + " +
        "(-(hi - lo)/180.0*pi())*((2 + sin(max_lat/180.0*pi()) + sin(max_lat/180.0*pi())))" +
        ") * 6371000.0 * 6371000.0 / 2, 0) AS BIGINT) AS area_m2 FROM parts"),
      (s, d) => graft.marts.GeoPrep.explodeParts(
          cells(s, d).withColumn("geom", twoPartGeom), Seq("n_nationkey"))
        .select(col("n_nationkey"), col("part_idx"),
          GeoFunctions.nPointsUdf(col("part")).as("npoints"),
          round(GeoFunctions.multiPolygonAreaSqMetersUdf(col("part")), 0)
            .cast("long").as("area_m2"))),

    QueryDef("geo_mainland", Some(
      s"WITH c AS ($cellsSql) SELECT n_nationkey, min_lon + 24 AS mainland_minx, " +
        "CAST(round(abs(" +
        "(48.0/180.0*pi())*((2 + sin(min_lat/180.0*pi()) + sin(min_lat/180.0*pi()))) + " +
        "(-48.0/180.0*pi())*((2 + sin(max_lat/180.0*pi()) + sin(max_lat/180.0*pi())))" +
        ") * 6371000.0 * 6371000.0 / 2, 0) AS BIGINT) AS area_m2 FROM c"),
      (s, d) => graft.marts.GeoPrep.mainlandByKey(
          cells(s, d).withColumn("geom", twoPartGeom), Seq("n_nationkey"))
        .withColumn("bb", GeoFunctions.bboxUdf(col("geom")))
        .select(col("n_nationkey"), col("bb._1").as("mainland_minx"),
          round(col("part_area_m2"), 0).cast("long").as("area_m2"))),

    QueryDef("geo_dissolve", Some(
      s"WITH c AS ($cellsSql) SELECT r.r_name, CAST(2*count(*) AS INT) AS n_parts, " +
        "min(c.min_lon) AS minx, min(c.min_lat) AS miny, " +
        "max(c.max_lon) AS maxx, max(c.max_lat) AS maxy " +
        "FROM c JOIN nation n ON c.n_nationkey = n.n_nationkey " +
        "JOIN region r ON n.n_regionkey = r.r_regionkey GROUP BY 1"),
      (s, d) => {
        val withRegion = cells(s, d).withColumn("geom", twoPartGeom)
          .join(broadcast(T(s, d, "nation").select(col("n_nationkey").as("nk"),
            col("n_regionkey"))), col("n_nationkey") === col("nk"))
          .join(broadcast(T(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        graft.marts.GeoPrep.dissolveByKey(withRegion.select(col("r_name"), col("geom")),
            Seq("r_name"))
          .withColumn("bb", GeoFunctions.bboxUdf(col("geom")))
          .select(col("r_name"), col("n_parts"),
            col("bb._1").as("minx"), col("bb._2").as("miny"),
            col("bb._3").as("maxx"), col("bb._4").as("maxy"))
      }),

    // exact polygon union (ST_UnaryUnion analog): per nation, two rectangles
    // overlapping by dx×8 — union area / part count / bbox are closed-form,
    // so the PolyUnion kernel gets a driver-gated oracle (shoelace area is
    // exact on these integer-degree coordinates)
    QueryDef("geo_union", Some(
      s"WITH c AS ($cellsSql), p AS (SELECT n_nationkey, " +
        "CAST(10 + (n_nationkey % 5) * 4 AS DOUBLE) AS dx, min_lon AS x0, min_lat AS y0 FROM c) " +
        "SELECT n_nationkey, 1 AS n_parts, true AS overlap_flag, " +
        "CAST(56 * dx AS BIGINT) AS union_area_deg2, " +
        "x0 AS minx, y0 AS miny, x0 + 3*dx AS maxx, y0 + 24 AS maxy " +
        "FROM p ORDER BY n_nationkey"),
      (s, d) => {
        val base = cells(s, d).select(col("n_nationkey"),
          (lit(10) + col("n_nationkey") % 5 * 4).cast("double").as("dx"),
          col("min_lon").as("x0"), col("min_lat").as("y0"))
        def rectMp(x1: Column, y1: Column, x2: Column, y2: Column) = {
          def p(a: Column, b: Column) = array(a, b)
          array(array(array(p(x1, y1), p(x2, y1), p(x2, y2), p(x1, y2), p(x1, y1))))
        }
        val parts = base.select(col("n_nationkey"),
            rectMp(col("x0"), col("y0"), col("x0") + col("dx") * 2, col("y0") + 16).as("geom"))
          .unionByName(base.select(col("n_nationkey"),
            rectMp(col("x0") + col("dx"), col("y0") + 8,
              col("x0") + col("dx") * 3, col("y0") + 24).as("geom")))
        graft.marts.GeoPrep.dissolveByKey(parts, Seq("n_nationkey"), onOverlap = "union")
          .withColumn("bb", GeoFunctions.bboxUdf(col("geom")))
          .select(col("n_nationkey"), col("n_parts"), col("overlap_flag"),
            round(GeoFunctions.planarAreaDeg2Udf(col("geom"))).cast("long").as("union_area_deg2"),
            col("bb._1").as("minx"), col("bb._2").as("miny"),
            col("bb._3").as("maxx"), col("bb._4").as("maxy"))
          .orderBy("n_nationkey")
      }),

    // ST_MakeValid analog (sqlm/marts/prereq/010/020, api geo overlay):
    // arrangement rebuild with even-odd (linework) semantics. Three
    // closed-form fixture classes per nation: a self-crossing bowtie (splits
    // into 2 lobes, area w·h/2), a valid rect-with-hole (passes through
    // unchanged), and an overlapping-parts invalid multipolygon (dissolves
    // to the union — the geo_union shapes). Part/ring counts, rounded
    // planar area, and bbox are all integer-exact for the oracle.
    QueryDef("geo_makevalid", Some(
      s"WITH c AS ($cellsSql), p AS (SELECT n_nationkey, " +
        "CAST(10 + (n_nationkey % 5) * 4 AS DOUBLE) AS dx, min_lon AS x0, min_lat AS y0 FROM c) " +
        "SELECT * FROM (" +
        "SELECT n_nationkey, 'bowtie' AS kind, 2 AS n_parts, 2 AS n_rings, " +
        "CAST(16 * dx AS BIGINT) AS area_deg2, " +
        "x0 AS minx, y0 AS miny, x0 + 2*dx AS maxx, y0 + 16 AS maxy FROM p " +
        "UNION ALL SELECT n_nationkey, 'rect_hole', 1, 2, CAST(84 AS BIGINT), " +
        "x0, y0, x0 + 10, y0 + 10 FROM p " +
        "UNION ALL SELECT n_nationkey, 'overlap_mp', 1, 1, CAST(56 * dx AS BIGINT), " +
        "x0, y0, x0 + 3*dx, y0 + 24 FROM p) " +
        "ORDER BY n_nationkey, kind"),
      (s, d) => {
        val base = cells(s, d).select(col("n_nationkey"),
          (lit(10) + col("n_nationkey") % 5 * 4).cast("double").as("dx"),
          col("min_lon").as("x0"), col("min_lat").as("y0"))
        def pt(a: Column, b: Column) = array(a, b)
        def ccwRect(x1: Column, y1: Column, x2: Column, y2: Column) =
          array(pt(x1, y1), pt(x2, y1), pt(x2, y2), pt(x1, y2), pt(x1, y1))
        def cwRect(x1: Column, y1: Column, x2: Column, y2: Column) =
          array(pt(x1, y1), pt(x1, y2), pt(x2, y2), pt(x2, y1), pt(x1, y1))
        val w = col("dx") * 2
        val bowtie = array(array(array(
          pt(col("x0"), col("y0")), pt(col("x0") + w, col("y0") + 16),
          pt(col("x0") + w, col("y0")), pt(col("x0"), col("y0") + 16),
          pt(col("x0"), col("y0")))))
        val rectHole = array(array(
          ccwRect(col("x0"), col("y0"), col("x0") + 10, col("y0") + 10),
          cwRect(col("x0") + 3, col("y0") + 3, col("x0") + 7, col("y0") + 7)))
        val overlapMp = array(
          array(ccwRect(col("x0"), col("y0"), col("x0") + w, col("y0") + 16)),
          array(ccwRect(col("x0") + col("dx"), col("y0") + 8,
            col("x0") + col("dx") * 3, col("y0") + 24)))
        val in = base.select(col("n_nationkey"), lit("bowtie").as("kind"), bowtie.as("geom"))
          .unionByName(base.select(col("n_nationkey"), lit("rect_hole").as("kind"), rectHole.as("geom")))
          .unionByName(base.select(col("n_nationkey"), lit("overlap_mp").as("kind"), overlapMp.as("geom")))
        in.withColumn("fixed", GeoFunctions.makeValidUdf(col("geom")))
          .withColumn("bb", GeoFunctions.bboxUdf(col("fixed")))
          .select(col("n_nationkey"), col("kind"),
            size(col("fixed")).as("n_parts"),
            expr("aggregate(fixed, 0, (a, p) -> a + size(p))").as("n_rings"),
            round(GeoFunctions.planarAreaDeg2Udf(col("fixed"))).cast("long").as("area_deg2"),
            col("bb._1").as("minx"), col("bb._2").as("miny"),
            col("bb._3").as("maxx"), col("bb._4").as("maxy"))
          .orderBy("n_nationkey", "kind")
      }),

    // ------------------------------------------------- corpus ops (dedup &c)

    QueryDef("dedup_exact", Some(
      "WITH u AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 1000000, text FROM documents) " +
        "SELECT doc_id, text FROM (SELECT doc_id, text, " +
        "row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM u) WHERE rn = 1"),
      (s, d) => {
        val docs = T(s, d, "documents").select("doc_id", "text")
        val dupes = docs.union(docs.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
        Dedup.exact(dupes, Seq("text"), "doc_id")
      }),

    // Schema evolution across lake snapshots: batch v2 adds a `quality`
    // column; a mergeSchema read unifies both generations (v1 rows surface
    // it as NULL) — the capability every long-lived parquet lake leans on.
    // Real files are written and re-read inside the query; the oracle
    // recomputes the per-type rollup from the generation split rule.
    QueryDef("ingest_schema_evolution", Some(
      "SELECT event_type, count(*) AS n_rows, " +
        "CAST(sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality, " +
        "CAST(sum(CASE WHEN event_id % 2 = 1 THEN event_id % 7 END) AS BIGINT) AS sum_quality " +
        "FROM events GROUP BY 1"),
      (s, d) => {
        // unique dir per invocation: a fixed path would let a concurrent
        // run's delete+rewrite race this run's lazy mergeSchema scan
        val dir = scratchRoot(s) + "/graft_schema_evo_" + java.util.UUID.randomUUID().toString
        val hp = new org.apache.hadoop.fs.Path(dir)
        val fs = hp.getFileSystem(s.sessionState.newHadoopConf())
        fs.deleteOnExit(hp)
        val ev = T(s, d, "events")
        ev.filter(col("event_id") % 2 === 0)
          .select("event_id", "event_type")
          .write.parquet(s"$dir/v1")
        ev.filter(col("event_id") % 2 === 1)
          .select(col("event_id"), col("event_type"),
            (col("event_id") % 7).as("quality"))
          .write.parquet(s"$dir/v2")
        s.read.option("mergeSchema", "true").parquet(s"$dir/v1", s"$dir/v2")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_rows"),
            count(col("quality")).as("n_quality"),
            sum(col("quality")).as("sum_quality"))
      }),

    // Blocked fuzzy (Levenshtein <= 2) join: typo-tolerant catalog matching.
    // Probes are deterministic 1-char deletions of catalog names (must
    // match) plus ' xyzzy'-suffixed negatives (distance 6 — must not).
    QueryDef("fuzzy_join_editdist", Some(
      "WITH names AS (SELECT p_name, min(p_partkey) AS pid FROM part GROUP BY 1), " +
        "probes AS (SELECT pid AS probe_id, substr(p_name, 1, 1) || substr(p_name, 3) AS probe FROM names " +
        "UNION ALL SELECT pid + 100000, p_name || ' xyzzy' FROM names) " +
        "SELECT p.probe_id, p.probe, n.pid AS matched_id, n.p_name AS matched, " +
        "CAST(levenshtein(p.probe, n.p_name) AS INT) AS dist " +
        "FROM probes p JOIN names n ON substr(p.probe, 1, 1) = substr(n.p_name, 1, 1) " +
        "WHERE levenshtein(p.probe, n.p_name) <= 2"),
      (s, d) => {
        val names = T(s, d, "part").groupBy("p_name")
          .agg(min("p_partkey").as("pid"))
        val probes = names.select(col("pid").as("probe_id"),
            concat(substring(col("p_name"), 1, 1), expr("substr(p_name, 3)")).as("probe"))
          .unionByName(names.select((col("pid") + 100000).as("probe_id"),
            concat(col("p_name"), lit(" xyzzy")).as("probe")))
        Dedup.fuzzyJoin(probes, names, "probe_id", "probe", "pid", "p_name", 2)
      }),

    // Gap-based sessionization (30-min inactivity): lag + running-sum
    // session numbering and the per-session rollup share ONE user-hash
    // exchange (the (user, session) groupBy's clustering is satisfied by
    // the window's partitioning).
    QueryDef("sessionize_batch", Some(
      "WITH o AS (SELECT user_id, ts, event_id, value, " +
        "lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events), " +
        "s AS (SELECT *, CASE WHEN prev_ts IS NULL OR " +
        "epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_s FROM o), " +
        "t AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM s) " +
        "SELECT user_id, CAST(session_id AS BIGINT) AS session_id, " +
        "count(*) AS n_events, epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us, " +
        "(epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS duration_s, " +
        "CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS total_value_e6 " +
        "FROM t GROUP BY 1, 2"),
      (s, d) => operators.Analytics.sessionize(T(s, d, "events"),
          "user_id", "ts", "event_id", "value", gapSeconds = 1800)
        // the operator emits real timestamps + an exact decimal total; the
        // gate row ships epoch-µs / 1e-6-unit BIGINTs (the asof_join /
        // skew_salted_agg precedent — engine-neutral hash compare, no
        // DECIMAL in a FINAL schema); explicit select pins column order
        .withColumn("start_us", unix_micros(col("session_start")))
        .withColumn("end_us", unix_micros(col("session_end")))
        .withColumn("total_value_e6",
          (col("total_value") * 1000000).cast("long"))
        .select("user_id", "session_id", "n_events", "start_us", "end_us",
          "duration_s", "total_value_e6")),

    // Ordered funnel view → click → purchase: step k counts users whose
    // first step-k event is at/after their step-(k-1) frontier. One lazy
    // plan — per-step frontiers are user-keyed aggregates, no driver loop.
    QueryDef("funnel_steps", Some(
      "WITH f1 AS (SELECT user_id, min(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1), " +
        "f2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN f1 ON e.user_id = f1.user_id " +
        "AND e.ts >= f1.t WHERE e.event_type = 'click' GROUP BY 1), " +
        "f3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN f2 ON e.user_id = f2.user_id " +
        "AND e.ts >= f2.t WHERE e.event_type = 'purchase' GROUP BY 1), " +
        "c AS (SELECT 1 AS step_order, 'view' AS step, (SELECT count(*) FROM f1) AS n_users " +
        "UNION ALL SELECT 2, 'click', (SELECT count(*) FROM f2) " +
        "UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM f3)) " +
        "SELECT step_order, step, n_users, round(100.0 * n_users / " +
        "(SELECT n_users FROM c WHERE step_order = 1), 4) AS conv_pct FROM c"),
      (s, d) => operators.Analytics.funnel(T(s, d, "events"),
        Seq("view", "click", "purchase"), "event_type", "user_id", "ts")),

    // Weekly cohort retention: cohort = Monday week of first touch;
    // retained at offset k = any activity in cohort+k. The (cohort,
    // offset) matrix is weeks², so the size join broadcasts.
    QueryDef("cohort_retention", Some(
      "WITH f AS (SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week " +
        "FROM events GROUP BY 1), " +
        "a AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS w FROM events), " +
        "c AS (SELECT cohort_week, CAST((w - cohort_week) // 7 AS INT) AS week_offset, " +
        "count(*) AS n_users FROM a JOIN f USING (user_id) GROUP BY 1, 2), " +
        "s AS (SELECT cohort_week, n_users AS cohort_size FROM c WHERE week_offset = 0) " +
        "SELECT c.cohort_week, c.week_offset, c.n_users, s.cohort_size, " +
        "round(100.0 * c.n_users / s.cohort_size, 4) AS retention_pct " +
        "FROM c JOIN s USING (cohort_week)"),
      (s, d) => operators.Analytics.cohortRetention(T(s, d, "events"),
        "user_id", "ts")),

    // day × event_type pivot (explicit value list — no extra distinct
    // job): count + exact decimal value sum per cell, ONE map-side-
    // combined aggregate. Absent cells: count 0, sum NULL — both sides.
    QueryDef("pivot_event_matrix", Some {
      val cells = eventTypes.map { t =>
        s"count(*) FILTER (WHERE event_type = '$t') AS ${t}_n, " +
          s"CAST(sum(CAST(value AS DECIMAL(18,6))) FILTER (WHERE event_type = '$t') " +
          s"* 1000000 AS BIGINT) AS ${t}_val_e6"
      }.mkString(", ")
      s"SELECT CAST(ts AS DATE) AS day, $cells FROM events GROUP BY 1"
    },
      (s, d) => T(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .pivot("event_type", eventTypes)
        .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("val"))
        .na.fill(0L, eventTypes.map(t => s"${t}_n"))
        // exact decimal sums leave the agg; the FINAL schema ships
        // 1e-6-unit BIGINTs (absent cells stay NULL on both sides)
        .select(col("day") +: eventTypes.flatMap(t => Seq(
          col(s"${t}_n"),
          (col(s"${t}_val") * 1000000).cast("long").as(s"${t}_val_e6"))): _*)),

    // Unpivot/melt: wide per-flag aggregates → tidy (key, metric, value)
    // rows via stack() — a row-local codegen Expand, no shuffle beyond
    // the feeding aggregate.
    QueryDef("unpivot_metrics", Some(
      "WITH a AS (SELECT l_returnflag, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_qty, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_price, " +
        "CAST(count(*) * 100 AS BIGINT) AS n_rows FROM lineitem GROUP BY 1) " +
        "SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value_e2 FROM a " +
        "UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM a " +
        "UNION ALL SELECT l_returnflag, 'n_rows', n_rows FROM a"),
      // melted value is a 1e-2-unit BIGINT (exact via decimal sums) so the
      // mixed-metric column needs no DECIMAL in the FINAL schema.
      // Rolls up the shared pricingSummary mart instead of re-scanning
      // lineitem: sum_qty is an integral-quantity sum and sum_price is
      // already e2 cents in the mart, so the coarser-grain re-aggregate
      // is bit-exact vs the direct scan the oracle runs
      (s, d) => pricingSummary(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          (sum(col("sum_qty")) * 100).cast("long").as("sum_qty"),
          sum(col("sum_base_e2")).cast("long").as("sum_price"),
          (sum(col("n")) * 100).cast("long").as("n_rows"))
        .selectExpr("l_returnflag",
          "stack(3, 'sum_qty', sum_qty, 'sum_price', sum_price, " +
            "'n_rows', n_rows) AS (metric, value_e2)")),

    // CUBE over (day, event_type) with a grouping-id column: all four
    // grouping sets in ONE Expand + aggregate pass. gid derives from the
    // grouped-out NULLs (both dims are never null in the data), the same
    // rule on both engines.
    QueryDef("agg_cube_gid", Some(
      "SELECT day, event_type, " +
        "(CASE WHEN day IS NULL THEN 2 ELSE 0 END + " +
        "CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS gid, " +
        "n, total_value_e6 FROM (" +
        "SELECT day, event_type, count(*) AS n, " +
        "CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS total_value_e6 " +
        "FROM (SELECT CAST(ts AS DATE) AS day, event_type, value FROM events) " +
        "GROUP BY CUBE (day, event_type)) t"),
      (s, d) => T(s, d, "events")
        .select(to_date(col("ts")).as("day"), col("event_type"), col("value"))
        .cube(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("total_value"))
        .select(col("day"), col("event_type"),
          (when(col("day").isNull, 2).otherwise(0) +
            when(col("event_type").isNull, 1).otherwise(0)).as("gid"),
          col("n"),
          (col("total_value") * 1000000).cast("long").as("total_value_e6"))),

    // Z-order layout audit: min/max-normalize (l_partkey, l_suppkey) into
    // a 15-bit grid (so the code space is filled at ANY sf), Morton-
    // interleave, split into 64 equal code ranges (the files a z-ordered
    // write produces) and report each range's per-dimension span — the
    // min/max footer stats that 2-D predicate skipping prunes on. The
    // oracle recomputes the identical normalize→interleave formula.
    QueryDef("zorder_layout", Some(
      operators.Layout.zorderStatsSql("lineitem", "l_partkey", "l_suppkey",
        bits = 15, bucketBits = 6)),
      (s, d) => operators.Layout.zorderStats(T(s, d, "lineitem"),
        "l_partkey", "l_suppkey", bits = 15, bucketBits = 6)),

    // Write-path technique under the gate: two fact tables bucketed on the
    // join key at write time, then joined WITHOUT any exchange — the
    // 100 TB pattern for repeated big×big joins where neither side
    // broadcasts (the write-time shuffle is amortized over every later
    // join). The plan pin lives IN the row: join_exchange_free is computed
    // from the joined frame's physical plan (MERGE-hinted so the pin is
    // deterministic at every scale — broadcast would also be exchange-ish)
    // and must come back TRUE against the oracle's constant; the aggregate
    // values prove the bucketed artifacts hold exactly the source rows.
    QueryDef("mart_bucketed_join", Some(
      "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_qty_e2, " +
        "TRUE AS join_exchange_free " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY 1 ORDER BY 1"),
      (s, d) => {
        val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
        val (lt, ot) = (s"graft_bkt_lineitem_$sfx", s"graft_bkt_orders_$sfx")
        // a previous JVM's warehouse dir survives while the in-memory
        // catalog does not — saveAsTable then refuses the orphan location;
        // drop BOTH the catalog entry and the leftover dir
        Seq(lt, ot).foreach { t =>
          s.sql(s"DROP TABLE IF EXISTS $t")
          val hp = new org.apache.hadoop.fs.Path(
            s"${s.conf.get("spark.sql.warehouse.dir")}/$t")
          val fs = hp.getFileSystem(s.sessionState.newHadoopConf())
          if (fs.exists(hp)) fs.delete(hp, true)
        }
        // fanOut: the bucketed write is parquet decode+encode CPU and the
        // local one-row-group scans otherwise feed it one core. The two
        // table writes are independent (distinct catalog entries, distinct
        // paths) — run overlapped (§2.6) so one write's commit latency
        // back-fills with the other's tasks.
        Pipeline.inParallel[Unit](Seq(
          () => marts.Marts.writeBucketed(
            fanOut(T(s, d, "lineitem").select("l_orderkey", "l_quantity")),
            lt, 8, Seq("l_orderkey")),
          () => marts.Marts.writeBucketed(
            fanOut(T(s, d, "orders").select("o_orderkey", "o_orderpriority")),
            ot, 8, Seq("o_orderkey"))))
        val joined = s.table(lt).hint("MERGE")
          .join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
        // the pin: sort-merge join straight off the bucket scans, ZERO
        // Exchange nodes (AQE appendix split per the plan-audit rule)
        val plan = joined.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
        val exchangeFree =
          plan.contains("SortMergeJoin") && !plan.contains("Exchange")
        joined.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            (dsum(col("l_quantity"), 2) * 100).cast("long").as("sum_qty_e2"))
          .withColumn("join_exchange_free", lit(exchangeFree))
          .orderBy("o_orderpriority")
      }),

    // Partition-pruned scan under the gate: events written date-partitioned
    // (the 100 TB layout for time-scoped queries — at scale, a day
    // predicate must resolve to directory listing, never a data read of
    // the other days), read back with a single-day filter. The pin lives
    // IN the row: partition_pruned is TRUE only when the physical scan
    // carries the day predicate as a PartitionFilter — metadata-level
    // pruning, 1 of 30 directories survives the listing — so a plan that
    // scans all partitions and filters rows after the fact fails the
    // oracle's constant. The aggregate proves the partitioned artifact
    // holds exactly the source rows.
    QueryDef("layout_partition_prune", Some(
      "SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_value_e6, " +
        "TRUE AS partition_pruned " +
        "FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15' " +
        "GROUP BY 1 ORDER BY 1"),
      (s, d) => {
        val dir = scratchDir(s, "graft_part_prune", d)
        // narrow fact projection (the layout pin is column-set independent;
        // no reason to re-encode the props JSON blob), written repartitioned
        // ON the day so each partition dir is exactly one file — the layout
        // best practice the compaction row below repairs retroactively
        T(s, d, "events").select("event_id", "ts", "event_type", "value")
          .withColumn("day", to_date(col("ts")))
          .repartition(col("day"))
          .write.partitionBy("day").parquet(dir)
        val read = s.read.parquet(dir)
          .filter(col("day") === lit(java.sql.Date.valueOf("2024-01-15")))
        val agg = read.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            (dsum(col("value"), 6) * 1000000).cast("long").as("sum_value_e6"))
          .orderBy("event_type")
        // the pin: the day predicate sits in the scan's PartitionFilters
        // (directory-level), NOT as a post-scan row filter over all days.
        // Derived STRUCTURALLY from the aggregate's own physical plan (the
        // one the returned frame executes, modulo the appended literal
        // column) — not a substring match on a standalone side plan, which
        // could silently diverge from what actually runs (round-11 ADVICE).
        val plan = agg.queryExecution.sparkPlan
        val scans = plan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        val pruned = scans.nonEmpty &&
          scans.forall(_.partitionFilters.exists(
            _.references.exists(_.name == "day"))) &&
          plan.collect {
            case f: org.apache.spark.sql.execution.FilterExec => f }
            .forall(!_.condition.references.exists(_.name == "day"))
        agg.withColumn("partition_pruned", lit(pruned))
      }),

    // Small-file compaction under the gate: a fragmented date-partitioned
    // write (round-robin parallel tasks → every task writes every day →
    // tasks×days files, the shape a streaming ingest or over-parallel job
    // leaves behind; at 100 TB the resulting tiny-file listing and
    // per-file open cost dominate readers) rewritten by repartitioning ON
    // the partition column so each day lands in exactly one task = one
    // file (at scale: repartition(day) + AQE-coalesced shuffle, or add a
    // within-day bucket term to the key for >task-sized days). The pin
    // lives IN the row: was_fragmented proves the precondition (>1 file in
    // some day dir before), compacted_single_file that every day dir holds
    // exactly one data file after; the aggregate over the COMPACTED
    // artifact proves the rewrite preserved exactly the source rows.
    QueryDef("layout_compact_files", Some(
      "SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_value_e6, " +
        "TRUE AS was_fragmented, TRUE AS compacted_single_file " +
        "FROM events GROUP BY 1 ORDER BY 1"),
      (s, d) => {
        val fragDir = scratchDir(s, "graft_compact_frag", d)
        val outDir = scratchDir(s, "graft_compact_out", d)
        // narrow fact projection (file-count pins are column-set independent;
        // day subsumes ts once derived)
        T(s, d, "events").select("event_id", "ts", "event_type", "value")
          .withColumn("day", to_date(col("ts"))).drop("ts")
          .repartition(4) // round-robin: every task holds every day
          .write.partitionBy("day").parquet(fragDir)
        def filesPerDay(dir: String): Seq[Int] = {
          val hp = new org.apache.hadoop.fs.Path(dir)
          val fs = hp.getFileSystem(s.sessionState.newHadoopConf())
          fs.listStatus(hp).toSeq
            .filter(st => st.isDirectory && st.getPath.getName.startsWith("day="))
            .map(st => fs.listStatus(st.getPath)
              .count(f => f.getPath.getName.startsWith("part-")))
        }
        val fragCounts = filesPerDay(fragDir)
        // tiny-corpus guard (round-11 ADVICE): when NO day holds 2+ rows,
        // round-robin tasks cannot produce a multi-file day — one file per
        // day is already the compacted shape, so the fragmentation
        // precondition is VACUOUSLY satisfied rather than failed. On any
        // fragmentable corpus the strict >1 check still gates.
        // The guard aggregate and the compaction write both read fragDir
        // and are independent of each other — overlapped (§2.6)
        val Seq(fragmentableAny, _) = Pipeline.inParallel[Any](Seq(
          () => s.read.parquet(fragDir).groupBy("day")
            .agg(count(lit(1)).as("nd")).agg(max("nd")).head.getLong(0) > 1,
          () => s.read.parquet(fragDir)
            .repartition(col("day")) // one task per day => one file per day
            .write.partitionBy("day").parquet(outDir)))
        val fragmentable = fragmentableAny.asInstanceOf[Boolean]
        val outCounts = filesPerDay(outDir)
        s.read.parquet(outDir).groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            (dsum(col("value"), 6) * 1000000).cast("long").as("sum_value_e6"))
          .withColumn("was_fragmented",
            lit(fragCounts.nonEmpty && (fragCounts.max > 1 || !fragmentable)))
          .withColumn("compacted_single_file",
            lit(outCounts.nonEmpty && outCounts.forall(_ == 1)))
          .orderBy("event_type")
      }),

    // Salted skew join: result is EXACTLY the plain equi-join (the oracle
    // IS the plain join) while a hot key's rows spread over 8 reducers —
    // the plannable version of AQE's OptimizeSkewedJoin for plans where
    // the join output must stay hash-distributed.
    QueryDef("skew_salted_join", Some(
      "SELECT p_brand, count(*) AS n, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_qty_e2 " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1"),
      (s, d) => operators.Skew.saltedJoin(
          T(s, d, "lineitem").select("l_partkey", "l_quantity"),
          T(s, d, "part").select("p_partkey", "p_brand"),
          "l_partkey", "p_partkey", salts = 8)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"),
          // exact decimal sum, 1e-2-unit BIGINT at the boundary (the
          // skew_salted_agg recipe — no DECIMAL in a FINAL schema)
          (dsum(col("l_quantity"), 2) * 100).cast("long").as("sum_qty_e2"))),

    // Type-1 MERGE upsert: updates overwrite, inserts append, untouched
    // rows keep — plus the merge_action audit (noop = matched but
    // attribute-identical, the rows a writer skips). Source is derived
    // from part by rule so both engines build the identical batch:
    // key%3=0 → price+1 (update), key%3=1 → unchanged (noop),
    // key%97=0 → new key (insert); key%3=2 rows are absent (keep).
    QueryDef("merge_upsert", Some(
      "WITH src AS (" +
        "SELECT p_partkey, p_brand, p_retailprice + 1 AS p_retailprice FROM part WHERE p_partkey % 3 = 0 " +
        "UNION ALL SELECT p_partkey, p_brand, p_retailprice FROM part WHERE p_partkey % 3 = 1 " +
        "UNION ALL SELECT p_partkey + 1000000, 'NEW', 1.0 FROM part WHERE p_partkey % 97 = 0) " +
        "SELECT coalesce(t.p_partkey, s.p_partkey) AS p_partkey, " +
        "CASE WHEN s.p_partkey IS NOT NULL THEN s.p_brand ELSE t.p_brand END AS p_brand, " +
        "CASE WHEN s.p_partkey IS NOT NULL THEN s.p_retailprice ELSE t.p_retailprice END AS p_retailprice, " +
        "CASE WHEN t.p_partkey IS NULL THEN 'insert' WHEN s.p_partkey IS NULL THEN 'keep' " +
        "WHEN t.p_brand IS NOT DISTINCT FROM s.p_brand AND " +
        "t.p_retailprice IS NOT DISTINCT FROM s.p_retailprice THEN 'noop' " +
        "ELSE 'update' END AS merge_action " +
        "FROM part t FULL OUTER JOIN src s ON t.p_partkey = s.p_partkey"),
      (s, d) => {
        val part = T(s, d, "part")
        val src = part.filter(col("p_partkey") % 3 === 0)
          .select(col("p_partkey"), col("p_brand"),
            (col("p_retailprice") + 1).as("p_retailprice"))
          .unionByName(part.filter(col("p_partkey") % 3 === 1)
            .select("p_partkey", "p_brand", "p_retailprice"))
          .unionByName(part.filter(col("p_partkey") % 97 === 0)
            .select((col("p_partkey") + 1000000).as("p_partkey"),
              lit("NEW").as("p_brand"), lit(1.0).as("p_retailprice")))
        operators.Scd.upsert(
          part.select("p_partkey", "p_brand", "p_retailprice"), src,
          Seq("p_partkey"), Seq("p_brand", "p_retailprice"))
      }),

    // Per-user event-type transition matrix (order-1 Markov): lag window
    // on the user key, pair counts, row-normalized probabilities. The
    // normalizing window runs on the 25-row (type × type) aggregate, not
    // the corpus.
    QueryDef("events_transition_matrix", Some(
      "WITH o AS (SELECT user_id, event_type, lag(event_type) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS prev_type FROM events), " +
        "c AS (SELECT prev_type, event_type AS next_type, count(*) AS n FROM o " +
        "WHERE prev_type IS NOT NULL GROUP BY 1, 2) " +
        "SELECT prev_type, next_type, n, " +
        "round(n / sum(n) OVER (PARTITION BY prev_type), 6) AS p FROM c"),
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        T(s, d, "events")
          .withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .filter(col("prev_type").isNotNull)
          .groupBy(col("prev_type"), col("event_type").as("next_type"))
          .agg(count(lit(1)).as("n"))
          .withColumn("p", round(col("n") /
            sum(col("n")).over(Window.partitionBy("prev_type")), 6))
      }),

    // Log2-bucketed length histogram per language: the integer-exact
    // bucket is length(bin(n)) = floor(log2(n)) + 1 — no float log, so
    // the bucket edges are identical on every engine.
    QueryDef("stats_length_histogram", Some(
      "SELECT lang, length(bin(n_chars)) AS bucket_bits, count(*) AS n_docs, " +
        "min(n_chars) AS min_chars, max(n_chars) AS max_chars " +
        "FROM documents GROUP BY 1, 2"),
      (s, d) => T(s, d, "documents")
        .groupBy(col("lang"),
          length(bin(col("n_chars"))).as("bucket_bits"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))),

    // INTERSECT / EXCEPT set semantics (distinct), tagged into one frame:
    // both compile to hash aggregates over a union-like shuffle — no
    // nested-loop, scale like any groupBy.
    QueryDef("set_ops_audit", Some(
      "SELECT 'intersect' AS op, doc_id FROM " +
        "(SELECT doc_id FROM documents WHERE lang = 'en' " +
        "INTERSECT SELECT doc_id FROM documents WHERE n_chars > 300) " +
        "UNION ALL SELECT 'except', doc_id FROM " +
        "(SELECT doc_id FROM documents WHERE lang = 'en' " +
        "EXCEPT SELECT doc_id FROM documents WHERE n_chars > 300)"),
      (s, d) => {
        val docs = T(s, d, "documents")
        val a = docs.filter(col("lang") === "en").select("doc_id")
        val b = docs.filter(col("n_chars") > 300).select("doc_id")
        a.intersect(b).select(lit("intersect").as("op"), col("doc_id"))
          .unionByName(
            a.except(b).select(lit("except").as("op"), col("doc_id")))
      }),

    // SQL window distribution functions over each event_type partition:
    // ntile quartiles plus percent_rank/cume_dist in integer MICRO-UNITS
    // (the percentRankMicro precedent — `(rn-1)·1e6 div (n-1)`, `rn·1e6
    // div n`; the (value, event_id) tiebreak is total, so cume_dist ≡
    // rn/n). Integer div on both engines — no float rounding boundary.
    // The count-over-partition window shares the ranked window's
    // partitioning and sort prefix: one exchange, one sort.
    QueryDef("window_distribution", Some(
      "WITH r AS (SELECT event_type, event_id, " +
        "ntile(4) OVER w AS q4, " +
        "row_number() OVER w AS rn, " +
        "count(*) OVER (PARTITION BY event_type) AS n " +
        "FROM events WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)) " +
        "SELECT event_type, event_id, q4, " +
        "(rn - 1) * 1000000 // greatest(n - 1, 1) AS pr_micro, " +
        "rn * 1000000 // n AS cd_micro FROM r"),
      (s, d) => {
        val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
        val wn = Window.partitionBy("event_type")
        T(s, d, "events").select(col("event_type"), col("event_id"),
          ntile(4).over(w).as("q4"),
          row_number().over(w).as("__rn"),
          count(lit(1)).over(wn).as("__n"))
          .select(col("event_type"), col("event_id"), col("q4"),
            expr("(__rn - 1) * 1000000L div greatest(__n - 1, 1L)").as("pr_micro"),
            expr("__rn * 1000000L div __n").as("cd_micro"))
      }),

    // Robust outlier scan: nearest-rank median and MAD (median absolute
    // deviation) per group — both thresholds are ACTUAL data values, so
    // the outlier counts are engine-exact; 1.4826·MAD ≈ σ under normality
    // is the standard robust z-score scale.
    QueryDef("stats_mad_outliers", Some(
      "WITH g AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1), " +
        "r AS (SELECT event_type, value, event_id, row_number() OVER " +
        "(PARTITION BY event_type ORDER BY value, event_id) AS rn FROM events), " +
        "med AS (SELECT r.event_type, max(CASE WHEN rn = greatest(1, ceil(0.5 * n)) THEN value END) AS med " +
        "FROM r JOIN g USING (event_type) GROUP BY 1), " +
        "dev AS (SELECT e.event_type, abs(e.value - m.med) AS dv, m.med, e.event_id " +
        "FROM events e JOIN med m ON e.event_type = m.event_type), " +
        "rd AS (SELECT event_type, dv, row_number() OVER " +
        "(PARTITION BY event_type ORDER BY dv, event_id) AS rn FROM dev), " +
        "mad AS (SELECT rd.event_type, max(CASE WHEN rn = greatest(1, ceil(0.5 * n)) THEN dv END) AS mad " +
        "FROM rd JOIN g USING (event_type) GROUP BY 1) " +
        "SELECT v.event_type, v.med, d.mad, " +
        "count(*) FILTER (WHERE v.dv > 3 * 1.4826 * d.mad) AS n_outliers, " +
        "count(*) AS n FROM dev v " +
        "JOIN mad d ON v.event_type = d.event_type GROUP BY 1, 2, 3"),
      (s, d) => {
        // ONE corpus pass: the 2-dp-quantized metric collapses to a bounded
        // (type, value, count) frame; median, deviations, MAD and the
        // outlier census are all arithmetic on it (the deviation
        // distribution |v − med| is itself a fold of the count frame — the
        // corpus is never touched again)
        val c = CacheRegistry.register(
          T(s, d, "events").select("event_type", "value")
            .groupBy("event_type", "value").agg(count(lit(1)).as("__c"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val half = (n: Column) => greatest(lit(1L), ceil(lit(0.5) * n))
        val med = operators.Sketches.countFramePicks(c, "event_type",
          "value", "__c", Seq("med" -> half))
        val dvc = c.join(broadcast(med), "event_type")
          .groupBy(col("event_type"), col("med"),
            abs(col("value") - col("med")).as("dv"))
          .agg(sum("__c").as("__c"))
        val mad = operators.Sketches.countFramePicks(dvc, "event_type",
          "dv", "__c", Seq("mad" -> half))
        dvc.join(broadcast(mad), "event_type")
          .groupBy("event_type")
          .agg(first(col("med")).as("med"), first(col("mad")).as("mad"),
            sum(when(col("dv") > lit(3) * lit(1.4826) * col("mad"),
              col("__c")).otherwise(0L)).as("n_outliers"),
            sum(col("__c")).as("n"))
      }),

    // In-engine quality-classifier training (the CCNet/FineWeb "train a
    // quality filter over the corpus" step, proxy-label bootstrap form:
    // distill a rule — here length>300 — into a linear model on cheap
    // features): 2 rounds of full-batch GD on a hard-sigmoid model, one
    // aggregation job per round. Bit-reproducible by construction — hard
    // sigmoid (no exp), per-row gradient terms floored onto the dyadic
    // 2^-20 grid and summed as LONGs (fold-order-free), every double op
    // the same literal expression in both engines. The oracle replays
    // both training rounds in SQL and hash-matches the weights exactly.
    QueryDef("quality_classifier_fit", Some(classifierOracleSql),
      (s, d) => {
        val w = classifierWeights(s, d)
        operators.Classifier.accuracy(T(s, d, "documents"), classifierLabel,
            classifierFeats, w)
          .select(lit(w(0)).as("w0"), lit(w(1)).as("w1"),
            lit(w(2)).as("w2"), lit(w(3)).as("w3"),
            col("n_correct"), col("n"))
      }),

    // The apply side: score EVERY document with the trained weights
    // (row-local codegen — the filter a corpus build applies at scan
    // time). Same bit-reproducibility story: the oracle replays training
    // and scoring, and per-doc double scores hash-match.
    QueryDef("quality_classifier_gate", Some(classifierGateSql),
      (s, d) => {
        val score = operators.Classifier.score(classifierFeats,
          classifierWeights(s, d))
        T(s, d, "documents").select(col("doc_id"), score.as("score"),
          when(score >= 0.5, 1).otherwise(0).as("kept"))
      }),

    // Winsorization at nearest-rank p05/p95: thresholds are ACTUAL data
    // values (row_number pick, no float interpolation), so clip counts and
    // the exact-decimal clipped sum are bit-identical on both engines.
    // The rank window is per-event_type; thresholds broadcast back.
    QueryDef("quality_winsorize", Some(
      "WITH g AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1), " +
        "r AS (SELECT event_type, value, row_number() OVER " +
        "(PARTITION BY event_type ORDER BY value, event_id) AS rn FROM events), " +
        "t AS (SELECT r.event_type, " +
        "max(CASE WHEN rn = greatest(1, ceil(0.05 * n)) THEN value END) AS lo, " +
        "max(CASE WHEN rn = greatest(1, ceil(0.95 * n)) THEN value END) AS hi " +
        "FROM r JOIN g USING (event_type) GROUP BY 1) " +
        "SELECT e.event_type, t.lo AS p05, t.hi AS p95, " +
        "count(*) FILTER (WHERE value < lo) AS n_below, " +
        "count(*) FILTER (WHERE value > hi) AS n_above, " +
        "CAST(sum(CAST(least(greatest(value, lo), hi) AS DECIMAL(18,6))) " +
        "* 1000000 AS BIGINT) AS winsorized_sum_e6 " +
        "FROM events e JOIN t ON e.event_type = t.event_type GROUP BY 1, 2, 3"),
      (s, d) => {
        // same one-pass count-frame shape as stats_mad_outliers: thresholds
        // AND the clipped sum are weighted arithmetic on the bounded
        // (type, value, count) frame — exact, because a decimal times an
        // integer count is the count-fold of exact decimal additions
        val c = CacheRegistry.register(
          T(s, d, "events").select("event_type", "value")
            .groupBy("event_type", "value").agg(count(lit(1)).as("__c"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val thresholds = operators.Sketches.countFramePicks(c, "event_type",
          "value", "__c", Seq(
            "lo" -> ((n: Column) => greatest(lit(1L), ceil(lit(0.05) * n))),
            "hi" -> ((n: Column) => greatest(lit(1L), ceil(lit(0.95) * n)))))
        c.join(broadcast(thresholds), "event_type")
          .groupBy("event_type")
          .agg(first(col("lo")).as("p05"), first(col("hi")).as("p95"),
            sum(when(col("value") < col("lo"), col("__c")).otherwise(0L))
              .as("n_below"),
            sum(when(col("value") > col("hi"), col("__c")).otherwise(0L))
              .as("n_above"),
            // exact decimal clipped sum → 1e-6-unit BIGINT boundary
            (sum(least(greatest(col("value"), col("lo")), col("hi"))
              .cast(DecimalType(18, 6)) * col("__c"))
              * 1000000).cast("long").as("winsorized_sum_e6"))
      }),

    // Snapshot diff: the post-rebuild audit (added/removed/changed/unchanged
    // per language) between two corpus versions. Change detection compares
    // 16-byte map-side content digests — documents never reach the join
    // shuffle. Planted deltas: every 17th doc removed, every 13th edited,
    // every 19th re-added under a new id.
    QueryDef("corpus_snapshot_diff", Some(
      "WITH o AS (SELECT doc_id, text, lang FROM documents), " +
        "n AS (SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END AS text, lang " +
        "FROM documents WHERE doc_id % 17 <> 0 " +
        "UNION ALL SELECT doc_id + 1000000, text, lang FROM documents WHERE doc_id % 19 = 0), " +
        "j AS (SELECT coalesce(n.lang, o.lang) AS lang, " +
        "CASE WHEN o.doc_id IS NULL THEN 'added' WHEN n.doc_id IS NULL THEN 'removed' " +
        "WHEN o.text <> n.text THEN 'changed' ELSE 'unchanged' END AS st " +
        "FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id) " +
        "SELECT lang, CAST(sum(CASE WHEN st = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added, " +
        "CAST(sum(CASE WHEN st = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed, " +
        "CAST(sum(CASE WHEN st = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed, " +
        "CAST(sum(CASE WHEN st = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged " +
        "FROM j GROUP BY 1"),
      (s, d) => {
        val docs = T(s, d, "documents").select("doc_id", "text", "lang")
        val newSnap = docs.filter(col("doc_id") % 17 =!= 0)
          .withColumn("text", when(col("doc_id") % 13 === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")))
          .unionByName(docs.filter(col("doc_id") % 19 === 0)
            .select((col("doc_id") + 1000000).as("doc_id"), col("text"), col("lang")))
        graft.operators.Profile.snapshotDiff(
          docs, newSnap, "doc_id", Seq("text"), Seq("lang"))
      }),

    // C4/RefinedWeb line-level dedup: corpus-global first-occurrence-wins on
    // 8-word text segments, documents rebuilt from survivors; the md5 column
    // pins the rebuilt CONTENT (order included), not just counts.
    QueryDef("dedup_lines", Some(
      "WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents), " +
        "seg AS (SELECT doc_id, CAST(gs.g AS INT) AS seg_idx, " +
        "array_to_string(w[(gs.g*8+1):(gs.g*8+8)], ' ') AS line FROM t, " +
        "LATERAL (SELECT unnest(generate_series(0, CAST(ceil(len(w)/8.0) AS BIGINT)-1)) AS g) gs), " +
        "win AS (SELECT doc_id, seg_idx, line, " +
        "row_number() OVER (PARTITION BY line ORDER BY doc_id, seg_idx) = 1 AS kept FROM seg) " +
        "SELECT doc_id, count(*) AS n_lines, " +
        "CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
        "md5(coalesce(string_agg(CASE WHEN kept THEN line END, chr(10) ORDER BY seg_idx), '')) AS kept_md5 " +
        "FROM win GROUP BY 1"),
      (s, d) => Dedup.lineDedup(T(s, d, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")),

    // IN-DOCUMENT repeated-line removal (RefinedWeb's line-wise correction;
    // dedup_lines above is the cross-corpus sibling): each doc's text is
    // doubled so every 8-word chunk of the first copy repeats (exactly when
    // the word count divides 8; straddled otherwise — both cases pinned),
    // then first-occurrence chunks are kept ROW-LOCALLY by a codegen
    // kernel (plans/DedupWordChunksExpr: one pass + hash set — the
    // interpreted HOF form is O(chunks²) via array_position). No shuffle;
    // the oracle replays the rule with DuckDB's indexed list_filter.
    QueryDef("dedup_lines_indoc", Some(
      "WITH t AS (SELECT doc_id, string_split(trim(text || ' ' || text), ' ') AS w FROM documents), " +
        "c AS (SELECT doc_id, list_transform(range(CAST(ceil(len(w)/8.0) AS BIGINT)), " +
        "g -> array_to_string(w[CAST(g*8+1 AS INT):CAST(g*8+8 AS INT)], ' ')) AS chunks FROM t), " +
        "k AS (SELECT doc_id, chunks, list_filter(chunks, (ch, i) -> list_position(chunks, ch) = i) AS kept FROM c) " +
        "SELECT doc_id, CAST(len(chunks) AS INT) AS n_lines, CAST(len(kept) AS INT) AS n_kept, " +
        "md5(array_to_string(kept, ' ')) AS content_md5 FROM k ORDER BY doc_id"),
      (s, d) => T(s, d, "documents")
        .withColumn("__w", split(trim(concat_ws(" ", col("text"), col("text"))), " "))
        .withColumn("__kept", graft.plans.DedupWordChunksExpr(col("__w"), 8))
        .select(col("doc_id"),
          ceil(size(col("__w")) / 8.0).cast("int").as("n_lines"),
          size(col("__kept")).as("n_kept"),
          md5(array_join(col("__kept"), " ").cast("binary")).as("content_md5"))
        .orderBy("doc_id")),

    QueryDef("dedup_jaccard_words", Some(
      "WITH w AS (SELECT doc_id, lang, list_distinct(string_split(lower(text), ' ')) AS ws FROM documents) " +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) / " +
        "len(list_distinct(list_concat(a.ws, b.ws))), 6) AS jaccard " +
        "FROM w a JOIN w b ON a.lang = b.lang AND a.doc_id < b.doc_id " +
        "WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) / " +
        "len(list_distinct(list_concat(a.ws, b.ws))) >= 0.9"),
      // exact PPJoin-style prefix filtering: same output as the oracle's
      // blocked all-pairs join, but candidates come from an inverted-index
      // equi-join on each doc's rarest tokens — near-linear, not n²/|lang|
      (s, d) => jaccardPairs(s, d)),

    // The dedup endgame: near-dup pairs → connected components → one
    // canonical doc per cluster (Lee et al. ACL'22 pipeline). Spark side is
    // iterative min-label propagation + pointer jumping; the oracle unrolls
    // the SAME iteration (ccClosureSql) over the identical pair predicate —
    // DuckDB-feasible at bench scale, unlike the former recursive
    // reachability closure.
    QueryDef("dedup_clusters", Some(
      s"WITH ${ccClosureSql(rounds = 8)} " +
        "SELECT doc_id, cluster_id, " +
        "CAST(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END AS INT) AS is_canonical " +
        "FROM cl ORDER BY doc_id"),
      (s, d) => clusterAssignments(s, d)
        .select(col("doc_id"), col("cluster_id"),
          (col("doc_id") === col("cluster_id")).cast("int").as("is_canonical"))
        .orderBy("doc_id")),

    // The user-facing dedup rollup: per language, how many docs survive
    // cluster-canonical selection and what fraction was removed.
    QueryDef("dedup_summary", Some(
      s"WITH ${ccClosureSql(rounds = 8)} " +
        "SELECT d.lang, count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN cl.doc_id = cl.cluster_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
        "CAST(sum(CASE WHEN cl.doc_id <> cl.cluster_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped, " +
        "round(100.0 * sum(CASE WHEN cl.doc_id <> cl.cluster_id THEN 1 ELSE 0 END) / count(*), 2) AS pct_dropped " +
        "FROM cl JOIN documents d ON d.doc_id = cl.doc_id " +
        "GROUP BY d.lang ORDER BY d.lang"),
      (s, d) => clusterAssignments(s, d)
          .join(T(s, d, "documents").select("doc_id", "lang"), "doc_id")
          .groupBy("lang").agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("doc_id") === col("cluster_id"), 1).otherwise(0))
              .cast("long").as("n_kept"),
            sum(when(col("doc_id") =!= col("cluster_id"), 1).otherwise(0))
              .cast("long").as("n_dropped"),
            round(lit(100.0) * sum(when(col("doc_id") =!= col("cluster_id"), 1).otherwise(0)) /
              count(lit(1)), 2).as("pct_dropped"))
          .orderBy("lang")),

    // Quality-aware canonical selection: within each near-dup cluster keep
    // the doc with the MOST tokens (the C4/RefinedWeb "keep the longest
    // variant" heuristic — a truncated copy should never shadow the full
    // text), ties to the lowest id. Reuses the materialized cluster mart;
    // the pick is a cluster-PARTITIONED row_number window (hash-
    // distributed by cluster — no global sort), the integer token count is
    // the shared tokensWs source of truth.
    QueryDef("dedup_keep_best", Some(
      s"WITH ${ccClosureSql(rounds = 8)}, " +
        "q AS (SELECT doc_id, " + tokensWsSql + " AS tok FROM documents), " +
        "j AS (SELECT cl.cluster_id, cl.doc_id, q.tok, " +
        "CAST(count(*) OVER (PARTITION BY cl.cluster_id) AS BIGINT) AS n_members, " +
        "row_number() OVER (PARTITION BY cl.cluster_id ORDER BY q.tok DESC, cl.doc_id ASC) AS rn " +
        "FROM cl JOIN q USING (doc_id)) " +
        "SELECT cluster_id, n_members, doc_id AS kept_doc_id, CAST(tok AS BIGINT) AS kept_tokens " +
        "FROM j WHERE rn = 1 ORDER BY cluster_id"),
      (s, d) => {
        val j = clusterAssignments(s, d)
          .join(T(s, d, "documents").select(col("doc_id"), tokensWs.as("tok")), "doc_id")
        val byCluster = Window.partitionBy("cluster_id")
        j.withColumn("n_members", count(lit(1)).over(byCluster))
          .withColumn("rn", row_number().over(
            byCluster.orderBy(col("tok").desc, col("doc_id").asc)))
          .filter(col("rn") === 1)
          .select(col("cluster_id"), col("n_members"),
            col("doc_id").as("kept_doc_id"), col("tok").as("kept_tokens"))
          .orderBy("cluster_id")
      }),

    // MinHash-LSH IS oracle-able: every stage is wrap-arithmetic DuckDB can
    // reproduce in HUGEINT mod-2^64 (FNV-1a word hashes, rolling shingle
    // hashes, the universal-hash signature mins via a 32-bit-split mulmod),
    // and Spark's xxhash64 band key never needs reproducing — band-key
    // equality ⟺ signature-slice equality. Signed mins map through the
    // order-preserving bijection xor(·, 2^63) so slice equality matches.
    QueryDef("dedup_minhash_lsh", Some(
      "WITH u AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 1000000, regexp_replace(text, '^\\S+\\s+', '') FROM documents), " +
        "w0 AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS words FROM u), " +
        "wh AS (SELECT doc_id, list_transform(words, w -> " +
        "list_reduce(list_prepend(14695981039346656037::HUGEINT, " +
        "list_transform(regexp_extract_all(w, '.'), c -> unicode(c)::HUGEINT)), " +
        "(acc, x) -> (xor(acc, x) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT)) AS wl, " +
        "len(words) AS m FROM w0), " +
        "sh AS (SELECT doc_id, list_distinct(list_transform(range(greatest(1, m - 2)), " +
        "i -> list_reduce(list_prepend(14695981039346656037::HUGEINT, " +
        "list_slice(wl, CAST(i AS INT) + 1, least(CAST(i AS INT) + 3, m))), " +
        "(acc, x) -> (xor(acc, x) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT))) AS shingles FROM wh), " +
        "consts AS (SELECT CAST(i AS INT) AS i, " +
        "(11400714819323198485::HUGEINT * (2*CAST(i AS INT) + 1)::HUGEINT) % 18446744073709551616::HUGEINT AS a, " +
        "(14029467366897019727::HUGEINT * (CAST(i AS INT) + 1)::HUGEINT) % 18446744073709551616::HUGEINT AS b " +
        "FROM UNNEST(range(64)) AS t(i)), " +
        "shx AS (SELECT doc_id, unnest(shingles) AS h FROM sh), " +
        "mins AS (SELECT doc_id, i, min(xor((((a * (h >> 32)) % 4294967296::HUGEINT) * 4294967296::HUGEINT " +
        "+ a * (h % 4294967296::HUGEINT) + b) % 18446744073709551616::HUGEINT, " +
        "9223372036854775808::HUGEINT)) AS v FROM shx CROSS JOIN consts GROUP BY doc_id, i), " +
        "bands AS (SELECT doc_id, i // 4 AS bb, string_agg(CAST(v AS VARCHAR), ',' ORDER BY i) AS key " +
        "FROM mins GROUP BY doc_id, i // 4), " +
        "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b " +
        "FROM bands a JOIN bands b ON a.bb = b.bb AND a.key = b.key AND a.doc_id < b.doc_id) " +
        "SELECT c.id_a, c.id_b, round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) / " +
        "len(list_distinct(list_concat(sa.shingles, sb.shingles))), 6) AS jaccard " +
        "FROM cand c JOIN sh sa ON sa.doc_id = c.id_a JOIN sh sb ON sb.doc_id = c.id_b " +
        "WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) / " +
        "len(list_distinct(list_concat(sa.shingles, sb.shingles))) >= 0.5 " +
        "ORDER BY id_a, id_b"),
      (s, d) => {
        val docs = T(s, d, "documents").select(col("doc_id"), col("text"))
        // plant near-duplicates: same text minus its first word, id + 1000000
        val variants = docs.select((col("doc_id") + 1000000).as("doc_id"),
          regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
        Dedup.minHashLshPairs(docs.union(variants), "doc_id", "text",
          shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5)
          .orderBy("id_a", "id_b")
      }),

    // Incremental (cross-batch) dedup: history = doc_id < 400; the new
    // batch = the remaining docs + planted exact copies (ids +2000000, of
    // history docs 100..149) + planted near-dup variants (ids +1000000,
    // first word dropped, of history docs < 100). The oracle reuses the
    // proven minhash SQL blocks over the combined corpus and probes batch
    // bands against history bands only — same asymmetric join as the
    // engine.
    QueryDef("dedup_incremental", Some(
      "WITH hist AS (SELECT doc_id, text FROM documents WHERE doc_id < 400), " +
        "nb AS (SELECT doc_id, text FROM documents WHERE doc_id >= 400 " +
        "UNION ALL SELECT doc_id + 1000000, regexp_replace(text, '^\\S+\\s+', '') FROM documents WHERE doc_id < 100 " +
        "UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id >= 100 AND doc_id < 150), " +
        "u AS (SELECT doc_id, text FROM hist UNION ALL SELECT doc_id, text FROM nb), " +
        "w0 AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS words FROM u), " +
        "wh AS (SELECT doc_id, list_transform(words, w -> " +
        "list_reduce(list_prepend(14695981039346656037::HUGEINT, " +
        "list_transform(regexp_extract_all(w, '.'), c -> unicode(c)::HUGEINT)), " +
        "(acc, x) -> (xor(acc, x) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT)) AS wl, " +
        "len(words) AS m FROM w0), " +
        "sh AS (SELECT doc_id, list_distinct(list_transform(range(greatest(1, m - 2)), " +
        "i -> list_reduce(list_prepend(14695981039346656037::HUGEINT, " +
        "list_slice(wl, CAST(i AS INT) + 1, least(CAST(i AS INT) + 3, m))), " +
        "(acc, x) -> (xor(acc, x) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT))) AS shingles FROM wh), " +
        "consts AS (SELECT CAST(i AS INT) AS i, " +
        "(11400714819323198485::HUGEINT * (2*CAST(i AS INT) + 1)::HUGEINT) % 18446744073709551616::HUGEINT AS a, " +
        "(14029467366897019727::HUGEINT * (CAST(i AS INT) + 1)::HUGEINT) % 18446744073709551616::HUGEINT AS b " +
        "FROM UNNEST(range(64)) AS t(i)), " +
        "shx AS (SELECT doc_id, unnest(shingles) AS h FROM sh), " +
        "mins AS (SELECT doc_id, i, min(xor((((a * (h >> 32)) % 4294967296::HUGEINT) * 4294967296::HUGEINT " +
        "+ a * (h % 4294967296::HUGEINT) + b) % 18446744073709551616::HUGEINT, " +
        "9223372036854775808::HUGEINT)) AS v FROM shx CROSS JOIN consts GROUP BY doc_id, i), " +
        "bnd AS (SELECT doc_id, i // 4 AS bb, string_agg(CAST(v AS VARCHAR), ',' ORDER BY i) AS key " +
        "FROM mins GROUP BY doc_id, i // 4), " +
        "cand AS (SELECT DISTINCT b.doc_id AS bid, h.doc_id AS hid " +
        "FROM bnd b JOIN bnd h ON b.bb = h.bb AND b.key = h.key " +
        "AND b.doc_id >= 400 AND h.doc_id < 400), " +
        "near AS (SELECT DISTINCT c.bid FROM cand c " +
        "JOIN sh sa ON sa.doc_id = c.bid JOIN sh sb ON sb.doc_id = c.hid " +
        "WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) / " +
        "len(list_distinct(list_concat(sa.shingles, sb.shingles))) >= 0.5), " +
        "hd AS (SELECT DISTINCT md5(text) AS dg FROM hist) " +
        "SELECT doc_id, md5(text) IN (SELECT dg FROM hd) AS dup_exact, " +
        "doc_id IN (SELECT bid FROM near) AS dup_near, " +
        "NOT (md5(text) IN (SELECT dg FROM hd) OR doc_id IN (SELECT bid FROM near)) AS admitted " +
        "FROM nb ORDER BY doc_id"),
      (s, d) => {
        val docs = T(s, d, "documents").select(col("doc_id"), col("text"))
        val hist = docs.filter(col("doc_id") < 400)
        val batch = docs.filter(col("doc_id") >= 400)
          .unionByName(docs.filter(col("doc_id") < 100)
            .select((col("doc_id") + 1000000).as("doc_id"),
              regexp_replace(col("text"), "^\\S+\\s+", "").as("text")))
          .unionByName(docs.filter(col("doc_id") >= 100 && col("doc_id") < 150)
            .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
        Dedup.incrementalDedup(hist, batch, "doc_id", "text",
          shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5)
          .orderBy("doc_id")
      }),

    // SimHash too: FNV-1a token hashes + per-bit votes + popcount are all
    // HUGEINT-expressible; output = exactly the hamming<=3 pairs
    QueryDef("dedup_simhash", Some(
      "WITH u AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 1000000, regexp_replace(text, '^\\S+\\s+', '') FROM documents), " +
        "tok AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok FROM u), " +
        "th AS (SELECT doc_id, list_reduce(list_prepend(14695981039346656037::HUGEINT, " +
        "list_transform(regexp_extract_all(tok, '.'), c -> unicode(c)::HUGEINT)), " +
        "(acc, x) -> (xor(acc, x) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT) AS h FROM tok), " +
        "bits AS (SELECT doc_id, b, sum(CASE WHEN (h >> CAST(b AS INT)) % 2 = 1 THEN 1 ELSE -1 END) AS vote " +
        "FROM th, UNNEST(range(64)) AS t(b) GROUP BY 1, 2), " +
        "sig AS (SELECT doc_id, sum(CASE WHEN vote > 0 THEN (1::HUGEINT << CAST(b AS INT)) " +
        "ELSE 0::HUGEINT END) AS s FROM bits GROUP BY 1) " +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "CAST(bit_count(CAST(CASE WHEN x >= 9223372036854775808::HUGEINT " +
        "THEN x - 18446744073709551616::HUGEINT ELSE x END AS BIGINT)) AS INT) AS hamming " +
        "FROM (SELECT sig.doc_id, s FROM sig) a JOIN (SELECT sig.doc_id, s FROM sig) b " +
        "ON a.doc_id < b.doc_id, LATERAL (SELECT xor(a.s, b.s) AS x) t " +
        "WHERE bit_count(CAST(CASE WHEN x >= 9223372036854775808::HUGEINT " +
        "THEN x - 18446744073709551616::HUGEINT ELSE x END AS BIGINT)) <= 3 " +
        "ORDER BY id_a, id_b"),
      (s, d) => {
        val docs = T(s, d, "documents").select(col("doc_id"), col("text"))
        val variants = docs.select((col("doc_id") + 1000000).as("doc_id"),
          regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
        Dedup.simHashPairs(docs.union(variants), "doc_id", "text", maxHamming = 3)
          .orderBy("id_a", "id_b")
      }),

    // winnowing fingerprints (MOSS): doc pairs sharing a selected 24-char
    // gram — catches every shared substring of ≥35 normalized chars
    // (k+w-1). The oracle replays the exact kernel: rolling fingerprint64
    // polynomial per position (HUGEINT mod-2^64 wrap), per-window rightmost
    // min (len - list_position(list_reverse(...)) gives the rightmost tie),
    // gram join on the substrings themselves.
    // Directed containment near-dups (Broder '97 C(A,B) = |∩|/|S(A)|):
    // catches small-doc-inside-big-doc duplication that symmetric Jaccard
    // dilutes. Spark joins 64-bit shingle HASHES (codegen, 8-byte
    // payloads); the oracle joins the 5-gram STRINGS — equal counts absent
    // 2⁻⁶⁴ collisions, the dedup_jaccard_words equivalence. Threshold is
    // the integer form 2·inter ≥ sz_a (C ≥ 0.5) — no float boundary.
    QueryDef("dedup_containment", Some(
      "WITH t AS (SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents), " +
        // <5-word docs fall back to ONE whole-doc gram — the ShingleKernel
        // semantic text_decontaminate's oracle also mirrors
        "s AS (SELECT doc_id, lang, list_distinct(CASE WHEN len(w) >= 5 " +
        "THEN list_transform(range(len(w) - 4), " +
        "i -> list_aggregate(list_slice(w, CAST(i AS INT) + 1, CAST(i AS INT) + 5), 'string_agg', ' ')) " +
        "ELSE [array_to_string(w, ' ')] END) AS sh FROM t), " +
        "sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS sz FROM s), " +
        "e AS (SELECT doc_id, lang, unnest(sh) AS g FROM s), " +
        "pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter " +
        "FROM e a JOIN e b ON a.lang = b.lang AND a.g = b.g AND a.doc_id <> b.doc_id GROUP BY 1, 2) " +
        "SELECT id_a, id_b, inter, sz.sz AS sz_a, inter * 1000000 // sz.sz AS cont_micro " +
        "FROM pr JOIN sz ON sz.doc_id = pr.id_a WHERE 2 * inter >= sz.sz " +
        "ORDER BY id_a, id_b"),
      (s, d) => operators.Dedup.containmentPairs(
          T(s, d, "documents"), "doc_id", "text", col("lang"),
          shingleSize = 5, num = 1, den = 2)
        .orderBy("id_a", "id_b")),

    QueryDef("dedup_winnow", Some(
      "WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), " +
        "'[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS nrm FROM documents), " +
        "c AS (SELECT doc_id, nrm, length(nrm) AS ln, " +
        "list_transform(regexp_extract_all(nrm, '.'), ch -> unicode(ch)::HUGEINT) AS cs FROM n), " +
        "hh AS (SELECT doc_id, nrm, ln, CASE WHEN ln < 24 THEN [] ELSE " +
        "list_transform(range(1, ln - 22), i -> " +
        "list_reduce(list_prepend(1125899906842597::HUGEINT, cs[i:i+23]), " +
        "(a, x) -> (31*a + x) % 18446744073709551616::HUGEINT)) END AS hs FROM c), " +
        "sel AS (SELECT doc_id, nrm, CASE WHEN ln < 24 THEN [0] ELSE " +
        "list_distinct(list_transform(range(1, greatest(len(hs) - 11, 1) + 1), j -> " +
        "j + len(hs[j:least(j+11, len(hs))]) " +
        "- list_position(list_reverse(hs[j:least(j+11, len(hs))]), " +
        "list_min(hs[j:least(j+11, len(hs))])) - 1)) END AS ps FROM hh), " +
        "g AS (SELECT DISTINCT doc_id, unnest(list_transform(ps, p -> substr(nrm, p + 1, 24))) AS gram FROM sel) " +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_shared " +
        "FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2 ORDER BY id_a, id_b"),
      (s, d) => Dedup.winnowPairs(T(s, d, "documents"), "doc_id", "text",
          k = 24, w = 12)
        .orderBy("id_a", "id_b")),

    // ExactSubstr-style duplicated-span removal list (Lee et al.
    // arXiv:2107.06499): maximal token intervals covered by 8-token windows
    // occurring >1× corpus-wide. Engine shuffles only (hash128, doc, pos)
    // rows and counts occurrences with a single window-over-key shuffle;
    // the oracle groups the gram STRINGS — agreement also certifies the
    // 128-bit key carries no collision at this scale.
    QueryDef("dedup_substring", Some(
      "WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents), " +
        "g0 AS (SELECT doc_id, w, unnest(range(len(w) - 7)) AS i FROM t WHERE len(w) >= 8), " +
        "g AS (SELECT doc_id, CAST(i AS BIGINT) AS s, " +
        "array_to_string(w[CAST(i AS INT) + 1:CAST(i AS INT) + 8], ' ') AS gram FROM g0), " +
        "c AS (SELECT doc_id, s, count(*) OVER (PARTITION BY gram) AS occ FROM g), " +
        "o AS (SELECT doc_id, s, s + 7 AS e FROM c WHERE occ > 1), " +
        "m AS (SELECT doc_id, s, e, max(e) OVER (PARTITION BY doc_id ORDER BY s " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme FROM o), " +
        "i AS (SELECT doc_id, s, e, sum(CASE WHEN pme IS NULL OR s > pme + 1 THEN 1 ELSE 0 END) " +
        "OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS isl FROM m) " +
        "SELECT doc_id, CAST(min(s) AS BIGINT) AS span_start, CAST(max(e) AS BIGINT) AS span_end, " +
        "CAST(max(e) - min(s) + 1 AS BIGINT) AS span_tokens, CAST(count(*) AS BIGINT) AS n_windows " +
        "FROM i GROUP BY doc_id, isl ORDER BY doc_id, span_start"),
      (s, d) => Dedup.substringSpans(fanOut(T(s, d, "documents")),
          "doc_id", "text", k = 8)
        .orderBy("doc_id", "span_start")),

    // two-level bucket (label, 3 axis-aligned hyperplane sign bits): the
    // single-probe LSH scale path — ~8× fewer candidate pairs than
    // label-only blocking, and still SQL-expressible for the oracle
    QueryDef("dedup_embed_cosine", Some(
      "SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
        "round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cosine " +
        "FROM embeddings a JOIN embeddings b ON a.label = b.label " +
        "AND (a.embedding[1] >= 0) = (b.embedding[1] >= 0) " +
        "AND (a.embedding[2] >= 0) = (b.embedding[2] >= 0) " +
        "AND (a.embedding[3] >= 0) = (b.embedding[3] >= 0) " +
        "AND a.vec_id < b.vec_id " +
        "WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.25"),
      (s, d) => Dedup.embeddingCosinePairs(
        T(s, d, "embeddings").withColumn("embedding", col("embedding").cast("array<double>")),
        "vec_id", "embedding",
        struct(col("label"),
          element_at(col("embedding"), 1) >= 0,
          element_at(col("embedding"), 2) >= 0,
          element_at(col("embedding"), 3) >= 0), 0.25)),

    // SemDeDup: k-means cells (the proven 2-iteration deterministic fit),
    // then inside each cell drop every vector with a cosine>=0.3 neighbor
    // that sits nearer the centroid (ties -> lower id). Oracle composes the
    // sim_kmeans SQL blocks with the within-cell pairwise rule; distances
    // and cosines are left-fold IEEE on both sides, so the kept set matches
    // exactly.
    QueryDef("dedup_semantic", Some {
      val D = 64; val K = 8
      def distList(v: String, cs: String): String = KmeansSql.distList(D, v, cs)
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        KmeansSql.trainBlock("", "e", D, K) + ", " +
        "cells AS (SELECT vec_id, v, CAST(list_position(ds, list_min(ds)) AS INT) - 1 AS cell, list_min(ds) AS dc, " +
        "sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(v, x -> x * x)), (a, x) -> a + x)) AS nrm FROM " +
        s"(SELECT vec_id, v, ${distList("v", "(SELECT cs FROM c2)")} AS ds FROM e) tf), " +
        "losers AS (SELECT DISTINCT a.vec_id FROM cells a JOIN cells b " +
        "ON a.cell = b.cell AND a.vec_id <> b.vec_id " +
        "AND (b.dc < a.dc OR (b.dc = a.dc AND b.vec_id < a.vec_id)) " +
        s"AND list_reduce(list_prepend(0.0::DOUBLE, list_transform(range($D), " +
        "dd -> a.v[CAST(dd AS INT)+1] * b.v[CAST(dd AS INT)+1])), (acc, x) -> acc + x) / (a.nrm * b.nrm) >= 0.3) " +
        "SELECT vec_id, cell, vec_id NOT IN (SELECT vec_id FROM losers) AS kept " +
        "FROM cells ORDER BY vec_id"
    },
      (s, d) => {
        val e = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val cents = kmeans8(s, d)
        Dedup.semanticDedup(e, "vec_id", "v", cents, threshold = 0.3)
          .orderBy("vec_id")
      }),

    QueryDef("sim_topk_brute", Some(
      "WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 5), " +
        "c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
        "list_cosine_similarity(q.v, c.v) AS cos FROM q CROSS JOIN c WHERE q.vec_id <> c.vec_id) " +
        "SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rank FROM " +
        "(SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank " +
        "FROM scored) WHERE rank <= 10"),
      (s, d) => {
        val e = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
        Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
      }),

    // Per-class embedding compactness: centroid (6dp per-dim mean) +
    // summed member→centroid cosine in 1e-6 fixed point — the label-quality
    // audit before semantic dedup / stratified sampling trusts the labels.
    QueryDef("embed_class_stats", Some(
      "WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "u AS (SELECT label, unnest(range(len(v))) AS pos, unnest(v) AS x FROM e), " +
        "m AS (SELECT label, pos, round(avg(x), 6) AS m FROM u GROUP BY 1, 2), " +
        "c AS (SELECT label, list(m ORDER BY pos) AS cent FROM m GROUP BY label), " +
        "j AS (SELECT e.label, round(list_cosine_similarity(e.v, c.cent), 6) AS cos " +
        "FROM e JOIN c USING (label)) " +
        "SELECT label, CAST(count(*) AS BIGINT) AS n_vecs, " +
        "CAST(sum(CAST(cos AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_cos_1e6 " +
        "FROM j GROUP BY label ORDER BY label"),
      (s, d) => Similarity.classStats(T(s, d, "embeddings"), "embedding", "label")
        .orderBy("label")),

    // Contrastive hard negatives: per query, top-5 most-similar vectors
    // with a DIFFERENT label (the DPR-style mining step). Brute-exact like
    // sim_topk_brute; the label-mismatch predicate rides the broadcast join.
    QueryDef("sim_hard_negatives", Some(
      "WITH q AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 10), " +
        "c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
        "list_cosine_similarity(q.v, c.v) AS cos FROM q CROSS JOIN c " +
        "WHERE q.label <> c.label AND q.vec_id <> c.vec_id) " +
        "SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rank FROM " +
        "(SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank " +
        "FROM scored) WHERE rank <= 5"),
      (s, d) => {
        val e = T(s, d, "embeddings")
          .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("embedding"))
        Similarity.hardNegatives(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", "label", 5)
      }),

    // IVF coarse quantization: nearest of two fixed centroids, computed
    // with built-ins (zip_with/aggregate) — ties resolve to the lower cell
    QueryDef("sim_ivf_assign", Some(
      "SELECT vec_id, CASE WHEN list_distance(CAST(embedding AS DOUBLE[]), " +
        "list_transform(range(64), x -> 0.25)) <= " +
        "list_distance(CAST(embedding AS DOUBLE[]), list_transform(range(64), x -> 0.75)) " +
        "THEN 0 ELSE 1 END AS cell FROM embeddings"),
      (s, d) => T(s, d, "embeddings")
        .select(col("vec_id"), Similarity.ivfCellId(
          col("embedding").cast("array<double>"),
          Seq(Seq.fill(64)(0.25), Seq.fill(64)(0.75))).as("cell")),
    ),

    // IVF-restricted search: corpus partitioned into 2 fixed centroid cells,
    // each query probes its nearest cell (nProbe=1) and reranks by exact
    // cosine — candidate set and ranks reproduce exactly in SQL (the cell
    // CASE mirrors sim_ivf_assign; cosine folds share IEEE order)
    // The full ANN pipeline end-to-end: TRAIN the quantizer (2 Lloyd
    // iterations), INDEX the corpus into its cells, SEARCH with nProbe=2
    // and exact-cosine rerank — every stage from the proven sim_kmeans /
    // sim_topk_ivf building blocks, composed.
    QueryDef("sim_topk_kmeans", Some {
      val D = 64; val K = 8
      def distList(v: String, cs: String): String = KmeansSql.distList(D, v, cs)
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        KmeansSql.trainBlock("", "e", D, K) + ", " +
        "cells AS (SELECT vec_id, v, CAST(list_position(ds, list_min(ds)) AS INT) - 1 AS cell, " +
        "sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(v, x -> x * x)), (a, x) -> a + x)) AS nrm FROM " +
        s"(SELECT vec_id, v, ${distList("v", "(SELECT cs FROM c2)")} AS ds FROM e) tf), " +
        s"qp AS (SELECT vec_id, v, nrm, unnest(list_transform(list_sort(list_transform(range($K), " +
        "k -> {'d': ds[CAST(k AS INT)+1], 'cell': CAST(k AS INT)})), p -> p.cell)[1:2]) AS cell FROM " +
        s"(SELECT vec_id, v, nrm, ${distList("v", "(SELECT cs FROM c2)")} AS ds FROM cells WHERE vec_id < 5) tq), " +
        "scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
        s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range($D), " +
        "dd -> q.v[CAST(dd AS INT)+1] * c.v[CAST(dd AS INT)+1])), (a, x) -> a + x) / (q.nrm * c.nrm) AS cos " +
        "FROM qp q JOIN cells c ON q.cell = c.cell AND q.vec_id <> c.vec_id), " +
        "ranked AS (SELECT query_id, neighbor_id, cos, CAST(row_number() OVER " +
        "(PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank FROM scored) " +
        "SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rank " +
        "FROM ranked WHERE rank <= 10 ORDER BY query_id, rank"
    },
      (s, d) => {
        val e = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val cents = kmeans8(s, d)
        Similarity.ivfTopK(e, e.filter(col("vec_id") < 5), "vec_id", "v", 10,
            cents, nProbe = 2)
          .orderBy("query_id", "rank")
      }),

    // Natively-trained IVF quantizer: 2 deterministic Lloyd iterations
    // (init = 8 lowest-id vectors, exact argmin assignment with tie→lower
    // cell, per-dim means rounded to 6dp so engine summation order can't
    // leak in), then the final cell assignment. The oracle unrolls both
    // iterations in SQL with the proven left-fold distance pattern.
    QueryDef("sim_kmeans", Some {
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        KmeansSql.subBlock("", "e", 64, 8) + " " +
        "SELECT vec_id, CAST(list_position(ds, list_min(ds)) AS INT) - 1 AS cell FROM fin ORDER BY vec_id"
    },
      (s, d) => {
        val e = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val cents = kmeans8(s, d)
        e.select(col("vec_id"), Similarity.ivfCellId(col("v"), cents).as("cell"))
          .orderBy("vec_id")
      }),

    // Distributed PC1 fit (uncentered PCA, 2 power-iteration rounds):
    // each round is ONE scan + ONE 64-group aggregation whose LONG grid
    // sums are fold-order-free, so the fitted component hash-matches the
    // oracle's replay bit-for-bit (the quality_classifier_fit story for
    // vectors). Output = round 2's raw aggregate: (pos, g, w=(g/2²⁰)/n).
    QueryDef("embed_pca_power", Some(
      pcaCtes +
        " SELECT CAST(pos AS BIGINT) AS pos, g, " +
        "(CAST(g AS DOUBLE)/1048576.0)/n AS w FROM g2"),
      (s, d) => {
        val w1 = pcaRounds(s, d).head
        operators.Pca.iterFrame(
            T(s, d, "embeddings")
              .select(col("embedding").cast("array<double>").as("v")),
            "v", w1)
          .select(col("pos"), col("g"),
            ((col("g").cast("double") / lit(operators.Pca.GridScale)) / col("n"))
              .as("w"))
      }),

    // The apply side: every embedding's projection onto the unit PC1 in
    // 2⁻²⁰ fixed point — pure codegen scan (the scan-time dimensionality
    // squash a curation pipeline applies). The oracle normalizes its
    // replayed component with the same ascending-fold norm and floors the
    // same dot, so per-row LONG scores hash-match.
    QueryDef("embed_pca_project", Some(
      pcaCtes + ", " +
        "w2 AS (SELECT list((CAST(g AS DOUBLE)/1048576.0)/n ORDER BY pos) AS w FROM g2), " +
        "wn AS (SELECT list_transform(w, x -> x / sqrt(list_inner_product(w, w))) AS w FROM w2) " +
        "SELECT vec_id, label, CAST(floor(list_inner_product(v, (SELECT w FROM wn)) * 1048576.0) AS BIGINT) " +
        "AS pc1_micro FROM e"),
      (s, d) => {
        val wUnit = operators.Pca.unitize(pcaRounds(s, d)(1))
        T(s, d, "embeddings").select(col("vec_id"), col("label"),
          operators.Pca.project(col("embedding").cast("array<double>"), wUnit)
            .as("pc1_micro"))
      }),

    // product quantization (2×32-dim subspaces, 4-centroid codebooks, 2
    // Lloyd iterations each): codes + squared reconstruction error. The
    // oracle unrolls BOTH subspace k-means runs with the sim_kmeans SQL
    // machinery over sliced vectors; same init (first K by vec_id), same
    // 6dp centroid rounding, same tie rule (list_position on the min =
    // lowest cell).
    QueryDef("embed_pq_codes", Some {
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "e0 AS (SELECT vec_id, v[1:32] AS v FROM e), " +
        "e1 AS (SELECT vec_id, v[33:64] AS v FROM e), " +
        KmeansSql.subBlock("s0", "e0", 32, 4) + ", " +
        KmeansSql.subBlock("s1", "e1", 32, 4) + ", " +
        "a0 AS (SELECT vec_id, CAST(list_position(ds, list_min(ds)) AS INT) - 1 AS code0, " +
        "list_min(ds) AS d0 FROM s0fin), " +
        "a1 AS (SELECT vec_id, CAST(list_position(ds, list_min(ds)) AS INT) - 1 AS code1, " +
        "list_min(ds) AS d1 FROM s1fin) " +
        "SELECT a0.vec_id, code0, code1, round(d0 + d1, 6) AS err " +
        "FROM a0 JOIN a1 USING (vec_id) ORDER BY vec_id"
    },
      (s, d) => {
        val e = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val books = pqBooks2x4(s, d)
        Similarity.pqEncode(e, "vec_id", "v", books, dims = 64)
          .orderBy("vec_id")
      }),

    // PQ-ADC search over the trained codebooks: the oracle's s0fin/s1fin
    // distance lists ARE the per-query ADC tables (distances to the final
    // rounded centroids in cell order), so the approximate distance is two
    // list lookups on the neighbor's codes — evaluation order d0+d1 matches
    // the Spark reduce exactly.
    QueryDef("sim_topk_pq", Some {
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "e0 AS (SELECT vec_id, v[1:32] AS v FROM e), " +
        "e1 AS (SELECT vec_id, v[33:64] AS v FROM e), " +
        KmeansSql.subBlock("s0", "e0", 32, 4) + ", " +
        KmeansSql.subBlock("s1", "e1", 32, 4) + ", " +
        "a0 AS (SELECT vec_id, CAST(list_position(ds, list_min(ds)) AS INT) - 1 AS code0 FROM s0fin), " +
        "a1 AS (SELECT vec_id, CAST(list_position(ds, list_min(ds)) AS INT) - 1 AS code1 FROM s1fin), " +
        "cand AS (SELECT q0.vec_id AS query_id, a0.vec_id AS neighbor_id, " +
        "q0.ds[code0 + 1] + q1.ds[code1 + 1] AS score " +
        "FROM s0fin q0 JOIN s1fin q1 ON q0.vec_id = q1.vec_id " +
        "CROSS JOIN a0 JOIN a1 ON a0.vec_id = a1.vec_id " +
        "WHERE q0.vec_id < 5 AND a0.vec_id <> q0.vec_id), " +
        "ranked AS (SELECT query_id, neighbor_id, score, " +
        "CAST(row_number() OVER (PARTITION BY query_id ORDER BY score ASC, neighbor_id ASC) AS INT) AS rank " +
        "FROM cand) " +
        "SELECT query_id, neighbor_id, round(score, 6) AS adc_dist, rank " +
        "FROM ranked WHERE rank <= 10 ORDER BY query_id, rank"
    },
      (s, d) => {
        val e = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val books = pqBooks2x4(s, d)
        Similarity.pqTopK(e, e.filter(col("vec_id") < 5), "vec_id", "v", 10,
            books, dims = 64)
          .orderBy("query_id", "rank")
      }),

    QueryDef("sim_topk_ivf", Some(
      "WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "cells AS (SELECT vec_id, v, CASE WHEN list_distance(v, list_transform(range(64), x -> 0.25)) <= " +
        "list_distance(v, list_transform(range(64), x -> 0.75)) THEN 0 ELSE 1 END AS cell, " +
        "sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(v, x -> x * x)), (a, x) -> a + x)) AS nrm " +
        "FROM vecs), " +
        "scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
        "list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(64), " +
        "dd -> q.v[CAST(dd AS INT)+1] * c.v[CAST(dd AS INT)+1])), (a, x) -> a + x) / (q.nrm * c.nrm) AS cos " +
        "FROM cells q JOIN cells c ON q.cell = c.cell AND q.vec_id <> c.vec_id WHERE q.vec_id < 5), " +
        "ranked AS (SELECT query_id, neighbor_id, cos, " +
        "CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank FROM scored) " +
        "SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rank " +
        "FROM ranked WHERE rank <= 10 ORDER BY query_id, rank"),
      (s, d) => {
        val e = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
        Similarity.ivfTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 10,
            Seq(Seq.fill(64)(0.25), Seq.fill(64)(0.75)), nProbe = 1)
          .orderBy("query_id", "rank")
      }),

    // approximate, but fully DETERMINISTIC: plane components are FNV-derived
    // doubles, and both engines evaluate the dot/norm folds in the same
    // left-to-right IEEE order (list_reduce ⟷ the UDF's ascending-d loop),
    // so bucket bits, candidate sets, cosines and ranks agree bit-for-bit
    QueryDef("sim_topk_lsh", Some(
      "WITH pc AS (SELECT CAST(t AS INT) AS t, CAST(p AS INT) AS p, CAST(d AS INT) AS d, " +
        "CAST(CAST(CASE WHEN f >= 9223372036854775808::HUGEINT " +
        "THEN f - 18446744073709551616::HUGEINT ELSE f END AS BIGINT) AS DOUBLE) " +
        "/ CAST(9223372036854775807 AS DOUBLE) AS comp " +
        "FROM UNNEST(range(4)) AS a(t), UNNEST(range(4)) AS b(p), UNNEST(range(64)) AS c(d), " +
        "LATERAL (SELECT (CAST(t AS INT)*4 + CAST(p AS INT))::VARCHAR || ':' || CAST(d AS INT)::VARCHAR AS sk) s, " +
        "LATERAL (SELECT list_reduce(list_prepend(14695981039346656037::HUGEINT, " +
        "list_transform(regexp_extract_all(sk, '.'), c -> unicode(c)::HUGEINT)), " +
        "(acc, x) -> (xor(acc, x) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT) AS f) ff), " +
        "planes AS (SELECT t, p, list(comp ORDER BY d) AS cl FROM pc GROUP BY t, p), " +
        "vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "dotsig AS (SELECT vec_id, t, p, CASE WHEN list_reduce(list_prepend(0.0::DOUBLE, " +
        "list_transform(range(64), dd -> v[CAST(dd AS INT)+1] * cl[CAST(dd AS INT)+1])), " +
        "(a, x) -> a + x) > 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END AS bit " +
        "FROM vecs CROSS JOIN planes), " +
        "buckets AS (SELECT vec_id, t, sum(bit) AS bucket FROM dotsig GROUP BY 1, 2), " +
        "qprobes AS (SELECT b.vec_id, b.t, " +
        "unnest([bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4), xor(bucket, 8)]) AS bucket " +
        "FROM buckets b WHERE b.vec_id < 5), " +
        "cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id " +
        "FROM qprobes q JOIN buckets c ON c.t = q.t AND c.bucket = q.bucket WHERE q.vec_id <> c.vec_id), " +
        "norms AS (SELECT vec_id, v, sqrt(list_reduce(list_prepend(0.0::DOUBLE, " +
        "list_transform(v, x -> x * x)), (a, x) -> a + x)) AS nrm FROM vecs), " +
        "scored AS (SELECT c.query_id, c.neighbor_id, " +
        "list_reduce(list_prepend(0.0::DOUBLE, " +
        "list_transform(range(64), dd -> qn.v[CAST(dd AS INT)+1] * cn.v[CAST(dd AS INT)+1])), " +
        "(a, x) -> a + x) / (qn.nrm * cn.nrm) AS cos " +
        "FROM cand c JOIN norms qn ON qn.vec_id = c.query_id JOIN norms cn ON cn.vec_id = c.neighbor_id), " +
        "ranked AS (SELECT query_id, neighbor_id, cos, " +
        "CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank " +
        "FROM scored) " +
        "SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rank " +
        "FROM ranked WHERE rank <= 10 ORDER BY query_id, rank"),
      (s, d) => {
        val e = T(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
        Similarity.lshTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 10, nPlanes = 4)
          .orderBy("query_id", "rank")
      }),

    QueryDef("text_quality", Some(
      "SELECT doc_id, length(text) AS n_chars_q, " +
        tokensWsSql + " AS n_words, " +
        "round(CAST(length(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS DOUBLE) / length(text), 4) AS alpha_ratio, " +
        "round(CAST(length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) AS DOUBLE) / length(text), 4) AS punct_ratio " +
        "FROM documents"),
      (s, d) => {
        val t = col("text")
        T(s, d, "documents").select(col("doc_id"),
          length(t).cast("long").as("n_chars_q"),
          size(split(trim(t), "\\s+")).cast("long").as("n_words"),
          round(length(regexp_replace(t, "[^\\p{L}]", "")).cast("double") / length(t), 4)
            .as("alpha_ratio"),
          round(length(regexp_replace(t, "[\\p{L}\\p{N}\\s]", "")).cast("double") / length(t), 4)
            .as("punct_ratio"))
      }),

    // Gopher quality rules (Rae et al. 2021, arXiv:2112.11446 Table A1 —
    // the rule set C4/MassiveText-style pipelines gate on): word count in
    // [50, 100k], mean word length in [3, 10], ≥80% of words alphabetic,
    // ≥2 distinct stopword hits, symbol-to-word ratio ≤ 0.1. Every rule is
    // evaluated in PURE INTEGER form (3·nw ≤ Σlen ≤ 10·nw, 5·alpha ≥ 4·nw,
    // 10·sym ≤ nw) so no float boundary can flip a verdict between
    // engines; all metrics are row-local codegen — the gate runs inline in
    // any scan at any corpus size.
    QueryDef("quality_gopher_rules", Some(gopherRulesOracleSql),
      (s, d) => operators.TextAnalysis
        .gopherRules(T(s, d, "documents").select("doc_id", "text"), "text")
        .drop("text")
        .orderBy("doc_id")),

    // C4 cleaning rules (Raffel et al. 2020 §2.2) — the canonical web-text
    // filter set next to the Gopher gate. Suffixes planted by doc_id slot
    // make every rule FIRE somewhere (placeholder text, code braces,
    // javascript mentions, cookie/privacy boilerplate, 1-sentence docs
    // below the ≥3 threshold) AND pass somewhere (slots 6-8 carry three
    // terminal-punctuated sentences — the synthetic corpus itself has no
    // sentence punctuation, so without them the gate would be vacuously
    // false). The oracle replays the identical string predicates.
    QueryDef("quality_c4_rules", Some(
      "WITH t AS (SELECT doc_id, trim(text) || CASE doc_id % 9 " +
        "WHEN 0 THEN ' {code}' WHEN 1 THEN ' See our cookie policy' " +
        "WHEN 2 THEN ' please enable JavaScript' WHEN 3 THEN ' Lorem Ipsum!' " +
        "WHEN 4 THEN '.' WHEN 5 THEN '?' " +
        "ELSE '. Second sentence here. And a third one.' END AS t2 FROM documents), " +
        "r AS (SELECT doc_id, " +
        "CAST(len(string_split_regex(t2, '\\s+')) AS BIGINT) AS n_words, " +
        "CAST(length(t2) - length(regexp_replace(t2, '[.!?]', '', 'g')) AS BIGINT) AS n_sentence_marks, " +
        "regexp_matches(t2, '[.!?\"]$') AS r_terminal_punct, " +
        "strpos(lower(t2), 'lorem ipsum') = 0 AS r_no_lorem, " +
        "strpos(t2, '{') = 0 AS r_no_curly, " +
        "strpos(lower(t2), 'javascript') = 0 AS r_no_js, " +
        "(strpos(lower(t2), 'cookie policy') = 0 AND strpos(lower(t2), 'privacy policy') = 0 " +
        "AND strpos(lower(t2), 'terms of use') = 0) AS r_no_policy " +
        "FROM t) " +
        "SELECT doc_id, n_words, n_sentence_marks, r_terminal_punct, r_no_lorem, " +
        "r_no_curly, r_no_js, r_no_policy, n_words >= 5 AS r_min_words, " +
        "n_sentence_marks >= 3 AS r_min_sentences, " +
        "(r_terminal_punct AND r_no_lorem AND r_no_curly AND r_no_js AND " +
        "r_no_policy AND n_words >= 5 AND n_sentence_marks >= 3) AS pass " +
        "FROM r ORDER BY doc_id"),
      (s, d) => {
        val t2 = concat(trim(col("text")),
          when(col("doc_id") % 9 === 0, " {code}")
            .when(col("doc_id") % 9 === 1, " See our cookie policy")
            .when(col("doc_id") % 9 === 2, " please enable JavaScript")
            .when(col("doc_id") % 9 === 3, " Lorem Ipsum!")
            .when(col("doc_id") % 9 === 4, ".")
            .when(col("doc_id") % 9 === 5, "?")
            .otherwise(". Second sentence here. And a third one."))
        operators.TextAnalysis.c4Rules(
            T(s, d, "documents").select(col("doc_id"), t2.as("__t2")), "__t2")
          .drop("__t2")
          .orderBy("doc_id")
      }),

    // Gopher REPETITION screens (Rae et al. Table A1 — the duplicate-line /
    // dominant-n-gram half of the Gopher set; complements the word-level
    // dup/bigram METRICS of text_repetition with line-level metrics,
    // char-fraction forms, the top-3-gram, and the integer-form VERDICTS a
    // gate actually filters on). Docs with id%10==0 get their text DOUBLED,
    // so the duplicate-line rules provably fire on exactly that slice
    // (branch-distinguishing); "lines" are 8-word chunks (the dedup_lines
    // convention). The ENGINE computes every metric row-locally in two
    // codegen kernels (DedupWordChunksExpr distinct-chunks,
    // TopNgramCharsExpr single-pass argmax) — no shuffle, no explode; the
    // ORACLE replays the metrics the naive way (unnest n-grams + per-doc
    // window argmax with the same (count desc, gram asc) tiebreak), an
    // independent derivation. All rules pure-integer.
    QueryDef("quality_repetition_rules", Some(
      "WITH t AS (SELECT doc_id, CASE WHEN doc_id % 10 = 0 THEN text || ' ' || text " +
        "ELSE text END AS m FROM documents), " +
        "wt AS (SELECT doc_id, string_split_regex(trim(m), '\\s+') AS w FROM t), " +
        "ck AS (SELECT doc_id, w, list_transform(range(CAST(ceil(len(w)/8.0) AS BIGINT)), " +
        "g -> array_to_string(w[CAST(g*8+1 AS INT):CAST(g*8+8 AS INT)], ' ')) AS chunks FROM wt), " +
        "kp AS (SELECT doc_id, w, chunks, " +
        "list_filter(chunks, (ch, i) -> list_position(chunks, ch) = i) AS kept FROM ck), " +
        "base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words, " +
        "CAST(list_reduce(list_prepend(0, list_transform(w, x -> len(x))), (a, b) -> a + b) AS BIGINT) AS word_chars, " +
        "CAST(len(chunks) AS BIGINT) AS n_lines, CAST(len(kept) AS BIGINT) AS n_kept, " +
        "CAST(list_reduce(list_prepend(0, list_transform(kept, x -> len(x))), (a, b) -> a + b) AS BIGINT) AS kept_chars " +
        "FROM kp), " +
        "g2 AS (SELECT doc_id, unnest(list_transform(range(len(w) - 1), " +
        "i -> w[CAST(i AS INT) + 1] || ' ' || w[CAST(i AS INT) + 2])) AS g FROM wt), " +
        "c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2), " +
        "t2 AS (SELECT doc_id, CAST(c * len(g) AS BIGINT) AS top2_chars FROM " +
        "(SELECT doc_id, g, c, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn FROM c2) WHERE rn = 1), " +
        "g3 AS (SELECT doc_id, unnest(list_transform(range(len(w) - 2), " +
        "i -> w[CAST(i AS INT) + 1] || ' ' || w[CAST(i AS INT) + 2] || ' ' || w[CAST(i AS INT) + 3])) AS g FROM wt), " +
        "c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2), " +
        "t3 AS (SELECT doc_id, CAST(c * len(g) AS BIGINT) AS top3_chars FROM " +
        "(SELECT doc_id, g, c, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn FROM c3) WHERE rn = 1), " +
        "f AS (SELECT b.doc_id, b.n_lines, b.n_kept, " +
        "b.word_chars + b.n_words - b.n_lines AS line_chars, " +
        "b.word_chars + b.n_words - b.n_lines - b.kept_chars AS dup_line_chars, " +
        "b.word_chars, coalesce(t2.top2_chars, 0) AS top2_chars, " +
        "coalesce(t3.top3_chars, 0) AS top3_chars " +
        "FROM base b LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)) " +
        "SELECT doc_id, n_lines, n_kept, line_chars, dup_line_chars, word_chars, " +
        "top2_chars, top3_chars, " +
        "(n_lines - n_kept) * 10 <= n_lines * 3 AS r_dup_lines, " +
        "dup_line_chars * 5 <= line_chars AS r_dup_line_chars, " +
        "top2_chars * 5 <= word_chars AS r_top2, " +
        "top3_chars * 50 <= word_chars * 9 AS r_top3, " +
        "((n_lines - n_kept) * 10 <= n_lines * 3 AND dup_line_chars * 5 <= line_chars " +
        "AND top2_chars * 5 <= word_chars AND top3_chars * 50 <= word_chars * 9) AS pass " +
        "FROM f ORDER BY doc_id"),
      (s, d) => {
        val m = when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" "), col("text"))).otherwise(col("text"))
        operators.TextAnalysis.repetitionRules(
            fanOut(T(s, d, "documents")).select(col("doc_id"), m.as("__m")), "__m")
          .select("doc_id", "n_lines", "n_kept", "line_chars", "dup_line_chars",
            "word_chars", "top2_chars", "top3_chars",
            "r_dup_lines", "r_dup_line_chars", "r_top2", "r_top3", "pass")
          .orderBy("doc_id")
      }),

    // stopword-hit ratio (English inventory) — quality-filter signal, pure
    // built-ins on the Spark side (TextFunctions.stopwordRatio); the oracle
    // list is BUILT FROM the same inventory so the two cannot drift
    QueryDef("text_stopword_ratio", Some {
      val sw = TextFunctions.stopwords("en").toSeq.sorted
        .map(w => s"'$w'").mkString("[", ",", "]")
      "WITH t AS (SELECT doc_id, " +
        "list_filter(string_split_regex(lower(text), '[^\\p{L}]+'), x -> len(x) > 0) AS toks " +
        "FROM documents) " +
        "SELECT doc_id, CASE WHEN len(toks) > 0 THEN " +
        s"round(CAST(len(list_filter(toks, x -> list_contains($sw, x))) AS DOUBLE) / len(toks), 4) " +
        "ELSE 0.0 END AS stopword_ratio FROM t ORDER BY doc_id"
    },
      (s, d) => T(s, d, "documents").select(col("doc_id"),
        TextFunctions.stopwordRatio(col("text")).as("stopword_ratio"))
        .orderBy("doc_id")),

    // benchmark decontamination: train docs (source ∉ eval set) flagged by
    // 5-gram overlap with the eval partition (sources src0-src2), zero-
    // filled to a full per-doc audit. Spark joins 64-bit FNV shingle hashes
    // (codegen ShingleHashesExpr — 8-byte shuffle payload); the oracle
    // joins the gram STRINGS — equal counts absent 2⁻⁶⁴ collisions, the
    // same equivalence dedup_jaccard_words already pins. The <n-words
    // whole-doc fallback is reproduced in the oracle's ELSE branch.
    QueryDef("text_decontaminate", Some(
      "WITH d AS (SELECT doc_id, lang, source, " +
        "regexp_split_to_array(lower(trim(text)), '\\s+') AS w FROM documents), " +
        "g AS (SELECT doc_id, source, unnest(CASE WHEN len(w) >= 5 " +
        "THEN list_transform(range(1, len(w) - 3), i -> array_to_string(w[i:i+4], ' ')) " +
        "ELSE [array_to_string(w, ' ')] END) AS gram FROM d), " +
        "dg AS (SELECT DISTINCT doc_id, source, gram FROM g), " +
        "ev AS (SELECT DISTINCT gram, doc_id AS eval_id FROM dg " +
        "WHERE source IN ('src0','src1','src2')), " +
        "hits AS (SELECT t.doc_id, count(DISTINCT t.gram) AS n_shared_grams, " +
        "count(DISTINCT ev.eval_id) AS n_eval_docs FROM dg t JOIN ev USING (gram) " +
        "WHERE t.source NOT IN ('src0','src1','src2') GROUP BY 1) " +
        "SELECT d.doc_id, d.lang, " +
        "CAST(coalesce(h.n_shared_grams, 0) AS BIGINT) AS n_shared_grams, " +
        "CAST(coalesce(h.n_eval_docs, 0) AS BIGINT) AS n_eval_docs, " +
        "CAST(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS contaminated " +
        "FROM d LEFT JOIN hits h USING (doc_id) " +
        "WHERE d.source NOT IN ('src0','src1','src2') ORDER BY d.doc_id"),
      (s, d) => operators.TextAnalysis.decontaminate(T(s, d, "documents"), "doc_id", "text",
          col("source").isin("src0", "src1", "src2"), n = 5)
        .select(col("doc_id"), col("lang"), col("n_shared_grams"),
          col("n_eval_docs"), col("contaminated"))
        .orderBy("doc_id")),

    // PII redaction over documents. The synthetic corpus carries no real
    // PII, so deterministic PII is injected into every 7th doc (identically
    // on both sides) to exercise actual redaction. ONE pass on both sides:
    // the Spark side is the single-alternation PiiScrubExpr kernel
    // (clean_text + all class counts from one matcher walk); the oracle
    // rebuilds the identical pass from the SAME combined pattern — the
    // participating capture group of each match decides its token (group
    // order = class priority), clean_text reassembles from the split
    // segments interleaved with tokens. Patterns, tokens and count-column
    // names all come from TextFunctions.piiPatterns — one source of truth.
    // HTML → text extraction (single-pass codegen kernel): each document
    // is wrapped into a realistic page — raw-text script/style elements
    // whose content contains '<p>' and '>' traps, a quoted-attribute '>'
    // in <body onload>, a comment, entity-escaped body text, named +
    // numeric character references, a counted <a href> — and the
    // extraction must give back exactly the collapsed original text plus
    // the fixed chrome. The oracle replays the CONSTRUCTION (escape is the
    // inverse of decode; ws collapse mirrors the kernel), not the parse.
    QueryDef("text_html_extract", Some(
      s"SELECT doc_id, $htmlTrapOracleText AS text, " +
        s"CAST($htmlTrapNTags AS BIGINT) AS n_tags, " +
        s"CAST($htmlTrapNLinks AS BIGINT) AS n_links " +
        "FROM documents ORDER BY doc_id"),
      (s, d) => {
        val esc = replace(replace(replace(col("text"),
          lit("&"), lit("&amp;")), lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))
        val html = concat(lit(htmlTrapPre), col("doc_id"),
          lit(htmlTrapMid), esc, lit(htmlTrapPost))
        T(s, d, "documents").select(col("doc_id"),
            graft.functions.TextFunctions.htmlExtract(html).as("h"))
          .select(col("doc_id"), col("h.text").as("text"),
            col("h.n_tags").as("n_tags"), col("h.n_links").as("n_links"))
          .orderBy("doc_id")
      }),

    // robots.txt URL admission (RFC 9309): group selection (a decoy
    // special-bot group must be ignored), '*' wildcards, the '$' end
    // anchor, longest-match-wins with Allow beating Disallow on ties, and
    // allow-all for hosts with no robots row. The fixture's rule set maps
    // each path family to a closed-form verdict the oracle replays.
    QueryDef("web_robots_filter", Some(
      "WITH v AS (SELECT doc_id, 'h' || (doc_id % 7) || '.example' AS host, " +
        "CASE doc_id % 5 WHEN 0 THEN '/public/page' || doc_id " +
        "WHEN 1 THEN '/private/x' || doc_id " +
        "WHEN 2 THEN '/private/ok/y' || doc_id " +
        "WHEN 3 THEN '/files/doc' || doc_id || '.pdf' " +
        "ELSE '/' END AS path FROM documents) " +
        "SELECT host, path, " +
        "CASE WHEN doc_id % 7 = 3 THEN TRUE WHEN doc_id % 5 = 1 THEN FALSE " +
        "WHEN doc_id % 5 = 3 THEN FALSE ELSE TRUE END AS allowed, " +
        "CASE WHEN doc_id % 7 = 3 THEN '' WHEN doc_id % 5 = 1 THEN '/private' " +
        "WHEN doc_id % 5 = 2 THEN '/private/ok' " +
        "WHEN doc_id % 5 = 3 THEN '/*.pdf$' ELSE '' END AS matched_rule, " +
        "doc_id % 7 <> 3 AS has_robots " +
        "FROM v ORDER BY host, path"),
      (s, d) => {
        val urls = T(s, d, "documents").select(
          concat(lit("h"), (col("doc_id") % 7).cast("string"),
            lit(".example")).as("host"),
          when(col("doc_id") % 5 === 0,
              concat(lit("/public/page"), col("doc_id").cast("string")))
            .when(col("doc_id") % 5 === 1,
              concat(lit("/private/x"), col("doc_id").cast("string")))
            .when(col("doc_id") % 5 === 2,
              concat(lit("/private/ok/y"), col("doc_id").cast("string")))
            .when(col("doc_id") % 5 === 3,
              concat(lit("/files/doc"), col("doc_id").cast("string"), lit(".pdf")))
            .otherwise(lit("/")).as("path"))
        val robots = s.range(7).filter(col("id") =!= 3).select(
          concat(lit("h"), col("id").cast("string"), lit(".example")).as("host"),
          lit("# fixture robots\n" +
            "User-agent: special-bot\nDisallow: /\n\n" +
            "User-agent: *\n" +
            "Disallow: /private\n" +
            "Allow: /private/ok\n" +
            "Disallow: /*.pdf$\n" +
            "Sitemap: https://ignored.example.org/sitemap.xml\n").as("robots_txt"))
        graft.operators.Robots.filterUrls(urls, robots).toDF()
          .orderBy("host", "path")
      }),

    // WARC → HTTP response → HTML → text: the Common Crawl ingest chain in
    // one row. Each document becomes a two-record WARC (warcinfo + an
    // HTTP 200 text/html response whose body is the SAME trap-laden page
    // as text_html_extract), gzipped as concatenated per-record members
    // for even doc_ids (the Common Crawl convention) and plain for odd —
    // so both container paths sit under the oracle. Bodies are parsed out
    // of Content-Length framing (byte-exact through multi-byte UTF-8),
    // then the codegen HTML kernel recovers the original text.
    QueryDef("web_warc_extract", Some(
      "SELECT doc_id, 'https://example.org/doc/' || doc_id AS target_uri, " +
        "CAST(200 AS INT) AS http_status, " +
        "'text/html; charset=utf-8' AS content_type, " +
        s"$htmlTrapOracleText AS text, " +
        s"CAST($htmlTrapNTags AS BIGINT) AS n_tags, " +
        s"CAST($htmlTrapNLinks AS BIGINT) AS n_links " +
        "FROM documents ORDER BY doc_id"),
      (s, d) => {
        import s.implicits._
        val media = T(s, d, "documents").select("doc_id", "text")
          .as[(Long, String)]
          .mapPartitions(_.map { case (id, text) =>
            graft.operators.Multimodal.MediaRow(id, "web",
              graft.operators.Warc.warcBytes(
                s"https://example.org/doc/$id", htmlTrapPage(id, text), id,
                gzipped = id % 2 == 0),
              "application/warc", None, None, None)
          })
        graft.operators.Warc.records(media).toDF()
          .filter(col("warc_type") === "response")
          .select(col("media_id").as("doc_id"), col("target_uri"),
            col("http_status"), col("content_type"),
            graft.functions.TextFunctions.htmlExtract(col("body")).as("h"))
          .select(col("doc_id"), col("target_uri"), col("http_status"),
            col("content_type"), col("h.text").as("text"),
            col("h.n_tags").as("n_tags"), col("h.n_links").as("n_links"))
          .orderBy("doc_id")
      }),

    QueryDef("text_pii_scrub", Some {
      val pats = TextFunctions.piiPatterns
      val combined = graft.plans.PiiScrubKernel.combinedRegex
      val tokCase = pats.zipWithIndex.map { case ((tok, _), i) =>
        if (i == pats.length - 1) s"ELSE '$tok'"
        else s"WHEN g${i + 1}[CAST(i AS INT)+1] <> '' THEN '$tok'"
      }.mkString("CASE ", " ", " END")
      val gCols = pats.indices.map(i =>
        s"regexp_extract_all(s0, '$combined', ${i + 1}) AS g${i + 1}").mkString(", ")
      val counts = pats.zipWithIndex.map { case ((tok, _), i) =>
        s"CAST(len(list_filter(g${i + 1}, x -> x <> '')) AS BIGINT) AS " +
          TextFunctions.piiCountName(tok)
      }.mkString(", ")
      "WITH t0 AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || " +
        "' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com or 192.168.' || " +
        "CAST(doc_id % 256 AS VARCHAR) || '.1 card 4111 1111 1111 1111 tel: +1 (555) 010-4242' " +
        "ELSE text END AS s0 FROM documents), " +
        s"m AS (SELECT doc_id, s0, $gCols, " +
        s"regexp_split_to_array(s0, '$combined') AS segs FROM t0), " +
        s"tk AS (SELECT doc_id, segs, $counts, " +
        s"list_transform(range(len(segs) - 1), i -> $tokCase) AS toks FROM m) " +
        "SELECT doc_id, list_reduce(list_prepend(segs[1], " +
        "list_transform(range(len(toks)), i -> toks[CAST(i AS INT)+1] || segs[CAST(i AS INT)+2])), " +
        "(a, x) -> a || x) AS clean_text, " +
        pats.map { case (tok, _) => TextFunctions.piiCountName(tok) }.mkString(", ") +
        " FROM tk ORDER BY doc_id"
    },
      (s, d) => {
        val pats = TextFunctions.piiPatterns
        val base = T(s, d, "documents")
          .withColumn("s0", when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" contact: user"),
              col("doc_id").cast("string"), lit("@example.com or 192.168."),
              (col("doc_id") % 256).cast("string"),
              lit(".1 card 4111 1111 1111 1111 tel: +1 (555) 010-4242")))
            .otherwise(col("text")))
        base.select(col("doc_id"),
            TextFunctions.scrubPiiWithCounts(col("s0")).as("r"))
          .select((col("doc_id") +: col("r.clean_text").as("clean_text") +:
            pats.map { case (tok, _) =>
              val n = TextFunctions.piiCountName(tok)
              col(s"r.$n").as(n)
            }): _*)
          .orderBy("doc_id")
      }),

    // Deterministic epoch shuffle — the reproducible data-ORDER primitive:
    // training recipes need "shuffle the corpus differently each epoch"
    // without rand() (retry-idempotent, cluster-size-invariant, auditable).
    // Key = corpus fingerprint of "<epoch>:<doc_id>"; shard = key mod 8
    // (row-local); position = rank of the key within the shard. At 100 TB
    // the shard IS the output file: hash-partition by shard, sort within
    // partitions by key — no global sort anywhere, and a different epoch
    // seed reshuffles every shard assignment and every in-shard order.
    // Signed Spark longs order as unsigned via the xor(2^63) bijection so
    // the HUGEINT oracle ranks identically (the dedup_minhash_lsh trick).
    QueryDef("corpus_epoch_shuffle", Some(
      s"WITH h AS (SELECT doc_id, ${fnvPolySql("'3:' || CAST(doc_id AS VARCHAR)")} AS k FROM documents) " +
        "SELECT doc_id, CAST(k % 8 AS BIGINT) AS shard, " +
        "CAST(row_number() OVER (PARTITION BY k % 8 ORDER BY k, doc_id) AS BIGINT) AS pos " +
        "FROM h ORDER BY shard, pos"),
      (s, d) => {
        val k = TextFunctions.fingerprint64Udf(
          concat(lit("3:"), col("doc_id").cast("string")))
        val t = T(s, d, "documents").select(col("doc_id"), k.as("k"))
        val w = Window.partitionBy(pmod(col("k"), lit(8L)))
          .orderBy(col("k").bitwiseXOR(lit(Long.MinValue)), col("doc_id"))
        t.select(col("doc_id"), pmod(col("k"), lit(8L)).as("shard"),
            row_number().over(w).cast("long").as("pos"))
          .orderBy("shard", "pos")
      }),

    // Deterministic train/val/test assignment + Bernoulli sample flag, the
    // reproducible-split primitive of a training-data pipeline: bucket =
    // first 2 hex chars of a salted md5. Hex strings compare exactly like
    // their numeric values ('0'-'9' < 'a'-'f'), so the thresholds are plain
    // string comparisons — portable to any engine, no hex parsing. Salted
    // independently per decision so split and sample never correlate.
    // Row-local (no shuffle) → embarrassingly parallel at any scale.
    // Stratified downsampling: at most K docs per language stratum, chosen
    // as the K smallest salted md5 ranks — the "cap the dominant
    // languages" rebalancing step of corpus curation, deterministic under
    // any partitioning (pure function of doc_id) and engine-portable
    // (DuckDB computes the same md5). Scale shape: ONE per-stratum
    // row_number window, hash-partitioned by lang; Spark's WindowGroupLimit
    // truncates each map partition to K before the shuffle, so no reducer
    // ever materializes a full stratum — the same rank-pushdown shape
    // t1_topn pins globally, here per group.
    QueryDef("sample_stratified", Some(
      "WITH h AS (SELECT doc_id, lang, md5('strat:' || CAST(doc_id AS VARCHAR)) AS hs " +
        "FROM documents), " +
        "r AS (SELECT doc_id, lang, hs, CAST(row_number() OVER " +
        "(PARTITION BY lang ORDER BY hs ASC, doc_id ASC) AS INT) AS rk FROM h) " +
        "SELECT doc_id, lang, rk FROM r WHERE rk <= 40 ORDER BY lang, rk"),
      (s, d) => {
        val k = 40
        val w = Window.partitionBy("lang")
          .orderBy(col("hs").asc, col("doc_id").asc)
        T(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            md5(concat(lit("strat:"), col("doc_id").cast("string")).cast("binary")).as("hs"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= k)
          .select("doc_id", "lang", "rk")
          .orderBy("lang", "rk")
      }),

    QueryDef("sample_split", Some(
      "WITH h AS (SELECT doc_id, lang, " +
        "substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) AS hspl, " +
        "substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 2) AS hsmp FROM documents) " +
        "SELECT doc_id, lang, " +
        "CASE WHEN hspl < 'cc' THEN 'train' WHEN hspl < 'e6' THEN 'val' ELSE 'test' END AS split, " +
        "CAST(hsmp < '1a' AS INT) AS in_sample FROM h ORDER BY doc_id"),
      (s, d) => T(s, d, "documents")
        .withColumn("hspl", substring(md5(concat(lit("split:"),
          col("doc_id").cast("string")).cast("binary")), 1, 2))
        .withColumn("hsmp", substring(md5(concat(lit("sample:"),
          col("doc_id").cast("string")).cast("binary")), 1, 2))
        .select(col("doc_id"), col("lang"),
          when(col("hspl") < "cc", "train").when(col("hspl") < "e6", "val")
            .otherwise("test").as("split"),
          (col("hsmp") < "1a").cast("int").as("in_sample"))
        .orderBy("doc_id")),

    // Cluster-aware train/val/test split + leakage audit: eval integrity
    // requires DUPLICATES of a training doc to never land in val/test, so
    // the split key must be the dedup CLUSTER's canonical id, not the doc
    // id. Corpus = documents ∪ exact copies shifted by 999 999 (a non-
    // multiple of 10, so a NAIVE doc_id%10 split provably leaks every
    // copy-pair). clustered_violations must be 0 by construction;
    // naive_violations counts the clusters the per-doc split would have
    // torn across buckets — the audit a pipeline runs before training.
    // One digest shuffle + canon-keyed aggs; the 1-row audit cross-joins.
    QueryDef("split_cluster_aware", Some(
      "WITH u AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 999999, text FROM documents), " +
        "m AS (SELECT doc_id, md5(text) AS dg FROM u), " +
        "c AS (SELECT dg, min(doc_id) AS canon FROM m GROUP BY 1), " +
        "j AS (SELECT m.doc_id, c.canon, " +
        "substr(md5('split:' || CAST(c.canon AS VARCHAR)), 1, 2) AS hspl FROM m JOIN c USING (dg)), " +
        "w AS (SELECT doc_id, canon, CASE WHEN hspl < 'cc' THEN 'train' " +
        "WHEN hspl < 'e6' THEN 'val' ELSE 'test' END AS split, doc_id % 10 AS naive FROM j), " +
        "pc AS (SELECT canon, count(DISTINCT split) AS ns, count(DISTINCT naive) AS nn FROM w GROUP BY 1), " +
        "v AS (SELECT CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT) AS clustered_violations, " +
        "CAST(sum(CASE WHEN nn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS naive_violations FROM pc) " +
        "SELECT split, count(*) AS n_docs, CAST(count(DISTINCT canon) AS BIGINT) AS n_clusters, " +
        "v.clustered_violations, v.naive_violations FROM w CROSS JOIN v " +
        "GROUP BY split, v.clustered_violations, v.naive_violations ORDER BY split"),
      (s, d) => {
        val docs = T(s, d, "documents").select(col("doc_id"), col("text"))
        val dup = docs.unionByName(
          docs.select((col("doc_id") + 999999).as("doc_id"), col("text")))
        val withDg = dup.select(col("doc_id"), md5(col("text").cast("binary")).as("dg"))
        val canon = withDg.groupBy("dg").agg(min("doc_id").as("canon"))
        val withSplit = withDg.join(canon, "dg")
          .withColumn("hspl", substring(md5(concat(lit("split:"),
            col("canon").cast("string")).cast("binary")), 1, 2))
          .withColumn("split", when(col("hspl") < "cc", "train")
            .when(col("hspl") < "e6", "val").otherwise("test"))
          .withColumn("naive", col("doc_id") % 10)
        val audit = withSplit.groupBy("canon")
          // two countDistincts in ONE agg would rewrite through an Expand
          // that doubles the corpus-sized member stream before the shuffle;
          // collect_set partials carry each cluster's ≤3 splits / ≤10 naive
          // buckets instead (the Profile.profile discipline)
          .agg(size(collect_set(col("split"))).as("ns"),
            size(collect_set(col("naive"))).as("nn"))
          .agg(sum(when(col("ns") > 1, 1L).otherwise(0L)).as("clustered_violations"),
            sum(when(col("nn") > 1, 1L).otherwise(0L)).as("naive_violations"))
        withSplit.groupBy("split")
          .agg(count(lit(1)).as("n_docs"), countDistinct("canon").as("n_clusters"))
          .crossJoin(broadcast(audit))
          .select("split", "n_docs", "n_clusters",
            "clustered_violations", "naive_violations")
          .orderBy("split")
      }),

    // Balanced per-stratum sampling: exactly min(quota, count) docs per
    // language, chosen as the quota lowest salted-hash docs — a
    // deterministic uniform draw with NO RNG state, reproducible across
    // runs and engines (the corpus-rebalancing step that caps dominant
    // languages). Per-key top-N window — hash-partitioned by stratum,
    // no global sort; the en stratum dominates the corpus and is capped,
    // the small strata survive whole.
    QueryDef("balanced_sample", Some(
      "WITH t AS (SELECT doc_id, lang, md5('bal:' || CAST(doc_id AS VARCHAR)) AS hk FROM documents), " +
        "r AS (SELECT doc_id, lang, CAST(row_number() OVER " +
        "(PARTITION BY lang ORDER BY hk, doc_id) AS BIGINT) AS rk FROM t) " +
        "SELECT doc_id, lang, rk, rk <= 60 AS picked FROM r ORDER BY doc_id"),
      (s, d) => {
        val w = Window.partitionBy("lang")
          .orderBy(col("hk"), col("doc_id"))
        T(s, d, "documents")
          .withColumn("hk", md5(concat(lit("bal:"),
            col("doc_id").cast("string")).cast("binary")))
          .withColumn("rk", row_number().over(w).cast("long"))
          .select(col("doc_id"), col("lang"), col("rk"),
            (col("rk") <= 60).as("picked"))
          .orderBy("doc_id")
      }),

    // Per-language corpus statistics with EXACT nearest-rank percentiles of
    // the whitespace token count — the "how big/skewed is my training set"
    // query. Rank idx = floor((n-1)·q + 0.5), the same nearest-rank rule as
    // the serve legend breaks. One shuffle (window per lang) + one agg; at
    // 100 TB swap the exact window for approx_percentile — noted, not
    // silently done, because the oracle checks exactness.
    QueryDef("text_corpus_stats", Some(
      "WITH t AS (SELECT lang, " + tokensWsSql + " AS tok FROM documents), " +
        "r AS (SELECT lang, tok, row_number() OVER (PARTITION BY lang ORDER BY tok) AS rn, " +
        "count(*) OVER (PARTITION BY lang) AS n FROM t) " +
        "SELECT lang, CAST(max(n) AS BIGINT) AS n_docs, CAST(sum(tok) AS BIGINT) AS total_tokens, " +
        "CAST(max(CASE WHEN rn = CAST(floor(0.5*(n-1) + 0.5) AS BIGINT) + 1 THEN tok END) AS BIGINT) AS p50_tokens, " +
        "CAST(max(CASE WHEN rn = CAST(floor(0.9*(n-1) + 0.5) AS BIGINT) + 1 THEN tok END) AS BIGINT) AS p90_tokens, " +
        "CAST(max(CASE WHEN rn = CAST(floor(0.99*(n-1) + 0.5) AS BIGINT) + 1 THEN tok END) AS BIGINT) AS p99_tokens " +
        "FROM r GROUP BY lang ORDER BY lang"),
      (s, d) => {
        val t = T(s, d, "documents").select(col("lang"),
          tokensWs.as("tok"))
        val w = Window.partitionBy("lang")
        val r = t
          .withColumn("rn", row_number().over(w.orderBy("tok")))
          .withColumn("n", count(lit(1)).over(w))
        def atQ(q: Double) =
          max(when(col("rn") === floor(lit(q) * (col("n") - 1) + 0.5).cast("long") + 1,
            col("tok")))
        r.groupBy("lang").agg(
            max("n").cast("long").as("n_docs"),
            sum("tok").cast("long").as("total_tokens"),
            atQ(0.5).cast("long").as("p50_tokens"),
            atQ(0.9).cast("long").as("p90_tokens"),
            atQ(0.99).cast("long").as("p99_tokens"))
          .orderBy("lang")
      }),

    // RAG-prep chunking: fixed 200-char windows with 50-char overlap
    // (stride 150), one row per chunk — a row-local explode, no shuffle.
    // The last window starts before n_chars so every doc emits ≥1 chunk
    // and no zero-length tail chunk appears.
    QueryDef("doc_chunks", Some(
      "WITH t AS (SELECT doc_id, text, length(text) AS n FROM documents), " +
        "c AS (SELECT doc_id, text, n, unnest(range(0, greatest(n - 50, 1), 150)) AS start FROM t) " +
        "SELECT doc_id, CAST(start // 150 AS INT) AS chunk_id, CAST(start AS BIGINT) AS char_start, " +
        "substr(text, CAST(start AS INT) + 1, 200) AS chunk_text " +
        "FROM c ORDER BY doc_id, chunk_id"),
      (s, d) => T(s, d, "documents")
        .withColumn("n", length(col("text")))
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0), greatest(col("n") - 50, lit(1)) - 1, lit(150))).as("start"))
        .select(col("doc_id"),
          (col("start") / 150).cast("int").as("chunk_id"),
          col("start").cast("long").as("char_start"),
          col("text").substr(col("start") + 1, lit(200)).as("chunk_text"))
        .orderBy("doc_id", "chunk_id")),

    // int8 embedding quantization for storage-efficient vector stores:
    // per-vector symmetric max-abs scale, q = round(x * 127 / maxabs)
    // half-away-from-zero (both engines' round on doubles), exploded to
    // scalar rows so the gate hashes exact values. scale emitted in cents-
    // style fixed point (1e6) to avoid float-format drift.
    QueryDef("embed_quantize", Some(
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 100), " +
        "m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM e), " +
        "x AS (SELECT vec_id, mx, unnest(range(len(v))) AS pos, unnest(v) AS val FROM m) " +
        "SELECT vec_id, CAST(pos AS INT) AS pos, " +
        "CAST(round(CASE WHEN mx > 0 THEN val * 127 / mx ELSE 0 END, 0) AS INT) AS q, " +
        "CAST(round(mx * 1e6, 0) AS BIGINT) AS scale_micro " +
        "FROM x ORDER BY vec_id, pos"),
      (s, d) => T(s, d, "embeddings").filter(col("vec_id") < 100)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("mx", array_max(transform(col("v"), x => abs(x))))
        .select(col("vec_id"), col("mx"), posexplode(col("v")).as(Seq("pos", "val")))
        .select(col("vec_id"), col("pos").cast("int").as("pos"),
          round(when(col("mx") > 0, col("val") * 127 / col("mx")).otherwise(0.0), 0)
            .cast("int").as("q"),
          round(col("mx") * 1e6, 0).cast("long").as("scale_micro"))
        .orderBy("vec_id", "pos")),

    // TF-IDF top terms per document — the distributed retrieval/curation
    // shape: token explode → (doc, term) tf → term df aggregation →
    // shuffled idf join back (df is vocabulary-sized, never broadcast) →
    // per-doc top-5 window (score desc, term asc).
    // idf = ln((N+1)/(df+1)) + 1, ROUNDED to 8 dp before the tf multiply so
    // libm ulp differences between engines cannot flip rankings; N is the
    // corpus doc count (a 1-row broadcast join, not a literal).
    QueryDef("text_tfidf_top_terms", Some(
      "WITH tok AS (SELECT doc_id, unnest(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS term, " +
        "len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tok FROM documents), " +
        "tf AS (SELECT t.doc_id, t.term, len(list_filter(string_split_regex(lower(trim(d.text)), '\\s+'), x -> x = t.term)) AS tf " +
        "FROM tok t JOIN documents d ON d.doc_id = t.doc_id), " +
        "df AS (SELECT term, count(*) AS df FROM tok GROUP BY term), " +
        "n AS (SELECT count(*) AS n FROM documents), " +
        "scored AS (SELECT tf.doc_id, tf.term, " +
        "round(tf.tf * round(ln((n.n + 1.0) / (df.df + 1.0)) + 1.0, 8), 6) AS score " +
        "FROM tf JOIN df ON df.term = tf.term CROSS JOIN n), " +
        "ranked AS (SELECT doc_id, term, score, " +
        "CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS INT) AS rnk FROM scored) " +
        "SELECT doc_id, term, score, rnk FROM ranked WHERE rnk <= 5 ORDER BY doc_id, rnk"),
      (s, d) => {
        val docs = T(s, d, "documents")
        val tok = fanOut(docs).select(col("doc_id"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
        val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n"))
        // df (the term->doc-frequency table) is VOCABULARY-sized — never
        // broadcast it (unbounded at corpus scale); tf and df shuffle on
        // the same term key, and AQE may still pick broadcast when small.
        // Only the 1-row corpus count broadcasts unconditionally.
        val scored = tf.join(df, "term").crossJoin(broadcast(n))
          .withColumn("score", round(col("tf") *
            round(log((col("n") + 1.0) / (col("df") + 1.0)) + 1.0, 8), 6))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("term").asc)
        scored.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 5)
          .select(col("doc_id"), col("term"), col("score"), col("rnk"))
          .orderBy("doc_id", "rnk")
      }),

    // Tokenizer-vocabulary coverage audit: per-doc OOV rate against the
    // frequent-token vocabulary (count >= 100) — the check run before
    // switching tokenizers. Token stream persists (vocab build + coverage
    // join read it); the join is vocab-keyed, the rollup doc-keyed.
    QueryDef("text_oov_rate", Some(
      "WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term FROM documents), " +
        "c AS (SELECT term, count(*) AS c FROM toks GROUP BY term), " +
        "v AS (SELECT term FROM c WHERE c >= 100), " +
        "j AS (SELECT t.doc_id, CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov " +
        "FROM toks t LEFT JOIN v ON v.term = t.term) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, CAST(sum(oov) AS BIGINT) AS n_oov, " +
        "round(CAST(sum(oov) AS DOUBLE) / count(*), 4) AS oov_rate " +
        "FROM j GROUP BY doc_id ORDER BY doc_id"),
      (s, d) => {
        val toks = CacheRegistry.register(
          T(s, d, "documents").select(col("doc_id"),
            explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val vocab = toks.groupBy("term").agg(count(lit(1)).as("c"))
          .filter(col("c") >= 100).select(col("term"), lit(1).as("__in"))
        toks.join(vocab, Seq("term"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("__in").isNull, 1).otherwise(0)).as("n_oov"))
          .withColumn("oov_rate",
            round(col("n_oov").cast("double") / col("n_tokens"), 4))
          .orderBy("doc_id")
      }),

    // Deterministic weighted downsampling: keep a doc iff
    // fingerprint(doc_id) mod 1e6 < rate_micro(source) — per-source rates
    // 1, 1/2, 1/3, 1/4 in exact integer micro-units. Row-local (no
    // shuffle), idempotent under re-runs and task retries, and the same
    // doc survives on any cluster size — the reproducible alternative to
    // rand()-based sampling.
    QueryDef("sample_weighted", Some {
      val fnv = fnvPolySql("CAST(doc_id AS VARCHAR)")
      s"WITH h AS (SELECT doc_id, source, $fnv AS hu FROM documents), " +
        "s AS (SELECT doc_id, source, CAST(CASE WHEN hu >= 9223372036854775808::HUGEINT " +
        "THEN hu - 18446744073709551616::HUGEINT ELSE hu END AS BIGINT) AS hs, " +
        "CAST(1000000 // (1 + CAST(substr(source, 4) AS INT) % 4) AS BIGINT) AS rate_micro FROM h) " +
        "SELECT doc_id, source, rate_micro, " +
        "CAST(((hs % 1000000) + 1000000) % 1000000 AS BIGINT) AS bucket, " +
        "((hs % 1000000) + 1000000) % 1000000 < rate_micro AS kept " +
        "FROM s ORDER BY doc_id"
    },
      (s, d) => T(s, d, "documents").select(col("doc_id"), col("source"),
          expr("1000000L div (1 + cast(substring(source, 4, 10) as int) % 4)")
            .as("rate_micro"),
          pmod(TextFunctions.fingerprint64Udf(col("doc_id").cast("string")),
            lit(1000000L)).as("bucket"))
        .withColumn("kept", col("bucket") < col("rate_micro"))
        .orderBy("doc_id")),

    // Bigram-LM fluency (Jelinek–Mercer λ=0.7) — next order up from
    // text_lm_score's unigram model; same determinism recipe (8dp-rounded
    // per-transition -ln p, exact decimal sum, 1e-8-unit BIGINT).
    QueryDef("text_lm_bigram", Some(
      "WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents), " +
        "u AS (SELECT unnest(w) AS tok FROM t), " +
        "c1 AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY tok), " +
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM u), " +
        "bg AS (SELECT doc_id, w[CAST(i AS INT) + 1] AS v, w[CAST(i AS INT) + 2] AS wd " +
        "FROM (SELECT doc_id, w, unnest(range(len(w) - 1)) AS i FROM t WHERE len(w) >= 2)), " +
        "c2 AS (SELECT v, wd, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY v, wd), " +
        // interpolation constants emitted from the SAME Scala doubles the
        // engine uses: 1.0 - 0.7 is 0.30000000000000004, one ulp away from
        // the parsed literal 0.3 — enough to flip an 8dp rounding boundary
        s"sc AS (SELECT bg.doc_id, round(-ln(${0.7} * (CAST(c2.c AS DOUBLE) / CAST(cv.c AS DOUBLE)) + " +
        s"${1.0 - 0.7} * (CAST(cw.c AS DOUBLE) / CAST(nn.n AS DOUBLE))), 8) AS s " +
        "FROM bg JOIN c2 ON c2.v = bg.v AND c2.wd = bg.wd " +
        "JOIN c1 cv ON cv.tok = bg.v JOIN c1 cw ON cw.tok = bg.wd CROSS JOIN nn) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_transitions, " +
        "CAST(sum(CAST(s AS DECIMAL(18,8))) * 100000000 AS BIGINT) AS nll_1e8 " +
        "FROM sc GROUP BY doc_id ORDER BY doc_id"),
      (s, d) => operators.TextAnalysis.bigramLmScore(
          T(s, d, "documents"), "doc_id", "text", lambda = 0.7)
        .orderBy("doc_id")),

    // DSIR importance weights (Xie et al. NeurIPS'23, arXiv:2302.03169):
    // log p_target/p_raw of each doc's hashed-bigram features, target =
    // the English slice — the score importance resampling selects on when
    // curating toward a target domain. Features hash to 256 buckets by the
    // first md5 hex byte (portable — DuckDB computes the same md5); both
    // add-1-smoothed models come from ONE 256-row conditional aggregate;
    // per-feature log-probs round to 8dp and subtract as DECIMAL (exact),
    // per-doc DECIMAL sums emit in 1e-8 BIGINT units — the text_lm_score
    // determinism recipe end to end.
    QueryDef("quality_dsir_weights", Some(
      "WITH t AS (SELECT doc_id, lang = 'en' AS tgt, " +
        "string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents), " +
        "bg AS (SELECT doc_id, tgt, substr(md5(w[CAST(i AS INT) + 1] || ' ' || w[CAST(i AS INT) + 2]), 1, 2) AS b " +
        "FROM (SELECT doc_id, tgt, w, unnest(range(len(w) - 1)) AS i FROM t WHERE len(w) >= 2)), " +
        "m AS (SELECT b, CAST(count(*) AS BIGINT) AS cr, " +
        "CAST(count(*) FILTER (WHERE tgt) AS BIGINT) AS ct FROM bg GROUP BY b), " +
        "tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt FROM m), " +
        "sc AS (SELECT bg.doc_id, " +
        "CAST(round(ln(CAST(m.ct + 1 AS DOUBLE) / CAST(tot.nt + 256 AS DOUBLE)), 8) AS DECIMAL(18,8)) - " +
        "CAST(round(ln(CAST(m.cr + 1 AS DOUBLE) / CAST(tot.nr + 256 AS DOUBLE)), 8) AS DECIMAL(18,8)) AS s " +
        "FROM bg JOIN m USING (b) CROSS JOIN tot) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats, " +
        "CAST(sum(s) * 100000000 AS BIGINT) AS log_weight_1e8 " +
        "FROM sc GROUP BY doc_id ORDER BY doc_id"),
      (s, d) => operators.TextAnalysis.dsirLogWeights(
          T(s, d, "documents"), "doc_id", "text", col("lang") === "en")
        .orderBy("doc_id")),

    // BM25 top-k sparse retrieval (Lucene idf form) — the inverted-index
    // complement of sim_topk_*. Scores are exact decimal sums of 6dp-rounded
    // per-term contributions emitted as 1e-6-unit BIGINTs; idf rounded 8dp.
    // Engine prunes the corpus postings with a broadcast of the distinct
    // query terms BEFORE any term-keyed shuffle.
    QueryDef("bm25_topk", Some(
      bm25RankSql +
        " SELECT query_id, doc_id, score_micro, rank FROM rk WHERE rank <= 10 " +
        "ORDER BY query_id, rank"),
      // top-10 of the shared top-20 ranking mart — identical rows to a
      // direct k=10 run, one postings build for both retrieval consumers
      (s, d) => bm25Rank20(s, d).filter(col("rank") <= 10)
        .orderBy("query_id", "rank")),

    // Hybrid retrieval: reciprocal-rank fusion (Cormack/Clarke/Büttcher,
    // SIGIR'09) of the BM25 ranking with a set-Jaccard ranking over the
    // same queries — the "fuse a sparse and a second ranker, keep what
    // they agree on" stage of hybrid corpus mining. Both input rankings
    // are top-20-truncated, so the fusion shuffle is ranking-sized; all
    // scores are pure integer micro units (10⁶ div (60+rank), |∩|·10⁶ div
    // |∪|) — no float boundary anywhere. The oracle SHARES the bm25 CTE
    // prefix with bm25_topk (one source of truth) and fuses in SQL.
    QueryDef("retrieval_rrf_fusion", Some(
      bm25RankSql +
        ", r1 AS (SELECT query_id, doc_id, rank FROM rk WHERE rank <= 20), " +
        "dw AS (SELECT doc_id, list_distinct(w) AS dw FROM t), " +
        "qw AS (SELECT query_id, list_distinct(string_split_regex(lower(trim(qtext)), '\\s+')) AS qw FROM q), " +
        "js AS (SELECT q.query_id, d.doc_id, " +
        "CAST(len(list_intersect(d.dw, q.qw)) AS BIGINT) * 1000000 // " +
        "CAST(len(list_distinct(list_concat(d.dw, q.qw))) AS BIGINT) AS s " +
        "FROM dw d CROSS JOIN qw q WHERE len(list_intersect(d.dw, q.qw)) > 0), " +
        "r2 AS (SELECT query_id, doc_id, CAST(row_number() OVER " +
        "(PARTITION BY query_id ORDER BY s DESC, doc_id ASC) AS INT) AS rank FROM js), " +
        "u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2 WHERE rank <= 20), " +
        "f AS (SELECT query_id, doc_id, CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS rrf_micro, " +
        "CAST(count(*) AS BIGINT) AS n_rankers FROM u GROUP BY 1, 2), " +
        "rkf AS (SELECT query_id, doc_id, rrf_micro, n_rankers, CAST(row_number() OVER " +
        "(PARTITION BY query_id ORDER BY rrf_micro DESC, doc_id ASC) AS INT) AS rank FROM f) " +
        "SELECT query_id, doc_id, rrf_micro, n_rankers, rank FROM rkf " +
        "WHERE rank <= 10 ORDER BY query_id, rank"),
      (s, d) => {
        Retrieval.rrfFuse(Seq(
            bm25Rank20(s, d),
            Retrieval.jaccardTopK(T(s, d, "documents"), "doc_id", "text",
              retrievalQueries, k = 20)),
          kConst = 60, k = 10)
          .orderBy("query_id", "rank")
      }),

    // Unigram-LM quality score (the CCNet-style "how surprising is this
    // doc under the corpus language model" signal): train unigram counts
    // over the whole corpus, score each doc by its total negative
    // log-likelihood. Per-token -ln p is rounded to 8 dp (the tfidf-proven
    // ulp-drift killer) and summed as DECIMAL — order-free exact — then
    // emitted in 1e-8 units as BIGINT, so the driver hash cannot see
    // engine summation order. The count join shuffles on the word key
    // (vocabulary-sized — never broadcast); only the 1-row total
    // broadcasts.
    QueryDef("text_lm_score", Some(
      "WITH " + lmNllSql +
        " SELECT doc_id, n_toks, nll_e8 FROM lmsc ORDER BY doc_id"),
      (s, d) => lmScores(s, d).orderBy("doc_id")),

    // CCNet perplexity buckets (Wenzek et al. LREC'20, arXiv:1911.00359
    // §4.3): split the corpus into head/middle/tail TERCILES of
    // per-token LM score — CCNet's downstream recipe trains on head+middle
    // and drops tail. Composes the materialized LM-score mart with the
    // binned percent-rank; RANKING runs on the score quantized to
    // per-token MILLI-nat bins (nll_per_tok_e8 div 1e5 — a few thousand
    // distinct values at any corpus size), because percentRankMicro's
    // binnedRank core needs a bounded-cardinality score: ranking the raw
    // e8 value (essentially unique per doc) would make the bin frame
    // corpus-sized and degrade the no-global-sort plan into a corpus-wide
    // sort + broadcast. Total order = (milli-nat bin asc, doc_id asc),
    // identical on both engines; the bucket boundary is the integer form
    // 3·pr < 10⁶ — no float cutoff. Per-token normalization
    // (nll_e8 div n_toks) keeps long docs from sinking on length alone.
    QueryDef("quality_ccnet_buckets", Some(
      "WITH " + lmNllSql + ", " +
        "npt AS (SELECT doc_id, nll_e8 // greatest(n_toks, 1) AS nll_per_tok_e8 FROM lmsc), " +
        "r AS (SELECT doc_id, nll_per_tok_e8, " +
        "CAST(row_number() OVER (ORDER BY nll_per_tok_e8 // 100000 ASC, doc_id ASC) AS BIGINT) AS rn, " +
        "count(*) OVER () AS n FROM npt) " +
        "SELECT doc_id, nll_per_tok_e8, " +
        "CAST((rn - 1) * 1000000 // greatest(n - 1, 1) AS BIGINT) AS pr_fluency, " +
        "CASE WHEN 3 * ((rn - 1) * 1000000 // greatest(n - 1, 1)) < 1000000 THEN 'head' " +
        "WHEN 3 * ((rn - 1) * 1000000 // greatest(n - 1, 1)) < 2000000 THEN 'middle' " +
        "ELSE 'tail' END AS bucket " +
        "FROM r ORDER BY doc_id"),
      (s, d) => {
        val t = lmScores(s, d)
          .withColumn("nll_per_tok_e8", expr("nll_e8 div greatest(n_toks, 1L)"))
          // percentRankMicro ranks (score DESC, id ASC): quantize to the
          // bounded milli-nat bin FIRST (floor-div before negation — they
          // don't commute), then negate so the most fluent (lowest
          // per-token NLL) doc ranks first
          .withColumn("__s", -expr("nll_per_tok_e8 div 100000L"))
          .select("doc_id", "nll_per_tok_e8", "__s")
        operators.TextAnalysis.percentRankMicro(t, "doc_id", "__s", "pr_fluency")
          .withColumn("bucket",
            when(expr("3 * pr_fluency < 1000000"), "head")
              .when(expr("3 * pr_fluency < 2000000"), "middle")
              .otherwise("tail"))
          .select("doc_id", "nll_per_tok_e8", "pr_fluency", "bucket")
          .orderBy("doc_id")
      }),

    // Distributed BPE tokenizer training: 10 merge rules learned from the
    // corpus. The corpus is scanned once (word counts); every merge round
    // runs on the vocabulary only — pair-count agg, top-1 collect (the one
    // driver row, like the kmeans centroids), codegen'd fold applying the
    // merge. Oracle unrolls all 10 rounds in SQL: pair counts from
    // adjacent-token zips, lexicographic-tiebreak argmax, and the merge
    // applied via a list-of-lists fold (the 1-row best-pair CTE is LEFT
    // JOINed in, since DuckDB lambdas can reference columns but not
    // subqueries; LEFT — not CROSS — so an exhausted round with no pairs
    // left degrades to a null-pair no-op fold instead of annihilating the
    // vocabulary, matching bpeFit's early stop).
    QueryDef("text_bpe_merges", Some {
      "WITH dw AS (SELECT unnest(list_filter(string_split_regex(lower(text), " +
        "'[^\\p{L}]+'), x -> len(x) > 0)) AS w FROM documents), " +
        "v0 AS (SELECT w, count(*) AS cnt, regexp_extract_all(w, '.') AS t FROM dw GROUP BY w), " +
        (0 until 10).map(bpeRoundSql).mkString(", ") + " " +
        (0 until 10).map(n =>
          s"SELECT ${n + 1} AS merge_rank, l, r, m AS merged, c AS pair_count FROM b$n")
          .mkString(" UNION ALL ") +
        " ORDER BY merge_rank"
    },
      (s, d) => {
        val ms = bpeMerges(s, d)
        import s.implicits._
        ms.toDF("merge_rank", "l", "r", "merged", "pair_count")
          .orderBy("merge_rank")
      }),

    // The encode half of the tokenizer pipeline: train the 10 merges, then
    // tokenize every document with them. Oracle reuses the training
    // unroll's final vocabulary v10 — a doc's BPE length is the sum of its
    // words' split lengths.
    QueryDef("text_bpe_encode", Some {
      "WITH dw AS (SELECT unnest(list_filter(string_split_regex(lower(text), " +
        "'[^\\p{L}]+'), x -> len(x) > 0)) AS w FROM documents), " +
        "v0 AS (SELECT w, count(*) AS cnt, regexp_extract_all(w, '.') AS t FROM dw GROUP BY w), " +
        (0 until 10).map(bpeRoundSql).mkString(", ") + ", " +
        "dw2 AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), " +
        "'[^\\p{L}]+'), x -> len(x) > 0)) AS w FROM documents), " +
        "lens AS (SELECT dw2.doc_id, len(v10.t) AS n FROM dw2 JOIN v10 ON v10.w = dw2.w) " +
        "SELECT d.doc_id, coalesce(CAST(sum(lens.n) AS BIGINT), 0) AS n_bpe_tokens " +
        "FROM documents d LEFT JOIN lens ON lens.doc_id = d.doc_id " +
        "GROUP BY d.doc_id ORDER BY d.doc_id"
    },
      (s, d) => {
        val ms = bpeMerges(s, d).map(t => (t._2, t._3, t._4))
        operators.Tokenizer.bpeEncodeCorpus(
          T(s, d, "documents"), "doc_id", "text", ms)
          .orderBy("doc_id")
      }),

    // Gopher-style within-document repetition filters (duplicate-word
    // fraction, top-bigram share) — row-local array built-ins both sides.
    QueryDef("text_repetition", Some(
      "WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents), " +
        "b AS (SELECT doc_id, w, len(w) AS n, CASE WHEN len(w) >= 2 THEN " +
        "list_transform(range(len(w)-1), i -> w[CAST(i AS INT)+1] || ' ' || w[CAST(i AS INT)+2]) " +
        "ELSE [] END AS bg FROM t) " +
        "SELECT doc_id, CAST(n AS BIGINT) AS n_words_r, " +
        "CASE WHEN n > 0 THEN round(1.0 - CAST(len(list_distinct(w)) AS DOUBLE)/n, 4) ELSE 0.0 END AS dup_word_ratio, " +
        "CASE WHEN n >= 2 THEN round(CAST(list_max(list_transform(list_distinct(bg), " +
        "x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE)/(n-1), 4) ELSE 0.0 END AS top_bigram_share " +
        "FROM b ORDER BY doc_id"),
      (s, d) => {
        val cols = TextFunctions.repetitionMetrics(col("text"))
          .map { case (n, c) => c.as(n) }
        T(s, d, "documents").select((col("doc_id") +: cols): _*).orderBy("doc_id")
      }),

    // Sequence packing for fixed-token training windows: docs concatenated
    // back-to-back per language stream (ordered by doc_id), a doc belongs
    // to the 2048-token sequence its first token lands in. One window
    // cumsum. Packing is inherently sequential per stream — at 100 TB the
    // stream key is sharded (lang × shard) so each task packs one bounded
    // shard; the per-stream semantics here are exactly that per-shard step.
    QueryDef("pack_sequences", Some(
      "WITH t AS (SELECT doc_id, lang, " + tokensWsSql + " AS tokens FROM documents), " +
        "c AS (SELECT doc_id, lang, tokens, sum(tokens) OVER (PARTITION BY lang ORDER BY doc_id " +
        "ROWS UNBOUNDED PRECEDING) AS cum FROM t) " +
        "SELECT doc_id, lang, CAST(tokens AS BIGINT) AS tokens, " +
        "CAST((cum - tokens) // 2048 AS BIGINT) AS seq_id, " +
        "CAST((cum - tokens) % 2048 AS BIGINT) AS seq_offset " +
        "FROM c ORDER BY doc_id"),
      (s, d) => {
        val t = T(s, d, "documents").select(col("doc_id"), col("lang"),
          tokensWs.as("tokens"))
        val w = Window.partitionBy("lang").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, 0)
        t.withColumn("cum", sum("tokens").over(w))
          .select(col("doc_id"), col("lang"), col("tokens"),
            floor((col("cum") - col("tokens")) / 2048).cast("long").as("seq_id"),
            ((col("cum") - col("tokens")) % 2048).cast("long").as("seq_offset"))
          .orderBy("doc_id")
      }),

    // Length-bucketed batch assembly — the padding-waste primitive of a
    // training dataloader: docs go to the smallest power-of-two length
    // bucket that fits, batches of 8 form within (lang, bucket) in doc_id
    // order, and pad_tokens = bucket − tokens is the per-doc padding cost
    // the bucketing exists to minimize. All integer arithmetic; the rank
    // window is (lang, bucket)-partitioned — shard-parallel at any scale,
    // same per-stream sharding story as pack_sequences.
    QueryDef("pack_batches", Some(
      "WITH t AS (SELECT doc_id, lang, " + tokensWsSql + " AS tokens FROM documents), " +
        "b AS (SELECT doc_id, lang, tokens, CASE WHEN tokens <= 64 THEN 64 " +
        "WHEN tokens <= 128 THEN 128 WHEN tokens <= 256 THEN 256 " +
        "WHEN tokens <= 512 THEN 512 WHEN tokens <= 1024 THEN 1024 " +
        "ELSE 2048 END AS bucket FROM t) " +
        "SELECT doc_id, lang, CAST(bucket AS BIGINT) AS bucket, " +
        "CAST((row_number() OVER (PARTITION BY lang, bucket ORDER BY doc_id) - 1) // 8 AS BIGINT) AS batch_idx, " +
        "CAST(greatest(bucket - tokens, 0) AS BIGINT) AS pad_tokens " +
        "FROM b ORDER BY doc_id"),
      (s, d) => {
        val t = T(s, d, "documents").select(col("doc_id"), col("lang"),
          tokensWs.as("tokens"))
        val bucket = when(col("tokens") <= 64, 64L)
          .when(col("tokens") <= 128, 128L).when(col("tokens") <= 256, 256L)
          .when(col("tokens") <= 512, 512L).when(col("tokens") <= 1024, 1024L)
          .otherwise(2048L)
        t.withColumn("bucket", bucket)
          .select(col("doc_id"), col("lang"), col("bucket"),
            expr("(row_number() OVER (PARTITION BY lang, bucket ORDER BY doc_id) - 1) div 8")
              .as("batch_idx"),
            // clamped: a doc longer than the largest bucket is a truncation
            // case for doc_chunks upstream, not negative "padding savings"
            greatest(col("bucket") - col("tokens"), lit(0L)).as("pad_tokens"))
          .orderBy("doc_id")
      }),

    QueryDef("text_tokens", Some(
      "SELECT doc_id, " + tokensWsSql + " AS tokens_ws, " +
        "len(regexp_extract_all(text, '\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]+')) AS tokens_bpeish " +
        "FROM documents"),
      (s, d) => T(s, d, "documents").select(col("doc_id"),
        tokensWs.as("tokens_ws"),
        TextFunctions.tokenCountBpeishUdf(col("text")).as("tokens_bpeish"))),

    // the stopword-vote heuristic is fully deterministic (explicit langOrder
    // tie-break) → expressible as SQL ratio comparisons; CJK gate via
    // codepoint-range counts
    QueryDef("text_langid", Some {
      val sw = Map(
        "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for", "on", "with", "as", "was", "at"),
        "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "una", "los", "las", "por", "con", "para", "es", "del"),
        "pt" -> Seq("o", "a", "de", "que", "e", "em", "um", "uma", "os", "as", "por", "com", "para", "não", "do"),
        "fr" -> Seq("le", "la", "de", "que", "et", "en", "un", "une", "les", "des", "pour", "avec", "est", "du", "ne"),
        "de" -> Seq("der", "die", "das", "und", "in", "den", "von", "zu", "mit", "ist", "des", "im", "nicht", "ein", "eine"))
      def lst(l: String) = sw(l).map(w => s"'$w'").mkString("[", ",", "]")
      val ratios = Seq("en", "es", "pt", "fr", "de").map(l =>
        s"CASE WHEN ntoks > 0 THEN CAST(len(list_filter(toks, t -> list_contains(${lst(l)}, t))) AS DOUBLE)/ntoks ELSE 0 END AS r_$l")
        .mkString(", ")
      "WITH b AS (SELECT doc_id, " +
        "len(regexp_extract_all(text, '\\p{L}')) AS letters, " +
        "len(regexp_extract_all(text, '[\\x{4E00}-\\x{9FFF}\\x{3040}-\\x{309F}\\x{30A0}-\\x{30FF}]')) AS cjk, " +
        "list_filter(string_split_regex(lower(text), '[^\\p{L}]+'), t -> len(t) > 0) AS toks FROM documents), " +
        "r AS (SELECT doc_id, letters, cjk, toks, len(toks) AS ntoks FROM b), " +
        s"s AS (SELECT doc_id, letters, cjk, ntoks, $ratios FROM r) " +
        "SELECT doc_id, CASE " +
        "WHEN letters > 0 AND CAST(cjk AS DOUBLE)/letters > 0.3 THEN 'zh' " +
        "WHEN ntoks = 0 THEN 'und' " +
        "WHEN greatest(r_en, r_es, r_pt, r_fr, r_de) <= 0.05 THEN 'und' " +
        "WHEN r_en >= r_es AND r_en >= r_pt AND r_en >= r_fr AND r_en >= r_de THEN 'en' " +
        "WHEN r_es >= r_pt AND r_es >= r_fr AND r_es >= r_de THEN 'es' " +
        "WHEN r_pt >= r_fr AND r_pt >= r_de THEN 'pt' " +
        "WHEN r_fr >= r_de THEN 'fr' ELSE 'de' END AS lang_pred " +
        "FROM s ORDER BY doc_id"
    },
      (s, d) => T(s, d, "documents").select(col("doc_id"),
        TextFunctions.detectLanguageUdf(col("text")).as("lang_pred"))
        .orderBy("doc_id")),

    // ------------------------------------------------------------ web ops
    //
    // URL canonicalization — the key of crawl-level dedup (C4/RefinedWeb
    // count pages once per URL *after* normalization). Messy URLs are
    // SYNTHESIZED from doc_id arithmetic (scheme case, WWW prefix, default
    // and non-default ports, utm_* tracking params, fragments, trailing
    // slashes, two-label public suffixes); the engine runs the generic
    // regex normalizer (operators/Web.scala — row-local codegen'd string
    // expressions, no shuffle, no UDF) while the ORACLE derives the
    // canonical form CLOSED-FORM from the same arithmetic — an independent
    // derivation, not a regex replay, so a normalizer bug cannot cancel
    // itself out of the compare.
    QueryDef("web_url_canonical", Some(
      urlOracleCtes +
        " SELECT doc_id, url_raw, url_canon, host, reg_domain FROM canon ORDER BY doc_id"),
      (s, d) => fanOut(T(s, d, "documents").select("doc_id"))
        .select(col("doc_id"), syntheticUrl.as("url_raw"))
        .select(col("doc_id"), col("url_raw"),
          operators.Web.canonicalUrl(col("url_raw")).as("url_canon"),
          operators.Web.urlHost(col("url_raw")).as("host"))
        .withColumn("reg_domain", operators.Web.registeredDomain(col("host")))
        .orderBy("doc_id")),

    // Registered-domain rollup over the canonical keys: docs per domain,
    // DISTINCT canonical URLs per domain (the crawl-dedup denominator) —
    // one hash aggregate after the row-local canonicalization scan.
    QueryDef("web_host_stats", Some(
      urlOracleCtes +
        " SELECT reg_domain, count(*) AS n_docs, " +
        "CAST(count(DISTINCT url_canon) AS BIGINT) AS n_urls, " +
        "min(doc_id) AS min_doc FROM canon GROUP BY 1 ORDER BY 1"),
      (s, d) => {
        val u = T(s, d, "documents").select("doc_id")
          .select(col("doc_id"), syntheticUrl.as("url_raw"))
          .select(col("doc_id"),
            operators.Web.canonicalUrl(col("url_raw")).as("url_canon"),
            operators.Web.registeredDomain(
              operators.Web.urlHost(col("url_raw"))).as("reg_domain"))
        u.groupBy("reg_domain").agg(
            count(lit(1)).as("n_docs"),
            countDistinct(col("url_canon")).as("n_urls"),
            min("doc_id").as("min_doc"))
          .orderBy("reg_domain")
      }),

    // Per-domain quota (the C4/RefinedWeb host-cap step): keep at most K
    // docs per registered domain, preferring longer docs (n_chars as the
    // quality proxy) with doc_id tiebreak — the anti-boilerplate guard that
    // stops one template site from dominating a crawl corpus. Shape: the
    // TWO-PHASE top-K of Skew.topKPerKey — per-(domain, salt) partial
    // top-K before the per-domain rank, so a hot template domain (the
    // skew concern at 100 TB: one reducer would otherwise receive the
    // whole domain) never sends more than k·salts rows to one reducer.
    // Result identical to a direct row_number window (total order via the
    // doc_id tiebreak); the oracle ranks directly.
    QueryDef("web_domain_cap", Some(
      urlOracleCtes +
        ", ranked AS (SELECT c.doc_id, c.reg_domain, CAST(row_number() OVER " +
        "(PARTITION BY c.reg_domain ORDER BY d.n_chars DESC, c.doc_id) AS BIGINT) AS rk " +
        "FROM canon c JOIN documents d ON c.doc_id = d.doc_id) " +
        "SELECT doc_id, reg_domain, rk FROM ranked WHERE rk <= 3 " +
        "ORDER BY reg_domain, rk"),
      (s, d) => {
        val keyed = T(s, d, "documents").select("doc_id", "n_chars")
          .select(col("doc_id"), col("n_chars"),
            operators.Web.registeredDomain(
              operators.Web.urlHost(syntheticUrl)).as("reg_domain"))
        operators.Skew.topKPerKey(keyed, Seq("reg_domain"),
            Seq(col("n_chars").desc, col("doc_id").asc), k = 3)
          .select(col("doc_id"), col("reg_domain"), col("rk").cast("long").as("rk"))
          .orderBy("reg_domain", "rk")
      }),

    // PageRank over a link graph (Web.pageRankE9): the canonical iterative
    // join+aggregate of web-scale corpora — crawl prioritization / quality
    // priors for training-data selection. Links are formula-derived from
    // doc_id (contiguous 0..N-1 in this corpus): node i emits 1+(i%4)
    // out-edges to (i·a+c) mod N for the first k of four (a,c) pairs, so
    // out-degree VARIES and the odeg join is exercised. Exact integer e9
    // arithmetic end-to-end (BIGINT sums are fold-order-invariant; see the
    // operator's scaladoc for the 100 TB shape) makes the 3 unrolled
    // iterations bit-reproducible by the SQL oracle.
    QueryDef("web_pagerank", Some(
      "WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM documents), " +
        "ids AS (SELECT doc_id AS id FROM documents), " +
        "edges AS (" +
        "SELECT doc_id AS src, (doc_id*17+1) % cnt AS dst FROM documents, nn " +
        "UNION ALL SELECT doc_id, (doc_id*101+7) % cnt FROM documents, nn WHERE doc_id % 4 >= 1 " +
        "UNION ALL SELECT doc_id, (doc_id*31+13) % cnt FROM documents, nn WHERE doc_id % 4 >= 2 " +
        "UNION ALL SELECT doc_id, (doc_id*59+3) % cnt FROM documents, nn WHERE doc_id % 4 >= 3), " +
        "ew AS (SELECT src, dst, CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS odeg FROM edges), " +
        "r0 AS (SELECT id, 1000000000 // cnt AS r FROM ids, nn), " +
        "i1 AS (SELECT ew.dst AS id, CAST(sum(r.r // ew.odeg) AS BIGINT) AS f FROM ew JOIN r0 r ON ew.src = r.id GROUP BY 1), " +
        "r1 AS (SELECT ids.id, (15 * (1000000000 // cnt) + 85 * COALESCE(i1.f, 0)) // 100 AS r FROM ids LEFT JOIN i1 ON ids.id = i1.id, nn), " +
        "i2 AS (SELECT ew.dst AS id, CAST(sum(r.r // ew.odeg) AS BIGINT) AS f FROM ew JOIN r1 r ON ew.src = r.id GROUP BY 1), " +
        "r2 AS (SELECT ids.id, (15 * (1000000000 // cnt) + 85 * COALESCE(i2.f, 0)) // 100 AS r FROM ids LEFT JOIN i2 ON ids.id = i2.id, nn), " +
        "i3 AS (SELECT ew.dst AS id, CAST(sum(r.r // ew.odeg) AS BIGINT) AS f FROM ew JOIN r2 r ON ew.src = r.id GROUP BY 1), " +
        "r3 AS (SELECT ids.id, (15 * (1000000000 // cnt) + 85 * COALESCE(i3.f, 0)) // 100 AS r FROM ids LEFT JOIN i3 ON ids.id = i3.id, nn) " +
        "SELECT id AS doc_id, CAST(r AS BIGINT) AS rank_e9 FROM r3 ORDER BY doc_id"),
      (s, d) => {
        val docs = T(s, d, "documents").select("doc_id")
        val nCnt = docs.count()
        val linkDefs = Seq((17L, 1L), (101L, 7L), (31L, 13L), (59L, 3L))
        val edges = linkDefs.zipWithIndex.map { case ((a, c), i) =>
          docs.filter(col("doc_id") % 4 >= i)
            .select(col("doc_id").as("src"),
              ((col("doc_id") * a + c) % nCnt).as("dst"))
        }.reduce(_ unionByName _)
        operators.Web.pageRankE9(edges, docs.select(col("doc_id").as("id")),
            iterations = 3)
          .select(col("id").as("doc_id"), col("rank_e9"))
          .orderBy("doc_id")
      }),

    // PageRank with the STANDARD dangling-mass redistribution (round-14
    // verdict item 5): doc_id % 4 == 0 nodes emit NO out-edges (the first
    // link family starts at % 4 >= 1 here), so a quarter of the mass
    // lands on dangling nodes each round; redistributeDangling = true
    // folds Σ rank(dangling) back uniformly — one 1-row aggregate
    // broadcast per iteration, still O(E)/round, still integer-exact.
    // The oracle unrolls all 3 iterations WITH the per-iteration dmass
    // scalar, so a leaking variant (the old default) hash-fails.
    QueryDef("web_pagerank_dangling", Some(
      "WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM documents), " +
        "ids AS (SELECT doc_id AS id FROM documents), " +
        "edges AS (" +
        "SELECT doc_id AS src, (doc_id*17+1) % cnt AS dst FROM documents, nn WHERE doc_id % 4 >= 1 " +
        "UNION ALL SELECT doc_id, (doc_id*101+7) % cnt FROM documents, nn WHERE doc_id % 4 >= 2 " +
        "UNION ALL SELECT doc_id, (doc_id*31+13) % cnt FROM documents, nn WHERE doc_id % 4 >= 3), " +
        "ew AS (SELECT src, dst, CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS odeg FROM edges), " +
        "r0 AS (SELECT id, 1000000000 // cnt AS r FROM ids, nn), " +
        "d1 AS (SELECT CAST(sum(r) AS BIGINT) AS dm FROM r0 WHERE id % 4 = 0), " +
        "i1 AS (SELECT ew.dst AS id, CAST(sum(r.r // ew.odeg) AS BIGINT) AS f FROM ew JOIN r0 r ON ew.src = r.id GROUP BY 1), " +
        "r1 AS (SELECT ids.id, (15 * (1000000000 // cnt) + 85 * (COALESCE(i1.f, 0) + (SELECT dm FROM d1) // cnt)) // 100 AS r FROM ids LEFT JOIN i1 ON ids.id = i1.id, nn), " +
        "d2 AS (SELECT CAST(sum(r) AS BIGINT) AS dm FROM r1 WHERE id % 4 = 0), " +
        "i2 AS (SELECT ew.dst AS id, CAST(sum(r.r // ew.odeg) AS BIGINT) AS f FROM ew JOIN r1 r ON ew.src = r.id GROUP BY 1), " +
        "r2 AS (SELECT ids.id, (15 * (1000000000 // cnt) + 85 * (COALESCE(i2.f, 0) + (SELECT dm FROM d2) // cnt)) // 100 AS r FROM ids LEFT JOIN i2 ON ids.id = i2.id, nn), " +
        "d3 AS (SELECT CAST(sum(r) AS BIGINT) AS dm FROM r2 WHERE id % 4 = 0), " +
        "i3 AS (SELECT ew.dst AS id, CAST(sum(r.r // ew.odeg) AS BIGINT) AS f FROM ew JOIN r2 r ON ew.src = r.id GROUP BY 1), " +
        "r3 AS (SELECT ids.id, (15 * (1000000000 // cnt) + 85 * (COALESCE(i3.f, 0) + (SELECT dm FROM d3) // cnt)) // 100 AS r FROM ids LEFT JOIN i3 ON ids.id = i3.id, nn) " +
        "SELECT id AS doc_id, CAST(r AS BIGINT) AS rank_e9 FROM r3 ORDER BY doc_id"),
      (s, d) => {
        val docs = T(s, d, "documents").select("doc_id")
        val nCnt = docs.count()
        val linkDefs = Seq((17L, 1L), (101L, 7L), (31L, 13L))
        val edges = linkDefs.zipWithIndex.map { case ((a, c), i) =>
          docs.filter(col("doc_id") % 4 >= i + 1)
            .select(col("doc_id").as("src"),
              ((col("doc_id") * a + c) % nCnt).as("dst"))
        }.reduce(_ unionByName _)
        operators.Web.pageRankE9(edges, docs.select(col("doc_id").as("id")),
            iterations = 3, redistributeDangling = true)
          .select(col("id").as("doc_id"), col("rank_e9"))
          .orderBy("doc_id")
      }),

    // the 31-based polynomial hash is exactly expressible in DuckDB via
    // HUGEINT mod-2^64 arithmetic over the codepoints (== UTF-16 units for
    // BMP text), so the fingerprint gets a real value-level oracle
    // normalization is byte-faithful to the Scala side: Java trim strips ALL
    // chars <= U+0020 (not just spaces, unlike DuckDB trim), and Java \s
    // includes \x0B where RE2's does not
    QueryDef("text_fingerprint", Some(
      "WITH n AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(lower(text), " +
        "'^[\\x{00}-\\x{20}]+', ''), '[\\x{00}-\\x{20}]+$', ''), " +
        "'[ \\t\\n\\x{0B}\\f\\r]+', ' ', 'g') AS norm " +
        "FROM documents) " +
        "SELECT doc_id, CAST(CASE WHEN h >= 9223372036854775808::HUGEINT " +
        "THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT) AS fingerprint FROM " +
        s"(SELECT doc_id, ${fnvPolySql("norm")} AS h FROM n) " +
        "ORDER BY doc_id"),
      (s, d) => T(s, d, "documents").select(col("doc_id"),
        TextFunctions.fingerprint64Udf(col("text")).as("fingerprint"))
        .orderBy("doc_id")),

    // Character-entropy quality score — the classic gibberish/spam filter
    // (low entropy = repeated chars/boilerplate; high = encoded noise).
    // The engine computes the codepoint histogram ROW-LOCALLY inside a
    // native codegen kernel (plans/CharLnSumE8Expr: one codepoint walk +
    // one alphabet-sized table pass — no explode, no shuffle: the
    // corpus-sized groupBy(doc, char) the oracle runs is exactly what a
    // 100 TB pipeline must avoid; the HOF formulation was interpreted and
    // O(distinct·len), 9× slower). Determinism: the only float op is
    // round(ln(c)·1e8) per distinct COUNT value (both engines round the
    // same IEEE double); the per-doc sum then runs in exact LONG units, so
    // fold order can't drift. entropy_e6 = (n·ln(n) − Σ cᵢ·ln(cᵢ)) / n in
    // 1e-6 nat units, derived with pure integer arithmetic from those sums.
    // Empty docs are filtered EXPLICITLY on both sides: the unnest oracle
    // would drop a zero-char doc implicitly while the row-local engine side
    // would emit (0, NULL) — aligning the row sets by construction instead
    // of by the current corpus happening to have no empty text.
    QueryDef("text_char_entropy", Some(
      "WITH c AS (SELECT doc_id, unnest(regexp_extract_all(text, '(?s).')) AS ch " +
        "FROM documents WHERE length(text) > 0), " +
        "g AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY 1, 2), " +
        "s AS (SELECT doc_id, CAST(sum(cnt * CAST(round(ln(cnt) * 100000000) AS BIGINT)) AS BIGINT) AS s_e8, " +
        "CAST(sum(cnt) AS BIGINT) AS n FROM g GROUP BY 1) " +
        "SELECT doc_id, n AS n_chars, s_e8, " +
        "CAST((CAST(round(ln(n) * 100000000) AS BIGINT) * n - s_e8) // (n * 100) AS BIGINT) AS entropy_e6 " +
        "FROM s ORDER BY doc_id"),
      (s, d) => T(s, d, "documents")
        .filter(length(col("text")) > 0)
        .select(col("doc_id"),
          // length() counts codepoints on both engines
          length(col("text")).cast("long").as("n_chars"),
          graft.plans.CharLnSumE8Expr(col("text")).as("s_e8"))
        .withColumn("entropy_e6",
          expr("(CAST(round(ln(n_chars) * 100000000) AS BIGINT) * n_chars - s_e8) " +
            "div (n_chars * 100)"))
        .orderBy("doc_id")),

    // Token-budget corpus selection: greedily take the highest-quality docs
    // (stopword-ratio proxy, ties -> lower doc_id) until the token budget is
    // spent. The ORACLE is the naive single global sort+cumsum; the ENGINE
    // never sorts the corpus globally — quality is 4dp-rounded, so per-bin
    // token totals (≤10k bins) carry the cross-bin cumulative on a tiny
    // broadcast frame, and the in-bin running sum is a window PARTITIONED
    // by bin. cum_above + in-bin cumsum == the global greedy cumsum
    // exactly, shard-parallel at any corpus size.
    // source-mixing weights: per-source sampling multiplier that equalizes
    // token share across sources (uniform target — the Pile/DoReMi-style
    // reweighting step before sampling). weight = total/(k·src_tokens),
    // emitted as round-half-up 1e-8 fixed-point via pure integer math
    // ((2·1e8·num + den) // (2·den)) so both engines agree bit-for-bit.
    // 2·1e8·total fits a long to ~4.6·10¹⁰ total tokens; the 100 TB swap
    // is the same expression over DECIMAL(38,0) (one k-row frame).
    QueryDef("corpus_mix_weights", Some(
      "WITH t AS (SELECT source, count(*) AS n_docs, " +
        "sum(" + tokensWsSql + ") AS n_tokens " +
        "FROM documents GROUP BY 1), " +
        "tot AS (SELECT sum(n_tokens) AS total, count(*) AS k FROM t) " +
        "SELECT source, CAST(n_docs AS BIGINT) AS n_docs, " +
        "CAST(n_tokens AS BIGINT) AS n_tokens, " +
        "CAST((200000000 * total + k * n_tokens) // (2 * k * n_tokens) AS BIGINT) AS weight_e8 " +
        "FROM t, tot ORDER BY source"),
      (s, d) => {
        val t = T(s, d, "documents").groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(tokensWs).as("n_tokens"))
        val tot = t.agg(sum("n_tokens").as("total"), count(lit(1)).as("k"))
        t.crossJoin(broadcast(tot))
          .withColumn("weight_e8",
            expr("(200000000L * total + k * n_tokens) div (2L * k * n_tokens)"))
          .select("source", "n_docs", "n_tokens", "weight_e8")
          .orderBy("source")
      }),

    // Temperature-scaled source sampling (α-sampling, Conneau & Lample
    // arXiv:1901.07291 §3.1; the mT5/XLM-R multilingual recipe): sampling
    // share qᵢ ∝ pᵢ^α with α=0.3 up-weights small sources without
    // swamping large ones. Determinism across engines: p^α is computed as
    // exp(α·ln p) with 8dp rounding after BOTH libm calls (the idf
    // ulp-drift recipe), shares are decimal-cast before the final integer
    // emit, and the Σpᵢ^α normalizer is an exact DECIMAL sum over the
    // (≤ sources) tiny frame. Two source-keyed aggregates, everything
    // else broadcasts — nothing here ever sees a document row twice.
    QueryDef("corpus_temperature_mix", Some(
      "WITH t AS (SELECT source, CAST(sum(" + tokensWsSql + ") AS BIGINT) AS n_tokens " +
        "FROM documents GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM t), " +
        s"s AS (SELECT source, n_tokens, " +
        "CAST(round(CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE), 8) AS DECIMAL(18,8)) AS p8, " +
        s"CAST(round(exp(${0.3} * round(ln(CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE)), 8)), 8) AS DECIMAL(18,8)) AS su " +
        "FROM t, tot), " +
        "st AS (SELECT sum(su) AS stot FROM s) " +
        "SELECT source, n_tokens, CAST(p8 * 100000000 AS BIGINT) AS share_e8, " +
        "CAST(CAST(round(CAST(su AS DOUBLE) / CAST(stot AS DOUBLE), 8) AS DECIMAL(18,8)) * 100000000 AS BIGINT) AS temp_share_e8 " +
        "FROM s, st ORDER BY source"),
      (s, d) => {
        val dec8 = DecimalType(18, 8)
        val t = T(s, d, "documents").groupBy("source")
          .agg(sum(tokensWs).as("n_tokens"))
        val tot = t.agg(sum("n_tokens").as("total"))
        val p = col("n_tokens").cast("double") / col("total").cast("double")
        val sf = t.crossJoin(broadcast(tot))
          .withColumn("p8", round(p, 8).cast(dec8))
          .withColumn("su", round(exp(lit(0.3) * round(log(p), 8)), 8).cast(dec8))
        val st = sf.agg(sum("su").as("stot"))
        sf.crossJoin(broadcast(st))
          .select(col("source"), col("n_tokens"),
            (col("p8") * 100000000L).cast("long").as("share_e8"),
            round(col("su").cast("double") / col("stot").cast("double"), 8)
              .cast(dec8).multiply(100000000L).cast("long").as("temp_share_e8"))
          .orderBy("source")
      }),

    // training-order interleaving by stride scheduling (Waldspurger &
    // Weihl OSDI'94, applied to source mixing): doc #i of source s gets
    // virtual time i/w_s, so reading in vt order interleaves sources
    // proportionally to their [corpus_mix_weights] weight — no global
    // window anywhere: src_rank is a source-PARTITIONED window and vt is
    // row-local integer math; consumers range-read on vt (the ORDER BY
    // here is output determinism only). 1e12 fixed-point holds to ~9·10⁶
    // docs/source with e8 weights (and the weight math itself to
    // ~4.6·10¹⁰ total tokens); DECIMAL(38,0) is the 100 TB swap.
    QueryDef("corpus_interleave", Some(
      "WITH d AS (SELECT doc_id, source, " +
        tokensWsSql + " AS n_tokens FROM documents), " +
        "t AS (SELECT source, sum(n_tokens) AS src_tokens FROM d GROUP BY 1), " +
        "tot AS (SELECT sum(src_tokens) AS total, count(*) AS k FROM t), " +
        "w AS (SELECT source, CAST((200000000 * total + k * src_tokens) " +
        "// (2 * k * src_tokens) AS BIGINT) AS weight_e8 FROM t, tot), " +
        "r AS (SELECT doc_id, source, row_number() OVER " +
        "(PARTITION BY source ORDER BY doc_id) AS src_rank FROM d) " +
        "SELECT r.doc_id, r.source, CAST(src_rank AS BIGINT) AS src_rank, " +
        "CAST((src_rank * 1000000000000) // weight_e8 AS BIGINT) AS vt " +
        "FROM r JOIN w USING (source) ORDER BY vt, doc_id"),
      (s, d) => {
        val docs = T(s, d, "documents").select(col("doc_id"), col("source"),
          tokensWs.as("n_tokens"))
        val t = docs.groupBy("source").agg(sum("n_tokens").as("src_tokens"))
        val tot = t.agg(sum("src_tokens").as("total"), count(lit(1)).as("k"))
        val wts = t.crossJoin(broadcast(tot))
          .withColumn("weight_e8",
            expr("(200000000L * total + k * src_tokens) div (2L * k * src_tokens)"))
          .select("source", "weight_e8")
        val rnW = Window.partitionBy("source").orderBy("doc_id")
        docs.withColumn("src_rank", row_number().over(rnW).cast("long"))
          .join(broadcast(wts), "source")
          .withColumn("vt", expr("(src_rank * 1000000000000L) div weight_e8"))
          .select("doc_id", "source", "src_rank", "vt")
          .orderBy("vt", "doc_id")
      }),

    QueryDef("corpus_select_budget", Some {
      val sw = TextFunctions.stopwords("en").toSeq.sorted
        .map(w => s"'$w'").mkString("[", ",", "]")
      "WITH t AS (SELECT doc_id, " + tokensWsSql + " AS tokens, " +
        "CASE WHEN len(toks) > 0 THEN " +
        s"round(CAST(len(list_filter(toks, x -> list_contains($sw, x))) AS DOUBLE) / len(toks), 4) " +
        "ELSE 0.0 END AS q FROM (SELECT doc_id, text, " +
        "list_filter(string_split_regex(lower(text), '[^\\p{L}]+'), x -> len(x) > 0) AS toks " +
        "FROM documents) raw), " +
        "c AS (SELECT doc_id, tokens, q, sum(tokens) OVER (ORDER BY q DESC, doc_id " +
        "ROWS UNBOUNDED PRECEDING) AS cum FROM t) " +
        "SELECT doc_id, CAST(tokens AS BIGINT) AS tokens, q AS quality, " +
        "CAST(cum AS BIGINT) AS cum_tokens, cum <= 15000 AS selected FROM c ORDER BY doc_id"
    },
      (s, d) => {
        // both the bin aggregate and the probe side read this frame —
        // persist so the corpus is tokenized once, not twice (the
        // minHashLshPairs convention; released via CacheRegistry)
        val t = CacheRegistry.register(
          T(s, d, "documents").select(col("doc_id"),
            tokensWs.as("tokens"),
            TextFunctions.stopwordRatio(col("text")).as("q"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val wAbove = Window.orderBy(col("q").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        // bin frame is ≤ 10 001 rows (4dp ratios) — the global window runs
        // on THAT, not the corpus
        val binsC = t.groupBy("q").agg(sum("tokens").as("btoks"))
          .withColumn("cum_above", coalesce(sum("btoks").over(wAbove), lit(0L)))
          .select("q", "cum_above")
        val wIn = Window.partitionBy("q").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t.join(broadcast(binsC), Seq("q"))
          .withColumn("cum_tokens", col("cum_above") + sum("tokens").over(wIn))
          .select(col("doc_id"), col("tokens"), col("q").as("quality"),
            col("cum_tokens"), (col("cum_tokens") <= 15000L).as("selected"))
          .orderBy("doc_id")
      }),

    // Rank-normalized signal fusion: combine two incomparable quality
    // signals (stopword fluency ↑, doc length ↑) on a common scale by
    // mapping each to its corpus percent-rank in integer micro-units
    // (pr = (rank-1)·1e6 // (n-1)), then blending with integer mean —
    // no float cutoff anywhere, so engines cannot disagree. Each rank uses
    // the binned decomposition (percentileGate machinery); the oracle is
    // the naive pair of global-sort windows.
    QueryDef("quality_blend", Some {
      val sw = TextFunctions.stopwords("en").toSeq.sorted
        .map(w => s"'$w'").mkString("[", ",", "]")
      "WITH t AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS len, CASE WHEN len(toks) > 0 THEN " +
        s"round(CAST(len(list_filter(toks, x -> list_contains($sw, x))) AS DOUBLE) / len(toks), 4) " +
        "ELSE 0.0 END AS q FROM (SELECT doc_id, n_chars, " +
        "list_filter(string_split_regex(lower(text), '[^\\p{L}]+'), x -> len(x) > 0) AS toks " +
        "FROM documents) raw), " +
        "r AS (SELECT doc_id, " +
        "CAST(row_number() OVER (ORDER BY q DESC, doc_id) AS BIGINT) AS rq, " +
        "CAST(row_number() OVER (ORDER BY len DESC, doc_id) AS BIGINT) AS rl, " +
        "count(*) OVER () AS n FROM t) " +
        "SELECT doc_id, CAST((rq - 1) * 1000000 // greatest(n - 1, 1) AS BIGINT) AS pr_fluency, " +
        "CAST((rl - 1) * 1000000 // greatest(n - 1, 1) AS BIGINT) AS pr_length, " +
        "CAST(((rq - 1) * 1000000 // greatest(n - 1, 1) + (rl - 1) * 1000000 // greatest(n - 1, 1)) // 2 AS BIGINT) AS blend " +
        "FROM r ORDER BY doc_id"
    },
      (s, d) => {
        val t = T(s, d, "documents").select(col("doc_id"),
          col("n_chars").cast("long").as("len"),
          TextFunctions.stopwordRatio(col("text")).as("q"))
        val fl = operators.TextAnalysis
          .percentRankMicro(t, "doc_id", "q", "pr_fluency")
          .select("doc_id", "pr_fluency")
        val ln = operators.TextAnalysis
          .percentRankMicro(t, "doc_id", "len", "pr_length")
          .select("doc_id", "pr_length")
        fl.join(ln, "doc_id")
          .withColumn("blend", expr("(pr_fluency + pr_length) div 2"))
          .orderBy("doc_id")
      }),

    // Bloom-pre-filtered blocklist removal: ban every doc sharing text
    // (by md5) with the doc_id%7==0 ban set. The bloom sketch is built by
    // Spark's native BloomFilterAggregate and evaluated as a codegen
    // might_contain literal at the scan — bloom-clean rows never shuffle;
    // only candidates take the exact FP-removing anti-join. Result is
    // EXACTLY the anti-join (oracle: NOT IN), sketch just reduces work.
    QueryDef("filter_blocklist_bloom", Some(
      "SELECT doc_id FROM documents WHERE md5(text) NOT IN " +
        "(SELECT md5(text) FROM documents WHERE doc_id % 7 = 0) ORDER BY doc_id"),
      (s, d) => operators.Blocklist.bloomAntiJoin(
          T(s, d, "documents"), md5(encode(col("text"), "UTF-8")),
          T(s, d, "documents").filter(col("doc_id") % 7 === 0)
            .select(md5(encode(col("text"), "UTF-8")).as("k")), col("k"))
        .select("doc_id").orderBy("doc_id")),

    // Percentile gate: top decile by quality, decided by pure integer
    // arithmetic (rank·10 ≤ N) over the same binned-rank decomposition as
    // corpus_select_budget — the ORACLE is the naive global sort; the
    // ENGINE never sorts the corpus (tiny bin frame + in-bin windows).
    QueryDef("quality_percentile_gate", Some {
      val sw = TextFunctions.stopwords("en").toSeq.sorted
        .map(w => s"'$w'").mkString("[", ",", "]")
      "WITH t AS (SELECT doc_id, CASE WHEN len(toks) > 0 THEN " +
        s"round(CAST(len(list_filter(toks, x -> list_contains($sw, x))) AS DOUBLE) / len(toks), 4) " +
        "ELSE 0.0 END AS q FROM (SELECT doc_id, " +
        "list_filter(string_split_regex(lower(text), '[^\\p{L}]+'), x -> len(x) > 0) AS toks " +
        "FROM documents) raw), " +
        "r AS (SELECT doc_id, q, CAST(row_number() OVER (ORDER BY q DESC, doc_id) AS BIGINT) AS rank, " +
        "count(*) OVER () AS n FROM t) " +
        "SELECT doc_id, q AS quality, rank, rank * 10 <= n AS selected FROM r ORDER BY doc_id"
    },
      (s, d) => {
        val t = T(s, d, "documents").select(col("doc_id"),
          TextFunctions.stopwordRatio(col("text")).as("q"))
        operators.TextAnalysis.percentileGate(t, "doc_id", "q", num = 1, den = 10)
          .select(col("doc_id"), col("q").as("quality"), col("rank"), col("selected"))
          .orderBy("doc_id")
      }),

    // End-to-end corpus build: exact dedup (first-id winner per digest) →
    // quality gate (length + fluency floors) → token-budget greedy
    // selection (the binned decomposition again — no global sort) →
    // per-language rollup. One oracled query proving the pipeline stages
    // compose deterministically; each stage is the already-proven operator.
    QueryDef("corpus_build_pipeline", Some {
      val sw = TextFunctions.stopwords("en").toSeq.sorted
        .map(w => s"'$w'").mkString("[", ",", "]")
      "WITH ded AS (SELECT doc_id, text, lang, n_chars FROM " +
        "(SELECT d.*, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM documents d) WHERE rn = 1), " +
        "t0 AS (SELECT doc_id, lang, n_chars, " + tokensWsSql + " AS tokens, " +
        "list_filter(string_split_regex(lower(text), '[^\\p{L}]+'), x -> len(x) > 0) AS toks FROM ded), " +
        "t AS (SELECT doc_id, lang, tokens, CASE WHEN len(toks) > 0 THEN " +
        s"round(CAST(len(list_filter(toks, x -> list_contains($sw, x))) AS DOUBLE) / len(toks), 4) " +
        "ELSE 0.0 END AS q FROM t0 WHERE n_chars >= 100), " +
        "f AS (SELECT * FROM t WHERE q >= 0.05), " +
        "c AS (SELECT doc_id, lang, tokens, q, sum(tokens) OVER (ORDER BY q DESC, doc_id " +
        "ROWS UNBOUNDED PRECEDING) AS cum FROM f) " +
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(tokens) AS BIGINT) AS n_tokens " +
        "FROM c WHERE cum <= 10000 GROUP BY lang ORDER BY lang"
    },
      (s, d) => {
        val ded = Dedup.exact(T(s, d, "documents"), Seq("text"), "doc_id")
        // bin aggregate + probe side both read this — persist so the dedup
        // window and tokenization run once (the corpus_select convention)
        val f = CacheRegistry.register(
          ded.filter(col("n_chars") >= 100)
            .select(col("doc_id"), col("lang"),
              tokensWs.as("tokens"),
              TextFunctions.stopwordRatio(col("text")).as("q"))
            .filter(col("q") >= 0.05)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val wAbove = Window.orderBy(col("q").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val binsC = f.groupBy("q").agg(sum("tokens").as("btoks"))
          .withColumn("cum_above", coalesce(sum("btoks").over(wAbove), lit(0L)))
          .select("q", "cum_above")
        val wIn = Window.partitionBy("q").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        f.join(broadcast(binsC), Seq("q"))
          .withColumn("cum", col("cum_above") + sum("tokens").over(wIn))
          .filter(col("cum") <= 10000L)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum("tokens").cast("long").as("n_tokens"))
          .orderBy("lang")
      }),

    // Topology-safe shared-border simplification (round-14 verdict item
    // 6): each doc becomes a strip of 3 unit squares whose two INTERIOR
    // borders wiggle with 4-6 points of ±0.001° amplitude (varying per
    // doc and border, so naive per-ring DP has every chance to diverge).
    // Geo.simplifySharedBorders runs per strip INSIDE the map task (the
    // dimension-group placement) with tol 0.01°: every wiggle is below
    // tolerance, junctions pin the corners, and both sides of each border
    // straighten IDENTICALLY — so each square simplifies to exactly its
    // 4 corners with planar area exactly 1.0. n_points > 5 or area_e6 ≠
    // 1e6 (an asymmetric border) hash-fails.
    QueryDef("geo_simplify_shared", Some(
      "SELECT doc_id, CAST(sq.i AS INT) AS square_idx, " +
        "CAST(5 AS INT) AS n_points, CAST(1000000 AS BIGINT) AS area_e6 " +
        "FROM documents, LATERAL (SELECT unnest(generate_series(0, 2)) AS i) sq " +
        "WHERE doc_id % 11 = 5 ORDER BY doc_id, square_idx"),
      (s, d) => {
        import s.implicits._
        T(s, d, "documents").filter(col("doc_id") % 11 === 5)
          .select("doc_id").as[Long]
          .mapPartitions(_.flatMap { id =>
            import graft.geo.Geo
            // interior border x = 1, 2 with (4 + (id+b) % 3) wiggles
            def border(b: Int): IndexedSeq[Geo.Point] = {
              val n = 4 + ((id + b) % 3).toInt
              val x = (b + 1).toDouble
              (0 to n).map { k =>
                val y = k.toDouble / n
                val amp = if (k == 0 || k == n) 0.0
                  else (if (k % 2 == 0) -0.001 else 0.001)
                (x + amp, y)
              }
            }
            def square(i: Int): Geo.MultiPolygon = {
              val left: IndexedSeq[Geo.Point] =
                if (i == 0) IndexedSeq((0.0, 0.0), (0.0, 1.0))
                else border(i - 1)
              val right: IndexedSeq[Geo.Point] =
                if (i == 2) IndexedSeq((3.0, 0.0), (3.0, 1.0))
                else border(i)
              // up the right border, across the top, down the left border
              // (reversed), across the bottom to close — corners are the
              // borders' endpoints themselves
              val ring = (right ++ left.reverse :+ right.head).toIndexedSeq
              IndexedSeq(IndexedSeq(ring))
            }
            val strips = (0 to 2).map(square)
            val simplified = Geo.simplifySharedBorders(strips, 0.01)
            simplified.zipWithIndex.map { case (mp, i) =>
              val r = mp.head.head
              (id, i, r.length,
                math.round(Geo.ringAreaPlanarDeg2(r) * 1e6))
            }.iterator
          })
          .toDF("doc_id", "square_idx", "n_points", "area_e6")
          .orderBy("doc_id", "square_idx")
      }),

    // The crawl twin of corpus_build_pipeline (round-14 verdict item 8):
    // the whole round-14 crawl family composed END-TO-END under one
    // oracle — WARC shards (gzip members on even ids) → robots.txt
    // admission (RFC 9309 fixture, h3 has no robots = allow-all) → HTML
    // extract (trap-laden page) → URL canonicalize → content-key exact
    // dedup (first-seen-wins after stripping the id header the fixture
    // injects) → token/stopword quality gate → per-host corpus stats.
    // Every stage reuses the per-stage gate row's fixture and oracle
    // block, so this row proves the FAMILY composes deterministically,
    // not just each stage alone.
    QueryDef("crawl_build_pipeline", Some {
      val sw = TextFunctions.stopwords("en").toSeq.sorted
        .map(w => s"'$w'").mkString("[", ",", "]")
      "WITH v AS (SELECT doc_id, text, 'h' || (doc_id % 7) || '.example' AS host, " +
        "CASE doc_id % 5 WHEN 0 THEN '/public/page' || doc_id " +
        "WHEN 1 THEN '/private/x' || doc_id " +
        "WHEN 2 THEN '/private/ok/y' || doc_id " +
        "WHEN 3 THEN '/files/doc' || doc_id || '.pdf' " +
        "ELSE '/' END AS path FROM documents), " +
        // robots verdict closed-form (web_robots_filter's oracle): no
        // robots on h3; /private/x and /*.pdf$ disallowed elsewhere
        "adm AS (SELECT * FROM v WHERE doc_id % 7 = 3 OR doc_id % 5 IN (0, 2, 4)), " +
        "ext AS (SELECT doc_id, host, 'https://' || host || path AS url_canon, " +
        s"$htmlTrapOracleText AS text FROM adm), " +
        "ded AS (SELECT * FROM (SELECT e.*, row_number() OVER (PARTITION BY " +
        "md5(regexp_replace(text, '^Doc Doc [0-9]+ ', '')) ORDER BY doc_id) AS rn " +
        "FROM ext e) WHERE rn = 1), " +
        "q0 AS (SELECT doc_id, host, url_canon, " +
        "len(string_split_regex(trim(text), '\\s+')) AS tokens, " +
        "list_filter(string_split_regex(lower(text), '[^\\p{L}]+'), x -> len(x) > 0) AS toks " +
        "FROM ded), " +
        "q AS (SELECT doc_id, host, url_canon, tokens, CASE WHEN len(toks) > 0 THEN " +
        s"round(CAST(len(list_filter(toks, x -> list_contains($sw, x))) AS DOUBLE) / len(toks), 4) " +
        "ELSE 0.0 END AS sq FROM q0 WHERE tokens >= 20) " +
        "SELECT host, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(tokens) AS BIGINT) AS n_tokens, " +
        "CAST(count(DISTINCT url_canon) AS BIGINT) AS n_urls, " +
        "min(doc_id) AS min_doc FROM q WHERE sq >= 0.05 " +
        "GROUP BY 1 ORDER BY 1"
    },
      (s, d) => {
        import s.implicits._
        // 1) WARC shards, robots-fixture host/path scheme
        val media = T(s, d, "documents").select("doc_id", "text")
          .as[(Long, String)]
          .mapPartitions(_.map { case (id, text) =>
            val host = s"h${id % 7}.example"
            val path = (id % 5) match {
              case 0 => s"/public/page$id"
              case 1 => s"/private/x$id"
              case 2 => s"/private/ok/y$id"
              case 3 => s"/files/doc$id.pdf"
              case _ => "/"
            }
            graft.operators.Multimodal.MediaRow(id, "web",
              graft.operators.Warc.warcBytes(
                // concatenation, not interpolation: the leak scanner's
                // host extractor reads "$host$path" as a literal host
                "https://" + host + path, htmlTrapPage(id, text), id,
                gzipped = id % 2 == 0),
              "application/warc", None, None, None)
          })
        // 2) WARC parse + URL canonicalize off the RECOVERED target URI
        val resp = graft.operators.Warc.records(media).toDF()
          .filter(col("warc_type") === "response")
          .select(col("media_id").as("doc_id"), col("target_uri"), col("body"))
          .withColumn("url_canon", operators.Web.canonicalUrl(col("target_uri")))
          .withColumn("host", operators.Web.urlHost(col("target_uri")))
          .withColumn("path",
            expr("substring(target_uri, length(host) + 9)"))
        // 3) robots admission via the broadcast-parsed rule sets
        val robots = s.range(7).filter(col("id") =!= 3).select(
          concat(lit("h"), col("id").cast("string"), lit(".example")).as("host"),
          lit("# fixture robots\n" +
            "User-agent: special-bot\nDisallow: /\n\n" +
            "User-agent: *\n" +
            "Disallow: /private\n" +
            "Allow: /private/ok\n" +
            "Disallow: /*.pdf$\n" +
            "Sitemap: https://ignored.example.org/sitemap.xml\n").as("robots_txt"))
        // admission is row-local behind a broadcast of the parsed rule
        // sets — ONE linear plan: the WARC build+parse lineage executes
        // once (a filterUrls verdict frame joined back would run it twice)
        val admitted = graft.operators.Robots.admitted(resp, robots, "host", "path")
        // 4) HTML extract  5) content-key first-seen dedup
        val extracted = admitted.select(col("doc_id"), col("host"),
            col("url_canon"),
            graft.functions.TextFunctions.htmlExtract(col("body"))
              .getField("text").as("text"))
          .withColumn("content_key",
            regexp_replace(col("text"), "^Doc Doc [0-9]+ ", ""))
        val ded = Dedup.exact(extracted, Seq("content_key"), "doc_id")
        // 6) quality gate  7) per-host corpus stats
        ded.select(col("doc_id"), col("host"), col("url_canon"),
            tokensWs.as("tokens"),
            TextFunctions.stopwordRatio(col("text")).as("sq"))
          .filter(col("tokens") >= 20 && col("sq") >= 0.05)
          .groupBy("host")
          .agg(count(lit(1)).as("n_docs"),
            sum("tokens").cast("long").as("n_tokens"),
            countDistinct(col("url_canon")).as("n_urls"),
            min("doc_id").as("min_doc"))
          .orderBy("host")
      }),

    // ------------------------------------------------------------ multimodal
    // media table derived deterministically from documents: payload =
    // utf-8 bytes of the text, kind/mime from doc_id — so the metadata
    // plumbing gets a real DuckDB oracle while decode stays a unit-tested
    // stub (no codec libs in this container)

    QueryDef("mm_profile", Some(
      "WITH m AS (SELECT doc_id AS media_id, " +
        "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind, " +
        "CASE doc_id % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav' ELSE 'video/mp4' END AS mime, " +
        "encode(text) AS payload FROM documents) " +
        "SELECT kind, mime, count(*) AS n, CAST(sum(octet_length(payload)) AS BIGINT) AS total_bytes, " +
        "round(avg(octet_length(payload)), 2) AS avg_bytes FROM m GROUP BY 1, 2 ORDER BY kind, mime"),
      (s, d) => graft.operators.Multimodal.profile(mediaFromDocs(s, d)).orderBy("kind", "mime")),

    // REAL video frame indexing, certified like mm_decode_image: each
    // video doc becomes an actual RIFF/AVI container (aviBytes — frame
    // count/sizes/dims are integer functions of the id), Spark ships the
    // bytes through the binary column, and aviFrameIndex walks the REAL
    // container structure back into frame offsets. The container layout is
    // deterministic, so the oracle computes every offset by closed-form
    // prefix sums: frame i's data starts at 224 (RIFF+hdrl header span) +
    // Σ_{j<i}(8 + size_j) + 8. Parsing bugs — a miscounted header byte, a
    // missed pad rule — shift every offset and hash-fail.
    QueryDef("mm_frames", Some(
      "WITH v AS (SELECT doc_id, 3 + doc_id % 4 AS nf, " +
        "160 + (doc_id % 4) * 16 AS w, 120 + (doc_id % 3) * 8 AS h " +
        "FROM documents WHERE doc_id % 3 = 2), " +
        "f AS (SELECT doc_id, nf, w, h, CAST(gs.i AS BIGINT) AS i, " +
        "64 + ((doc_id + gs.i * 7) % 8) * 8 AS sz FROM v, " +
        "LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS i) gs), " +
        "o AS (SELECT doc_id, nf, w, h, i, sz, " +
        "224 + coalesce(sum(8 + sz) OVER (PARTITION BY doc_id ORDER BY i " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 8 AS data_off FROM f) " +
        "SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx, " +
        "CAST(data_off AS BIGINT) AS byte_offset, CAST(sz AS INT) AS frame_bytes, " +
        "CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
        "CAST(nf AS INT) AS n_frames, TRUE AS ok " +
        "FROM o ORDER BY media_id, frame_idx"),
      (s, d) => {
        import s.implicits._
        // Catalyst predicate BEFORE the typed boundary: a Scala lambda
        // filter is opaque to pushdown/codegen and deserializes every row
        val media = T(s, d, "documents")
          .filter(col("doc_id") % 3 === 2).select("doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val nf = 3 + (id % 4).toInt
            val w = 160 + (id % 4).toInt * 16
            val h = 120 + (id % 3).toInt * 8
            val sizes = Array.tabulate(nf)(i => 64 + ((id + i * 7) % 8).toInt * 8)
            graft.operators.Multimodal.MediaRow(id, "video",
              graft.operators.Multimodal.aviBytes(sizes, w, h, 33333),
              "video/avi", Some(w), Some(h), Some(nf * 33333L / 1000))
          })
        graft.operators.Multimodal.aviFrameIndex(media).toDF()
          .orderBy("media_id", "frame_idx")
      }),

    // REAL video PIXEL decode: uncompressed DIB (BI_RGB) AVI frames are
    // raw bottom-up BGR24 rows — no codec needed, so a JDK-only engine can
    // decode them honestly. Widths 5..8 make the 4-byte row stride carry
    // 0..3 PADDING bytes, and the oracle's top-row/first-pixel features
    // are computed from the filler pattern at the LAST stored row
    // (bottom-up order) SKIPPING the padding — a payload-sum stub cannot
    // reproduce them. Compressed codecs remain out of scope (documented).
    QueryDef("mm_decode_video", Some(
      "WITH v AS (SELECT doc_id, 2 + doc_id % 3 AS nf, 5 + doc_id % 4 AS w, " +
        "4 + doc_id % 3 AS h FROM documents WHERE doc_id % 3 = 2), " +
        "s AS (SELECT doc_id, nf, w, h, ((w * 3 + 3) // 4) * 4 AS stride FROM v), " +
        "f AS (SELECT doc_id, w, h, stride, stride * h AS sz, CAST(gs.i AS BIGINT) AS i " +
        "FROM s, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS i) gs) " +
        "SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx, " +
        "CAST(w AS INT) AS width, CAST(h AS INT) AS height, CAST(sz AS INT) AS frame_bytes, " +
        "CAST(list_sum(list_transform(range(sz), j -> (i*31 + j*7) % 251)) AS BIGINT) AS sum_bytes, " +
        "CAST(list_sum(list_transform(range(w*3), j -> (i*31 + (sz - stride + j)*7) % 251)) AS BIGINT) AS top_row_sum, " +
        "CAST(((i*31 + (sz - stride + 2)*7) % 251) * 65536 + " +
        "((i*31 + (sz - stride + 1)*7) % 251) * 256 + " +
        "((i*31 + (sz - stride)*7) % 251) AS INT) AS first_pixel, TRUE AS ok " +
        "FROM f ORDER BY media_id, frame_idx"),
      (s, d) => {
        import s.implicits._
        // Catalyst predicate BEFORE the typed boundary: a Scala lambda
        // filter is opaque to pushdown/codegen and deserializes every row
        val media = T(s, d, "documents")
          .filter(col("doc_id") % 3 === 2).select("doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val nf = 2 + (id % 3).toInt
            val w = 5 + (id % 4).toInt
            val h = 4 + (id % 3).toInt
            val stride = (w * 3 + 3) & ~3
            graft.operators.Multimodal.MediaRow(id, "video",
              graft.operators.Multimodal.aviBytes(
                Array.fill(nf)(stride * h), w, h, 40000, "DIB "),
              "video/avi", Some(w), Some(h), Some(nf * 40L))
          })
        graft.operators.Multimodal.aviDecodeDib(media).toDF()
          .orderBy("media_id", "frame_idx")
      }),

    // REAL compressed-codec decode: each video doc becomes an AVI whose
    // frames are RLE8-compressed ('MRLE' — the lossless run-length codec
    // of the public BMP spec, implemented in pure Scala) from a
    // deterministic pixel pattern with 4-pixel runs; odd rows encode in
    // ABSOLUTE mode so both decoder code paths are exercised. The codec
    // is lossless, so every decoded-pixel feature has an exact closed
    // form: the compressed frame size is row-parity arithmetic, the
    // decoded/top-row sums replay the pattern, and the bottom-up row
    // order means top_row uses y = h-1. The DCT family is covered by
    // mm_decode_jpeg (from-spec baseline JPEG, operators/Jpeg.scala).
    QueryDef("mm_decode_video_rle", Some(
      "WITH v AS (SELECT doc_id, 2 + doc_id % 3 AS nf, 8 + doc_id % 4 AS w, " +
        "4 + doc_id % 3 AS h FROM documents WHERE doc_id % 3 = 1), " +
        "sz AS (SELECT doc_id, nf, w, h, " +
        "((h+1)//2) * (2 * ((w+3)//4)) + (h//2) * (2 + w + w%2) + h*2 + 2 AS fb FROM v), " +
        "f AS (SELECT doc_id, w, h, fb, CAST(gs.i AS BIGINT) AS i " +
        "FROM sz, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS i) gs) " +
        "SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx, " +
        "CAST(w AS INT) AS width, CAST(h AS INT) AS height, CAST(fb AS INT) AS frame_bytes, " +
        "CAST(list_sum(list_transform(range(w*h), j -> " +
        "(i*31 + (j//w)*13 + ((j%w)//4)*7) % 251)) AS BIGINT) AS decoded_sum, " +
        "CAST(list_sum(list_transform(range(w), x -> " +
        "(i*31 + (h-1)*13 + (x//4)*7) % 251)) AS BIGINT) AS top_row_sum, " +
        "CAST((i*31 + (h-1)*13) % 251 AS INT) AS first_pixel, TRUE AS ok " +
        "FROM f ORDER BY media_id, frame_idx"),
      (s, d) => {
        import s.implicits._
        val media = T(s, d, "documents")
          .filter(col("doc_id") % 3 === 1).select("doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val nf = 2 + (id % 3).toInt
            val w = 8 + (id % 4).toInt
            val h = 4 + (id % 3).toInt
            val frames = Array.tabulate(nf) { i =>
              val rows = Array.tabulate(h)(y => Array.tabulate(w)(x =>
                ((i * 31 + y * 13 + (x / 4) * 7) % 251).toByte))
              graft.operators.Multimodal.rle8EncodeRows(rows, _ % 2 == 1)
            }
            graft.operators.Multimodal.MediaRow(id, "video",
              graft.operators.Multimodal.aviBytesFrames(frames, w, h, 40000, "MRLE"),
              "video/avi", Some(w), Some(h), Some(nf * 40L))
          })
        graft.operators.Multimodal.aviDecodeRle8(media).toDF()
          .withColumnRenamed("sum_bytes", "decoded_sum")
          .orderBy("media_id", "frame_idx")
      }),

    // Frame SAMPLING (decode every 2nd frame): the cost-control step before
    // per-frame feature extraction — unsampled frames are skipped BEFORE
    // the RLE decode, so decode CPU tracks sampled frames while the
    // container index walk stays O(frames). Same fixture as
    // mm_decode_video_rle; the oracle keeps only even frame indices, so a
    // sampler that decodes (or emits) the wrong frames hash-fails.
    QueryDef("mm_frame_sample", Some(
      "WITH v AS (SELECT doc_id, 2 + doc_id % 3 AS nf, 8 + doc_id % 4 AS w, " +
        "4 + doc_id % 3 AS h FROM documents WHERE doc_id % 3 = 1), " +
        "sz AS (SELECT doc_id, nf, w, h, " +
        "((h+1)//2) * (2 * ((w+3)//4)) + (h//2) * (2 + w + w%2) + h*2 + 2 AS fb FROM v), " +
        "f AS (SELECT doc_id, w, h, fb, CAST(gs.i AS BIGINT) AS i " +
        "FROM sz, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS i) gs " +
        "WHERE gs.i % 2 = 0) " +
        "SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx, " +
        "CAST(w AS INT) AS width, CAST(h AS INT) AS height, CAST(fb AS INT) AS frame_bytes, " +
        "CAST(list_sum(list_transform(range(w*h), j -> " +
        "(i*31 + (j//w)*13 + ((j%w)//4)*7) % 251)) AS BIGINT) AS decoded_sum, " +
        "CAST(list_sum(list_transform(range(w), x -> " +
        "(i*31 + (h-1)*13 + (x//4)*7) % 251)) AS BIGINT) AS top_row_sum, " +
        "CAST((i*31 + (h-1)*13) % 251 AS INT) AS first_pixel, TRUE AS ok " +
        "FROM f ORDER BY media_id, frame_idx"),
      (s, d) => {
        import s.implicits._
        val media = T(s, d, "documents")
          .filter(col("doc_id") % 3 === 1).select("doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val nf = 2 + (id % 3).toInt
            val w = 8 + (id % 4).toInt
            val h = 4 + (id % 3).toInt
            val frames = Array.tabulate(nf) { i =>
              val rows = Array.tabulate(h)(y => Array.tabulate(w)(x =>
                ((i * 31 + y * 13 + (x / 4) * 7) % 251).toByte))
              graft.operators.Multimodal.rle8EncodeRows(rows, _ % 2 == 1)
            }
            graft.operators.Multimodal.MediaRow(id, "video",
              graft.operators.Multimodal.aviBytesFrames(frames, w, h, 40000, "MRLE"),
              "video/avi", Some(w), Some(h), Some(nf * 40L))
          })
        graft.operators.Multimodal.aviDecodeRle8(media, every = 2).toDF()
          .withColumnRenamed("sum_bytes", "decoded_sum")
          .orderBy("media_id", "frame_idx")
      }),

    // REAL DCT-codec decode: grayscale MJPG AVI frames (each `00dc` chunk
    // an independent baseline JPEG, JDK-ImageIO-encoded at quality 1.0)
    // decoded by the from-spec pure-Scala operators/Jpeg.scala (ITU-T
    // T.81: Huffman entropy decode, dequant, zigzag, IDCT). The fixture's
    // 8×8 blocks are each CONSTANT, so every block is DC-only and
    // survives the all-ones quality-1.0 quantization EXACTLY — decoded
    // pixel sums therefore have closed forms even though the frames are
    // genuine entropy-coded DCT data. top_row_sum uses y=0 (JPEG rows are
    // top-down, opposite of the DIB/RLE8 rows — a decoder that gets row
    // order wrong hash-fails against the same formula). frame_bytes is
    // dropped: compressed size is encoder-dependent, not closed-form.
    // The %23 slice bounds the ImageIO encode cost that BUILDS the
    // fixture (~220 media at sf0.1); the decode path itself is
    // per-partition and payload-narrow like every mm_* row.
    QueryDef("mm_decode_jpeg", Some(
      "WITH v AS (SELECT doc_id, 2 + doc_id % 2 AS nf, 2 + doc_id % 2 AS wb, " +
        "1 + doc_id % 2 AS hb FROM documents WHERE doc_id % 23 = 3), " +
        "f AS (SELECT doc_id, wb, hb, CAST(gs.i AS BIGINT) AS i " +
        "FROM v, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS i) gs) " +
        "SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx, " +
        "CAST(wb * 8 AS INT) AS width, CAST(hb * 8 AS INT) AS height, " +
        "CAST(64 * list_sum(list_transform(range(wb * hb), b -> " +
        "20 + (doc_id*7 + i*31 + (b % wb)*13 + (b // wb)*5) % 200)) AS BIGINT) AS decoded_sum, " +
        "CAST(8 * list_sum(list_transform(range(wb), bx -> " +
        "20 + (doc_id*7 + i*31 + bx*13) % 200)) AS BIGINT) AS top_row_sum, " +
        "CAST(20 + (doc_id*7 + i*31) % 200 AS INT) AS first_pixel, TRUE AS ok " +
        "FROM f ORDER BY media_id, frame_idx"),
      (s, d) => {
        import s.implicits._
        val media = T(s, d, "documents")
          .filter(col("doc_id") % 23 === 3).select("doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val nf = 2 + (id % 2).toInt
            val wb = 2 + (id % 2).toInt
            val hb = 1 + (id % 2).toInt
            val (w, h) = (8 * wb, 8 * hb)
            val frames = Array.tabulate(nf) { i =>
              val f = graft.operators.Multimodal.jpegGrayBytes(w, h,
                (bx, by) => (20 + (id * 7 + i * 31 + bx * 13 + by * 5) % 200).toInt)
              if (f.length % 2 == 1) f :+ 0.toByte else f // RIFF even-chunk pad
            }
            graft.operators.Multimodal.MediaRow(id, "video",
              graft.operators.Multimodal.aviBytesFrames(frames, w, h, 40000, "MJPG"),
              "video/avi", Some(w), Some(h), Some(nf * 40L))
          })
        graft.operators.Multimodal.aviDecodeMjpg(media).toDF()
          .drop("frame_bytes")
          .withColumnRenamed("sum_bytes", "decoded_sum")
          .orderBy("media_id", "frame_idx")
      }),

    // REAL compressed-AUDIO decode: IMA ADPCM (WAV format 0x11 / RFC 3551
    // DVI4 kernel) — a STATEFUL adaptive integer recurrence, decoded by
    // the from-spec pure-Scala operators/Multimodal.adpcmDecode. The
    // oracle replays the ENTIRE state machine in SQL: a recursive CTE
    // steps (predictor, step-index) through the same planted nibble
    // stream with the same step/index tables, clamps included — so every
    // adaptive transition is value-checked, not just aggregate shapes.
    QueryDef("mm_decode_adpcm", Some {
      val stepTable = Seq(
        7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
        41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
        190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
        724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
        2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
        6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
        16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767).mkString(",")
      "WITH RECURSIVE v AS (SELECT doc_id, CAST(48 + doc_id % 4 * 16 AS INT) AS n " +
        "FROM documents WHERE doc_id % 23 = 11), " +
        "r AS (" +
        "SELECT doc_id, n, 0 AS i, 0 AS pred, 0 AS idx, CAST(0 AS BIGINT) AS s, " +
        "32767 AS mn, CAST(-32768 AS INT) AS mx, 0 AS last FROM v " +
        "UNION ALL " +
        "SELECT doc_id, n, i + 1, np, ni, s + np, " +
        "CAST(least(mn, np) AS INT), CAST(greatest(mx, np) AS INT), np FROM (" +
        "SELECT doc_id, n, i, s, mn, mx, " +
        "CAST(greatest(-32768, least(32767, " +
        "pred + CASE WHEN nib >= 8 THEN -d ELSE d END)) AS INT) AS np, " +
        "CAST(greatest(0, least(88, idx + it)) AS INT) AS ni FROM (" +
        "SELECT *, (step // 8) + CASE WHEN (nib & 1) = 1 THEN step // 4 ELSE 0 END " +
        "+ CASE WHEN (nib & 2) = 2 THEN step // 2 ELSE 0 END " +
        "+ CASE WHEN (nib & 4) = 4 THEN step ELSE 0 END AS d, " +
        "list_extract([-1,-1,-1,-1,2,4,6,8,-1,-1,-1,-1,2,4,6,8], nib + 1) AS it " +
        "FROM (SELECT *, CAST((doc_id*13 + i*7) % 16 AS INT) AS nib, " +
        s"list_extract([$stepTable], idx + 1) AS step " +
        "FROM r WHERE i < n)))) " +
        "SELECT doc_id AS media_id, n AS n_samples, CAST(s AS BIGINT) AS sum_pcm, " +
        "mn AS min_pcm, mx AS max_pcm, last AS last_pcm, TRUE AS ok " +
        "FROM r WHERE i = n ORDER BY media_id"
    },
      (s, d) => {
        import s.implicits._
        val media = T(s, d, "documents")
          .filter(col("doc_id") % 23 === 11).select("doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val n = 48 + (id % 4).toInt * 16
            graft.operators.Multimodal.MediaRow(id, "audio",
              Array.tabulate(n)(i => ((id * 13 + i * 7) % 16).toByte),
              "audio/adpcm", None, None, Some(n.toLong))
          })
        graft.operators.Multimodal.adpcmFeatures(media).toDF()
          .orderBy("media_id")
      }),

    // The same codec through its REAL CONTAINER: WAV format 0x11 blocks,
    // each seeded from its own 4-byte state header (initial predictor +
    // step index, planted per block) with nibbles packed two per byte.
    // The oracle seeds the recursive CTE at each block's planted state —
    // so container parsing (fmt extension, blockAlign walk, header-seeded
    // block decode, header-sample-0 rule) is value-checked per block.
    QueryDef("mm_decode_adpcm_wav", Some {
      val stepTable = Seq(
        7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
        41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
        190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
        724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
        2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
        6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
        16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767).mkString(",")
      "WITH RECURSIVE v AS (SELECT doc_id, CAST(gs.b AS INT) AS b, " +
        "CAST((doc_id*31 + gs.b*17) % 1000 - 500 AS INT) AS p0, " +
        "CAST((doc_id*7 + gs.b*3) % 89 AS INT) AS i0 " +
        "FROM documents, LATERAL (SELECT unnest(generate_series(0, CAST(doc_id % 2 AS BIGINT))) AS b) gs " +
        "WHERE doc_id % 23 = 15), " +
        "r AS (" +
        "SELECT doc_id, b, 0 AS i, p0 AS pred, i0 AS idx, CAST(p0 AS BIGINT) AS s, " +
        "p0 AS mn, p0 AS mx, p0 AS last FROM v " +
        "UNION ALL " +
        "SELECT doc_id, b, i + 1, np, ni, s + np, " +
        "CAST(least(mn, np) AS INT), CAST(greatest(mx, np) AS INT), np FROM (" +
        "SELECT doc_id, b, i, s, mn, mx, " +
        "CAST(greatest(-32768, least(32767, " +
        "pred + CASE WHEN nib >= 8 THEN -d ELSE d END)) AS INT) AS np, " +
        "CAST(greatest(0, least(88, idx + it)) AS INT) AS ni FROM (" +
        "SELECT *, (step // 8) + CASE WHEN (nib & 1) = 1 THEN step // 4 ELSE 0 END " +
        "+ CASE WHEN (nib & 2) = 2 THEN step // 2 ELSE 0 END " +
        "+ CASE WHEN (nib & 4) = 4 THEN step ELSE 0 END AS d, " +
        "list_extract([-1,-1,-1,-1,2,4,6,8,-1,-1,-1,-1,2,4,6,8], nib + 1) AS it " +
        "FROM (SELECT *, CAST((doc_id*13 + b*5 + i*7) % 16 AS INT) AS nib, " +
        s"list_extract([$stepTable], idx + 1) AS step " +
        "FROM r WHERE i < 32)))) " +
        "SELECT doc_id AS media_id, b AS block_idx, 33 AS n_samples, " +
        "CAST(s AS BIGINT) AS sum_pcm, mn AS min_pcm, mx AS max_pcm, " +
        "last AS last_pcm, TRUE AS ok " +
        "FROM r WHERE i = 32 ORDER BY media_id, block_idx"
    },
      (s, d) => {
        import s.implicits._
        val media = T(s, d, "documents")
          .filter(col("doc_id") % 23 === 15).select("doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val nb = 1 + (id % 2).toInt
            val blocks = Array.tabulate(nb) { b =>
              val p0 = ((id * 31 + b * 17) % 1000).toInt - 500
              val i0 = ((id * 7 + b * 3) % 89).toInt
              (p0, i0, Array.tabulate(32)(j => ((id * 13 + b * 5 + j * 7) % 16).toByte))
            }
            graft.operators.Multimodal.MediaRow(id, "audio",
              graft.operators.Multimodal.adpcmWavBytes(8000, blocks),
              "audio/x-adpcm-wav", None, None, Some(nb * 33L))
          })
        graft.operators.Multimodal.adpcmFromWav(media).toDF()
          .orderBy("media_id", "block_idx")
      }),

    // REAL COLOR JPEG decode: 3-component interleaved baseline YCbCr
    // (4:2:0 — the JDK encoder's invariable choice) through the from-spec
    // operators/Jpeg.scala MCU walk, chroma upsample and BT.601 color
    // convert. The fixture's 16×16 macroblocks are constant NEUTRAL GRAY
    // (R=G=B=v): the encoder's fixed-point luma constants sum to exactly
    // 2^16 so Y=v and Cb=Cr=128, subsampling averages constants, every
    // block is DC-only under quality-1.0 all-ones quantization, and the
    // inverse transform's chroma terms vanish — per-channel pixel sums
    // are closed-form while the stream is genuine interleaved DCT data.
    // Chroma-dependent arithmetic (colored macroblocks vs the JDK
    // decoder) is CI-pinned in OperatorQualitySpec, not oracled.
    QueryDef("mm_decode_jpeg_color", Some(
      "WITH v AS (SELECT doc_id, 2 + doc_id % 2 AS wb, 1 + doc_id % 2 AS hb " +
        "FROM documents WHERE doc_id % 23 = 7), " +
        "s AS (SELECT doc_id, wb, hb, list_sum(list_transform(range(wb * hb), b -> " +
        "20 + (doc_id*7 + (b % wb)*13 + (b // wb)*5) % 200)) AS vs, " +
        "20 + (doc_id*7) % 200 AS v0 FROM v) " +
        "SELECT doc_id AS media_id, CAST(wb * 16 AS INT) AS width, " +
        "CAST(hb * 16 AS INT) AS height, " +
        "CAST(256 * vs AS BIGINT) AS sum_r, CAST(256 * vs AS BIGINT) AS sum_g, " +
        "CAST(256 * vs AS BIGINT) AS sum_b, " +
        "CAST(v0 * 65536 + v0 * 256 + v0 AS INT) AS first_pixel, TRUE AS ok " +
        "FROM s ORDER BY media_id"),
      (s, d) => {
        import s.implicits._
        val media = T(s, d, "documents")
          .filter(col("doc_id") % 23 === 7).select("doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val wb = 2 + (id % 2).toInt
            val hb = 1 + (id % 2).toInt
            graft.operators.Multimodal.MediaRow(id, "image",
              graft.operators.Multimodal.jpegRgbBytes(16 * wb, 16 * hb, (mx, my) => {
                val v = (20 + (id * 7 + mx * 13 + my * 5) % 200).toInt
                (v << 16) | (v << 8) | v
              }),
              "image/jpeg", Some(16 * wb), Some(16 * hb), None)
          })
        graft.operators.Multimodal.decodeJpegRgb(media).toDF()
          .orderBy("media_id")
      }),

    // PROGRESSIVE (SOF2) JPEG decode — the dominant web JPEG encoding,
    // decoded by the from-spec multi-scan path (spectral selection +
    // successive approximation, T.81 Annex G). Same block-constant
    // quality-1.0 exactness contract as mm_decode_jpeg: DC-only blocks
    // survive the successive-approximation bit splits bit-perfectly, so
    // the oracle states pixel sums in closed form while the stream is the
    // JDK encoder's real ~10-scan progression script.
    QueryDef("mm_decode_jpeg_progressive", Some(
      "WITH v AS (SELECT doc_id, 2 + doc_id % 3 AS wb, 1 + doc_id % 2 AS hb " +
        "FROM documents WHERE doc_id % 19 = 5), " +
        "s AS (SELECT doc_id, wb, hb, list_sum(list_transform(range(wb * hb), b -> " +
        "20 + (doc_id*11 + (b % wb)*13 + (b // wb)*5) % 200)) AS vs, " +
        "20 + (doc_id*11) % 200 AS v0 FROM v) " +
        "SELECT doc_id AS media_id, CAST(wb * 8 AS INT) AS width, " +
        "CAST(hb * 8 AS INT) AS height, " +
        "CAST(64 * vs AS BIGINT) AS sum_r, CAST(64 * vs AS BIGINT) AS sum_g, " +
        "CAST(64 * vs AS BIGINT) AS sum_b, " +
        "CAST(v0 * 65536 + v0 * 256 + v0 AS INT) AS first_pixel, TRUE AS ok " +
        "FROM s ORDER BY media_id"),
      (s, d) => {
        import s.implicits._
        val media = T(s, d, "documents")
          .filter(col("doc_id") % 19 === 5).select("doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val wb = 2 + (id % 3).toInt
            val hb = 1 + (id % 2).toInt
            graft.operators.Multimodal.MediaRow(id, "image",
              graft.operators.Multimodal.jpegGrayProgressiveBytes(8 * wb, 8 * hb,
                (bx, by) => (20 + (id * 11 + bx * 13 + by * 5) % 200).toInt),
              "image/jpeg", Some(8 * wb), Some(8 * hb), None)
          })
        graft.operators.Multimodal.decodeJpegRgb(media).toDF()
          .orderBy("media_id")
      }),

    // ARITHMETIC-coded JPEG decode — the last entropy branches of the
    // DCT family, decoded by the from-spec T.81 Annex D QM coder +
    // §F.2.4/§G.2 statistical models (operators/JpegArith.scala). No
    // codec in this container can produce arithmetic JPEGs, so the
    // from-spec ENCODER builds the fixtures (JpegArithSpec pins it
    // bit-level, model-level, and against JDK-Huffman twins). Even
    // doc_ids are grayscale with restart intervals, odd doc_ids are
    // 3-component 4:2:0 interleaved color; within each, doc_id%4 picks
    // the framing — SEQUENTIAL (SOF9) or PROGRESSIVE (SOFA: DC
    // first/refine + banded AC first/refine successive-approximation
    // scans; interleaved DC for color) — under ONE oracle, because the
    // closed-form pixel sums are framing-independent: a wrong multi-scan
    // reconstruction quarantines or mis-sums and hash-fails. Same
    // block-constant quality-1.0 exactness contract as mm_decode_jpeg.
    QueryDef("mm_decode_jpeg_arith", Some(
      "WITH v AS (SELECT doc_id FROM documents WHERE doc_id % 23 = 17), " +
        "g AS (SELECT doc_id, 2 + doc_id % 3 AS wb, 1 + (doc_id // 2) % 2 AS hb " +
        "FROM v WHERE doc_id % 2 = 0), " +
        "c AS (SELECT doc_id, 1 + (doc_id // 2) % 2 AS mw, 1 + doc_id % 3 AS mh " +
        "FROM v WHERE doc_id % 2 = 1), " +
        "gs AS (SELECT doc_id, wb, hb, list_sum(list_transform(range(wb * hb), b -> " +
        "20 + (doc_id*7 + (b % wb)*13 + (b // wb)*5) % 200)) AS vs, " +
        "20 + (doc_id*7) % 200 AS v0 FROM g), " +
        "cs AS (SELECT doc_id, mw, mh, list_sum(list_transform(range(mw * mh), b -> " +
        "20 + (doc_id*7 + (b % mw)*11 + (b // mw)*3) % 200)) AS vs, " +
        "20 + (doc_id*7) % 200 AS v0 FROM c) " +
        "SELECT doc_id AS media_id, CAST(wb * 8 AS INT) AS width, " +
        "CAST(hb * 8 AS INT) AS height, " +
        "CAST(64 * vs AS BIGINT) AS sum_r, CAST(64 * vs AS BIGINT) AS sum_g, " +
        "CAST(64 * vs AS BIGINT) AS sum_b, " +
        "CAST(v0 * 65536 + v0 * 256 + v0 AS INT) AS first_pixel, TRUE AS ok FROM gs " +
        "UNION ALL SELECT doc_id, CAST(mw * 16 AS INT), CAST(mh * 16 AS INT), " +
        "CAST(256 * vs AS BIGINT), CAST(256 * vs AS BIGINT), CAST(256 * vs AS BIGINT), " +
        "CAST(v0 * 65536 + v0 * 256 + v0 AS INT), TRUE FROM cs ORDER BY media_id"),
      (s, d) => {
        import s.implicits._
        val media = T(s, d, "documents")
          .filter(col("doc_id") % 23 === 17).select("doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val onesQ = Array.fill(64)(1)
            val prog = (id % 4) >= 2 // SOFA framing for the upper residues
            val grayScript = Seq( // DC + banded AC, split at Al=1
              graft.operators.JpegArith.ProgScan(Seq(0), 0, 0, 0, 1),
              graft.operators.JpegArith.ProgScan(Seq(0), 1, 5, 0, 1),
              graft.operators.JpegArith.ProgScan(Seq(0), 6, 63, 0, 1),
              graft.operators.JpegArith.ProgScan(Seq(0), 0, 0, 1, 0),
              graft.operators.JpegArith.ProgScan(Seq(0), 1, 5, 1, 0),
              graft.operators.JpegArith.ProgScan(Seq(0), 6, 63, 1, 0))
            val colorScript = Seq( // interleaved DC, per-component AC
              graft.operators.JpegArith.ProgScan(Seq(0, 1, 2), 0, 0, 0, 1),
              graft.operators.JpegArith.ProgScan(Seq(0), 1, 63, 0, 0),
              graft.operators.JpegArith.ProgScan(Seq(1), 1, 63, 0, 0),
              graft.operators.JpegArith.ProgScan(Seq(2), 1, 63, 0, 0),
              graft.operators.JpegArith.ProgScan(Seq(0, 1, 2), 0, 0, 1, 0))
            val (w, h, bytes) =
              if (id % 2 == 0) { // gray, restart interval 2
                val wb = 2 + (id % 3).toInt
                val hb = 1 + ((id / 2) % 2).toInt
                val comps = Seq(graft.operators.JpegArith.ArithComp(1, 1, 1, 0, 0, 0))
                val blocks = (_: Int, bx: Int, by: Int) => {
                  val blk = new Array[Int](64)
                  blk(0) = 8 * ((20 + (id * 7 + bx * 13 + by * 5) % 200).toInt - 128)
                  blk
                }
                val b =
                  if (prog) graft.operators.JpegArith.encodeProgressive(
                    8 * wb, 8 * hb, comps, Map(0 -> onesQ), blocks, grayScript, ri = 2)
                  else graft.operators.JpegArith.encodeSequential(
                    8 * wb, 8 * hb, comps, Map(0 -> onesQ), blocks, ri = 2)
                (8 * wb, 8 * hb, b)
              } else { // neutral-gray 4:2:0 color
                val mw = 1 + ((id / 2) % 2).toInt
                val mh = 1 + (id % 3).toInt
                val comps = Seq(
                  graft.operators.JpegArith.ArithComp(1, 2, 2, 0, 0, 0),
                  graft.operators.JpegArith.ArithComp(2, 1, 1, 1, 1, 1),
                  graft.operators.JpegArith.ArithComp(3, 1, 1, 1, 1, 1))
                val blocks = (ci: Int, bx: Int, by: Int) => {
                  val blk = new Array[Int](64)
                  if (ci == 0) {
                    val v = (20 + (id * 7 + (bx / 2) * 11 + (by / 2) * 3) % 200).toInt
                    blk(0) = 8 * (v - 128)
                  } // chroma: neutral gray → DC 0 (level 128)
                  blk
                }
                val b =
                  if (prog) graft.operators.JpegArith.encodeProgressive(
                    16 * mw, 16 * mh, comps, Map(0 -> onesQ, 1 -> onesQ),
                    blocks, colorScript)
                  else graft.operators.JpegArith.encodeSequential(
                    16 * mw, 16 * mh, comps, Map(0 -> onesQ, 1 -> onesQ), blocks)
                (16 * mw, 16 * mh, b)
              }
            graft.operators.Multimodal.MediaRow(id, "image", bytes,
              "image/jpeg", Some(w), Some(h), None)
          })
        graft.operators.Multimodal.decodeJpegRgb(media).toDF()
          .orderBy("media_id")
      }),

    // 12-BIT extended-sequential JPEG decode (T.81 extended precision,
    // grayscale, 0-4095 samples) — even doc_ids are SOF1 HUFFMAN streams
    // from the hand-rolled from-spec fixture encoder (DC categories up
    // to 15, 16-bit Pq=1 quant tables), odd doc_ids SOF9 ARITHMETIC at
    // precision 12. Decoded via the dedicated wide-range path
    // (Jpeg.decodeGray12 → Multimodal.decodeGray12); the 8-bit contract
    // paths quarantine these streams by design (CI-pinned). Block-
    // constant fixtures under all-ones quantization → closed-form sums.
    QueryDef("mm_decode_jpeg_12bit", Some(
      "WITH v AS (SELECT doc_id, 2 + doc_id % 3 AS wb, 1 + doc_id % 2 AS hb " +
        "FROM documents WHERE doc_id % 19 = 7), " +
        "s AS (SELECT doc_id, wb, hb, " +
        "list_sum(list_transform(range(wb * hb), b -> " +
        "160 + (doc_id*37 + (b % wb)*257 + (b // wb)*101) % 3800)) AS vs, " +
        "list_max(list_transform(range(wb * hb), b -> " +
        "160 + (doc_id*37 + (b % wb)*257 + (b // wb)*101) % 3800)) AS vm, " +
        "160 + (doc_id*37) % 3800 AS v0 FROM v) " +
        "SELECT doc_id AS media_id, CAST(wb * 8 AS INT) AS width, " +
        "CAST(hb * 8 AS INT) AS height, CAST(64 * vs AS BIGINT) AS sum_px, " +
        "CAST(vm AS INT) AS max_px, CAST(v0 AS INT) AS first_pixel, TRUE AS ok " +
        "FROM s ORDER BY media_id"),
      (s, d) => {
        import s.implicits._
        val media = T(s, d, "documents")
          .filter(col("doc_id") % 19 === 7).select("doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val wb = 2 + (id % 3).toInt
            val hb = 1 + (id % 2).toInt
            val v12 = (bx: Int, by: Int) =>
              (160 + (id * 37 + bx * 257 + by * 101) % 3800).toInt
            val bytes =
              if (id % 2 == 0)
                graft.operators.Multimodal.jpegGray12HuffBytes(8 * wb, 8 * hb, v12)
              else
                graft.operators.JpegArith.encodeSequential(8 * wb, 8 * hb,
                  Seq(graft.operators.JpegArith.ArithComp(1, 1, 1, 0, 0, 0)),
                  Map(0 -> Array.fill(64)(1)),
                  (_, bx, by) => {
                    val blk = new Array[Int](64)
                    blk(0) = 8 * (v12(bx, by) - 2048)
                    blk
                  }, precision = 12)
            graft.operators.Multimodal.MediaRow(id, "image", bytes,
              "image/jpeg", Some(8 * wb), Some(8 * hb), None)
          })
        graft.operators.Multimodal.decodeGray12(media).toDF()
          .orderBy("media_id")
      }),

    // LOSSLESS JPEG decode (SOF3, T.81 Annex H — predictive, no DCT):
    // from-spec fixture streams sweeping predictors 1-7 with the doc_id,
    // precisions 8/12/16, point transform 0/1, and per-row restart
    // markers on doc_id % 4 == 1. Lossless means the decoder recovers the
    // sample grid BIT-EXACTLY, so the oracle replays the closed-form
    // sample formula directly — no neutral-gray/DC tricks needed. Odd
    // (non-8-aligned) dims exercise the blockless sample walk.
    QueryDef("mm_decode_jpeg_lossless", Some(
      "WITH v AS (SELECT doc_id, 9 + doc_id % 8 AS w, 6 + doc_id % 5 AS h, " +
        "8 + (doc_id % 3) * 4 AS p, doc_id % 2 AS pt " +
        "FROM documents WHERE doc_id % 23 = 5), " +
        "s AS (SELECT doc_id, w, h, p, pt, " +
        "list_sum(list_transform(range(w * h), i -> " +
        "((doc_id*31 + (i % w)*17 + (i // w)*29) % (1 << (p - pt))) * (1 << pt))) AS sum_px, " +
        "list_max(list_transform(range(w * h), i -> " +
        "((doc_id*31 + (i % w)*17 + (i // w)*29) % (1 << (p - pt))) * (1 << pt))) AS max_px, " +
        "((doc_id*31) % (1 << (p - pt))) * (1 << pt) AS first_pixel FROM v) " +
        "SELECT doc_id AS media_id, CAST(w AS INT) AS width, " +
        "CAST(h AS INT) AS height, CAST(p AS INT) AS prec, " +
        "CAST(sum_px AS BIGINT) AS sum_px, CAST(max_px AS INT) AS max_px, " +
        "CAST(first_pixel AS INT) AS first_pixel, TRUE AS ok " +
        "FROM s ORDER BY media_id"),
      (s, d) => {
        import s.implicits._
        val media = T(s, d, "documents")
          .filter(col("doc_id") % 23 === 5).select("doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val w = (9 + id % 8).toInt
            val h = (6 + id % 5).toInt
            val p = (8 + (id % 3) * 4).toInt
            val pt = (id % 2).toInt
            val mod = 1 << (p - pt)
            val samples = Array.tabulate(w * h)(i =>
              ((id * 31 + (i % w) * 17 + (i / w) * 29) % mod).toInt)
            val bytes = graft.operators.Jpeg.encodeLossless(
              w, h, p, predictor = (1 + id % 7).toInt, ptShift = pt, samples,
              restartInterval = if (id % 4 == 1) w else 0)
            graft.operators.Multimodal.MediaRow(id, "image", bytes,
              "image/jpeg", Some(w), Some(h), None)
          })
        graft.operators.Multimodal.decodeJpegLossless(media).toDF()
          .select(col("media_id"), col("width"), col("height"),
            col("precision").as("prec"), col("sum_px"), col("max_px"),
            col("first_pixel"), col("ok"))
          .orderBy("media_id")
      }),

    // From-spec BMP decode (RasterCodecs.decodeBmp: BI_RGB row layout,
    // bottom-up, padded strides) certified by the same solid-color
    // closed-form oracle as mm_decode_image; the JDK encoder produces the
    // fixture, the from-spec decoder consumes it on the operator path.
    QueryDef("mm_decode_bmp", Some(
      "SELECT doc_id AS media_id, CAST(15 + doc_id % 14 AS INT) AS width, " +
        "CAST(7 + doc_id % 11 AS INT) AS height, " +
        "CAST((15 + doc_id % 14) * (7 + doc_id % 11) * " +
        "(doc_id % 251 + (doc_id * 5) % 241 + (doc_id * 17) % 239) AS BIGINT) AS pix_sum, " +
        "TRUE AS ok FROM documents WHERE doc_id % 13 = 4 ORDER BY 1"),
      (s, d) => {
        import s.implicits._
        val media = T(s, d, "documents")
          .filter(col("doc_id") % 13 === 4).select("doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val (w, h) = (15 + (id % 14).toInt, 7 + (id % 11).toInt)
            val rgb = ((id % 251).toInt << 16) |
              (((id * 5) % 241).toInt << 8) | ((id * 17) % 239).toInt
            graft.operators.Multimodal.MediaRow(id, "image",
              graft.operators.Multimodal.bmpBytes(w, h, rgb),
              "image/bmp", Some(w), Some(h), None)
          })
        graft.operators.Multimodal.decodeImages(media).toDF()
          .orderBy("media_id")
      }),

    // From-spec GIF decode (RasterCodecs.decodeGif: real LZW with
    // dictionary growth, sub-block framing) — solid-gray frames through a
    // 256-gray palette give the closed form w·h·3g.
    QueryDef("mm_decode_gif", Some(
      "SELECT doc_id AS media_id, CAST(14 + doc_id % 13 AS INT) AS width, " +
        "CAST(6 + doc_id % 10 AS INT) AS height, " +
        "CAST((14 + doc_id % 13) * (6 + doc_id % 10) * 3 * (doc_id % 256) AS BIGINT) AS pix_sum, " +
        "TRUE AS ok FROM documents WHERE doc_id % 13 = 9 ORDER BY 1"),
      (s, d) => {
        import s.implicits._
        val media = T(s, d, "documents")
          .filter(col("doc_id") % 13 === 9).select("doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val (w, h) = (14 + (id % 13).toInt, 6 + (id % 10).toInt)
            graft.operators.Multimodal.MediaRow(id, "image",
              graft.operators.Multimodal.gifGrayBytes(w, h, (id % 256).toInt),
              "image/gif", Some(w), Some(h), None)
          })
        graft.operators.Multimodal.decodeImages(media).toDF()
          .orderBy("media_id")
      }),

    // WebDataset shard indexing: each document becomes a ustar shard with
    // three members (<id>.txt / <id>.json / <id>.cls, real 512-byte block
    // framing + checksums + end blocks) PLUS one long-named member (the
    // URL-keyed WebDataset norm: basename > 100 bytes) shipped through a
    // PAX `x` extended header on even ids and a GNU `L` longname member
    // on odd ids — the sample keyed by the FULL long name (directory
    // prefix kept, the webdataset base_plus_ext convention) proves both
    // mechanisms parse rather than quarantine. sample_bytes is
    // closed-form: the text's UTF-8 octet length plus the two fixed parts.
    QueryDef("mm_webdataset_index", Some(
      "SELECT * FROM (" +
        "SELECT doc_id AS media_id, CAST(doc_id AS VARCHAR) AS key, " +
        "CAST(3 AS BIGINT) AS n_parts, 'cls,json,txt' AS parts, " +
        "CAST(strlen(text) + 8 AS BIGINT) AS sample_bytes, TRUE AS ok " + // strlen = BYTES in DuckDB
        "FROM documents WHERE doc_id % 9 = 4 " +
        "UNION ALL " +
        "SELECT doc_id, 'dir_' || repeat('d', 40) || '/' || CAST(doc_id AS VARCHAR) || '_' || repeat('p', 110), " +
        "CAST(1 AS BIGINT), 'bin', CAST(4 AS BIGINT), TRUE " +
        "FROM documents WHERE doc_id % 9 = 4) ORDER BY media_id, key"),
      (s, d) => {
        import s.implicits._
        val media = T(s, d, "documents")
          .filter(col("doc_id") % 9 === 4).select("doc_id", "text")
          .as[(Long, String)]
          .mapPartitions(_.map { case (id, text) =>
            graft.operators.Multimodal.MediaRow(id, "shard",
              graft.operators.Tar.tarBytes(Seq(
                s"$id.txt" -> text.getBytes("UTF-8"),
                s"$id.json" -> "{\"k\":1}".getBytes("UTF-8"),
                s"$id.cls" -> Array[Byte]('7'),
                s"dir_${"d" * 40}/${id}_${"p" * 110}.bin" ->
                  "LONG".getBytes("UTF-8")),
                longStyle = if (id % 2 == 0) "pax" else "gnu"),
              "application/x-tar", None, None, None)
          })
        graft.operators.Tar.webdatasetSamples(media).toDF()
          .orderBy("media_id", "key")
      }),

    // Image dedup via the perceptual hash: group by (dhash, dims), keep
    // the lowest media_id per group as canonical and report group sizes —
    // the image twin of dedup_exact's first-seen-wins. The oracle
    // recomputes every 64-bit hash closed-form (the mm_image_dhash
    // formula) and groups by it: gradients with DIFFERENT seeds genuinely
    // collide whenever no mod-256 wrap lands inside the sampled grid, so
    // grouping by the fixture key instead of the hash would be wrong.
    QueryDef("dedup_image_dhash", Some(
      "WITH p AS (SELECT doc_id, 16 + doc_id % 16 AS w, 8 + doc_id % 9 AS h, " +
        "doc_id % 97 AS seed FROM documents WHERE doc_id % 7 = 2), " +
        "g AS (SELECT doc_id, w, h, seed, y2.i AS y2, x2.i AS x2 FROM p, " +
        "LATERAL (SELECT unnest(generate_series(0, 7)) AS i) y2, " +
        "LATERAL (SELECT unnest(generate_series(0, 7)) AS i) x2), " +
        "b AS (SELECT doc_id, w, h, y2, x2, " +
        "CASE WHEN (seed + 3*((x2*w)//9) + 7*((y2*h)//8)) % 256 > " +
        "(seed + 3*(((x2+1)*w)//9) + 7*((y2*h)//8)) % 256 " +
        "THEN '1' ELSE '0' END AS bit FROM g), " +
        "hsh AS (SELECT doc_id, w, h, string_agg(bit, '' ORDER BY y2, x2) AS dh " +
        "FROM b GROUP BY doc_id, w, h) " +
        "SELECT CAST(min(doc_id) AS BIGINT) AS canonical_id, " +
        "CAST(count(*) AS BIGINT) AS group_size " +
        "FROM hsh GROUP BY dh, w, h ORDER BY canonical_id"),
      (s, d) => {
        import s.implicits._
        val media = T(s, d, "documents")
          .filter(col("doc_id") % 7 === 2).select("doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val (w, h) = (16 + (id % 16).toInt, 8 + (id % 9).toInt)
            graft.operators.Multimodal.MediaRow(id, "image",
              graft.operators.Multimodal.pngGradientBytes(w, h, (id % 97).toInt),
              "image/png", Some(w), Some(h), None)
          })
        graft.operators.Multimodal.imageDhash(media).toDF()
          .filter(col("ok"))
          // dims disambiguate hash collisions across different image
          // shapes — the dedup key is (hash, w, h), the rescale-invariant
          // grouping a real pipeline uses
          .groupBy("dhash_bits", "width", "height")
          .agg(min("media_id").as("canonical_id"),
            count(lit(1)).as("group_size"))
          .select("canonical_id", "group_size")
          .orderBy("canonical_id")
      }),

    // Perceptual near-dup at hamming ≤ 3 (round-14 verdict item 3): the
    // REAL pipeline composition resize → PNG re-encode → dHash → banded
    // hamming join. Every doc_id % 3 == 0 image gains a 3/2-upscaled
    // thumbnail twin (Multimodal.resizeEncodePng, nearest-neighbor with
    // the integer mapping), and Dedup.bitstringNearPairs bands the 64-bit
    // hashes into 4 × 16-bit pigeonhole chunks — a twin whose floor-
    // composed sampling drifts by 1-3 bits is CAUGHT at hamming > 0,
    // which exact-(hash,dims) grouping (dedup_image_dhash) cannot do.
    // The oracle replays the full composed integer chain closed-form:
    // hash bit of image with effective dims (ew,eh) reads source pixel
    // x = ((x2·ew)÷9·w)÷ew (identity when ew = w), then bands and
    // hamming-counts in SQL. Fixture is the STRIPED gradient
    // (pngStripeBytes): a pure gradient resamples to hamming 0
    // everywhere, which would reduce this row to the exact join.
    QueryDef("dedup_image_near", Some(
      "WITH p AS (SELECT doc_id, 16 + doc_id % 16 AS w, 8 + doc_id % 9 AS h, " +
        "doc_id % 97 AS seed FROM documents WHERE doc_id % 7 = 2), " +
        "imgs AS (SELECT doc_id AS id, w, h, seed, w AS ew, h AS eh FROM p " +
        "UNION ALL SELECT doc_id + 10000000000 AS id, w, h, seed, " +
        "(3*w)//2 AS ew, (3*h)//2 AS eh FROM p WHERE doc_id % 3 = 0), " +
        "g AS (SELECT i.id, i.w, i.h, i.seed, i.ew, i.eh, y2.i AS y2, x2.i AS x2 FROM imgs i, " +
        "LATERAL (SELECT unnest(generate_series(0, 7)) AS i) y2, " +
        "LATERAL (SELECT unnest(generate_series(0, 7)) AS i) x2), " +
        "xy AS (SELECT id, seed, y2, x2, " +
        "(((x2*ew)//9)*w)//ew AS xl, ((((x2+1)*ew)//9)*w)//ew AS xr, " +
        "(((y2*eh)//8)*h)//eh AS yy FROM g), " +
        "b AS (SELECT id, y2, x2, CASE WHEN " +
        "(seed + 3*xl + 7*yy + 60*((xl//5)%2)) % 256 > " +
        "(seed + 3*xr + 7*yy + 60*((xr//5)%2)) % 256 " +
        "THEN '1' ELSE '0' END AS bit FROM xy), " +
        "hsh AS (SELECT id, string_agg(bit, '' ORDER BY y2, x2) AS dh " +
        "FROM b GROUP BY id), " +
        "ch AS (SELECT id, dh, c.i AS chunk, substr(dh, 1 + 16*c.i, 16) AS cv " +
        "FROM hsh, LATERAL (SELECT unnest(generate_series(0, 3)) AS i) c), " +
        "cand AS (SELECT DISTINCT a.id AS id_a, b2.id AS id_b, " +
        "a.dh AS dh_a, b2.dh AS dh_b FROM ch a JOIN ch b2 " +
        "ON a.chunk = b2.chunk AND a.cv = b2.cv AND a.id < b2.id), " +
        "pairs AS (SELECT id_a, id_b, list_sum(list_transform(range(64), " +
        "i -> CASE WHEN substr(dh_a, CAST(i AS INT)+1, 1) <> " +
        "substr(dh_b, CAST(i AS INT)+1, 1) THEN 1 ELSE 0 END)) AS hamming " +
        "FROM cand) " +
        "SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, " +
        "CAST(hamming AS INT) AS hamming FROM pairs WHERE hamming <= 3 " +
        "ORDER BY id_a, id_b"),
      (s, d) => {
        import s.implicits._
        val originals = T(s, d, "documents")
          .filter(col("doc_id") % 7 === 2).select("doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val (w, h) = (16 + (id % 16).toInt, 8 + (id % 9).toInt)
            graft.operators.Multimodal.MediaRow(id, "image",
              graft.operators.Multimodal.pngStripeBytes(w, h, (id % 97).toInt),
              "image/png", Some(w), Some(h), None)
          })
        val twins = graft.operators.Multimodal.resizeEncodePng(
            originals.filter(col("media_id") % 3 === 0), 3, 2)
          .map(r => r.copy(media_id = r.media_id + 10000000000L))
        val hashes = graft.operators.Multimodal
          .imageDhash(originals.union(twins)).toDF()
          .filter(col("ok"))
        graft.operators.Dedup.bitstringNearPairs(
            hashes, "media_id", "dhash_bits", maxHamming = 3)
          .orderBy("id_a", "id_b")
      }),

    // Perceptual AUDIO near-dup: energy-envelope signature (the audio
    // analog of the image dHash — consecutive-window Σs² comparisons,
    // invariant under amplitude scaling) banded through the SAME
    // hamming≤3 pigeonhole join as images/simhash. Fixtures are real
    // PCM16 WAVs decoded through javax.sound: 4-member families where
    // member 1 is a 2× amplitude-scaled copy (hamming 0 — gain
    // normalization is the classic benign audio edit), member 2 bumps
    // one window's energy (hamming ≤ 2), member 3 is unrelated. The
    // envelope is window-constant, so every signature bit — and thus
    // every emitted (pair, hamming) — is closed-form in SQL; the 4-chunk
    // banding is exact for hamming ≤ 3, so the brute-force SQL pair join
    // is the complete expected set.
    QueryDef("dedup_audio_near", Some(
      "WITH v AS (SELECT doc_id, (doc_id // 17) // 4 AS fam, (doc_id // 17) % 4 AS m " +
        "FROM documents WHERE doc_id % 17 = 9), " +
        "env AS (SELECT doc_id, list_transform(range(65), w -> " +
        "CASE m WHEN 0 THEN 100 + (fam*31 + w*w*7) % 3000 " +
        "WHEN 1 THEN 2 * (100 + (fam*31 + w*w*7) % 3000) " +
        "WHEN 2 THEN 100 + (fam*31 + w*w*7) % 3000 + " +
        "CASE WHEN w = 30 THEN 5000 ELSE 0 END " +
        "ELSE 100 + ((fam*53 + 7)*37 + w*13) % 3000 END) AS e FROM v), " +
        "sig AS (SELECT doc_id, list_transform(range(64), w -> " +
        "CASE WHEN e[w+1] > e[w+2] THEN 1 ELSE 0 END) AS bits FROM env), " +
        "pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "len(list_filter(range(64), w -> a.bits[w+1] <> b.bits[w+1])) AS ham " +
        "FROM sig a JOIN sig b ON a.doc_id < b.doc_id) " +
        "SELECT id_a, id_b, CAST(ham AS INT) AS hamming FROM pr " +
        "WHERE ham <= 3 ORDER BY id_a, id_b"),
      (s, d) => {
        import s.implicits._
        val media = T(s, d, "documents")
          .filter(col("doc_id") % 17 === 9).select("doc_id").as[Long]
          .mapPartitions(_.map { id =>
            // family/member from the DENSE slice index (one doc per
            // 17-block), so planted family members actually co-occur
            val fam = (id / 17) / 4
            val m = ((id / 17) % 4).toInt
            def base(w: Int): Int = (100 + (fam * 31 + w.toLong * w * 7) % 3000).toInt
            def v(w: Int): Int = m match {
              case 0 => base(w)
              case 1 => 2 * base(w)
              case 2 => base(w) + (if (w == 30) 5000 else 0)
              case _ => (100 + ((fam * 53 + 7) * 37 + w.toLong * 13) % 3000).toInt
            }
            val samples = Array.tabulate[Short](65 * 64)(i => v(i / 64).toShort)
            graft.operators.Multimodal.MediaRow(id, "audio",
              graft.operators.Multimodal.wavBytes(samples, 8000),
              "audio/wav", None, None, None)
          })
        val sigs = graft.operators.Multimodal
          .audioEnvelopeSig(media, 64, 65).toDF().filter(col("ok"))
        graft.operators.Dedup.bitstringNearPairs(sigs, "media_id", "sig",
            maxHamming = 3)
          .orderBy("id_a", "id_b")
      }),

    // VIDEO near-dup via shared-frame overlap: each decoded frame reduces
    // to an exact content key (pixel sum, top-row sum, corner pixel — the
    // features aviDecodeRle8 already emits), videos pair when ≥2 distinct
    // frame keys coincide — the shot-level content-ID shape. Scale: the
    // join is an EQUI-join on the frame key (candidate generation by
    // content bucket, no all-pairs), pair aggregation is match-sized.
    // Families share overlapping frame windows (member 0 = frames 0-2,
    // member 1 = frames 1-3 → 2 shared; member 2 disjoint); frame pixels
    // are row-constant RLE8 content so every key — and the full expected
    // pair set — is closed-form in SQL.
    QueryDef("dedup_video_near", Some(
      "WITH v AS (SELECT doc_id, (doc_id // 17) // 3 AS fam, (doc_id // 17) % 3 AS m " +
        "FROM documents WHERE doc_id % 17 = 5), " +
        "fr AS (SELECT doc_id, fam, CASE m WHEN 0 THEN k.i WHEN 1 THEN k.i + 1 " +
        "ELSE k.i + 10 END AS fi FROM v, " +
        "LATERAL (SELECT unnest(generate_series(0, 2)) AS i) k), " +
        "ky AS (SELECT DISTINCT doc_id, " +
        "12 * list_sum(list_transform(range(6), y -> (fam*31 + fi*13 + y*7) % 251)) AS ds, " +
        "12 * ((fam*31 + fi*13 + 35) % 251) AS tr, " +
        "(fam*31 + fi*13 + 35) % 251 AS fp FROM fr), " +
        "pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS sh " +
        "FROM ky a JOIN ky b ON a.ds = b.ds AND a.tr = b.tr AND a.fp = b.fp " +
        "AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT id_a, id_b, CAST(sh AS BIGINT) AS shared_frames FROM pr " +
        "WHERE sh >= 2 ORDER BY id_a, id_b"),
      (s, d) => {
        import s.implicits._
        val media = T(s, d, "documents")
          .filter(col("doc_id") % 17 === 5).select("doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val fam = (id / 17) / 3
            val m = ((id / 17) % 3).toInt
            val fis = m match {
              case 0 => Array(0, 1, 2)
              case 1 => Array(1, 2, 3)
              case _ => Array(10, 11, 12)
            }
            val frames = fis.map { fi =>
              val rows = Array.tabulate(6)(y => Array.fill(12)(
                ((fam * 31 + fi * 13 + y * 7) % 251).toByte))
              graft.operators.Multimodal.rle8EncodeRows(rows, _ % 2 == 1)
            }
            graft.operators.Multimodal.MediaRow(id, "video",
              graft.operators.Multimodal.aviBytesFrames(frames, 12, 6, 40000, "MRLE"),
              "video/avi", Some(12), Some(6), Some(fis.length * 40L))
          })
        val keys = graft.operators.Multimodal.aviDecodeRle8(media).toDF()
          .filter(col("ok"))
          .select(col("media_id"), col("sum_bytes").as("ds"),
            col("top_row_sum").as("tr"), col("first_pixel").as("fp"))
          .distinct()
        val a = keys.select(col("media_id").as("id_a"), col("ds"), col("tr"), col("fp"))
        val b = keys.select(col("media_id").as("id_b"), col("ds"), col("tr"), col("fp"))
        a.join(b, Seq("ds", "tr", "fp"))
          .filter(col("id_a") < col("id_b"))
          .groupBy("id_a", "id_b")
          .agg(count(lit(1)).as("shared_frames"))
          .filter(col("shared_frames") >= 2)
          .orderBy("id_a", "id_b")
      }),

    // Perceptual image hash (sampled dHash) — the image-native near-dup
    // key: 9×8 gray grid sampled with the resize operators' integer
    // mapping, one bit per horizontal neighbor pair. Every bit is a pure
    // integer function of the gradient fixture's pixel formula, so the
    // oracle replays the full 64-bit hash closed-form.
    QueryDef("mm_image_dhash", Some(
      "WITH p AS (SELECT doc_id, 16 + doc_id % 16 AS w, 8 + doc_id % 9 AS h, " +
        "doc_id % 97 AS seed FROM documents WHERE doc_id % 7 = 2), " +
        "g AS (SELECT doc_id, w, h, seed, y2.i AS y2, x2.i AS x2 FROM p, " +
        "LATERAL (SELECT unnest(generate_series(0, 7)) AS i) y2, " +
        "LATERAL (SELECT unnest(generate_series(0, 7)) AS i) x2), " +
        "b AS (SELECT doc_id, w, h, y2, x2, " +
        "CASE WHEN (seed + 3*((x2*w)//9) + 7*((y2*h)//8)) % 256 > " +
        "(seed + 3*(((x2+1)*w)//9) + 7*((y2*h)//8)) % 256 " +
        "THEN '1' ELSE '0' END AS bit FROM g) " +
        "SELECT doc_id AS media_id, CAST(w AS INT) AS width, " +
        "CAST(h AS INT) AS height, " +
        "string_agg(bit, '' ORDER BY y2, x2) AS dhash_bits, TRUE AS ok " +
        "FROM b GROUP BY doc_id, w, h ORDER BY media_id"),
      (s, d) => {
        import s.implicits._
        val media = T(s, d, "documents")
          .filter(col("doc_id") % 7 === 2).select("doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val (w, h) = (16 + (id % 16).toInt, 8 + (id % 9).toInt)
            graft.operators.Multimodal.MediaRow(id, "image",
              graft.operators.Multimodal.pngGradientBytes(w, h, (id % 97).toInt),
              "image/png", Some(w), Some(h), None)
          })
        graft.operators.Multimodal.imageDhash(media).toDF()
          .orderBy("media_id")
      }),

    // EXIF orientation extraction (TIFF 6.0 IFD walk inside the Exif APP1
    // segment, both byte orders) — the prep step an image pipeline runs
    // before decode/resize so rotated captures land upright. Docs with
    // doc_id % 5 == 0 carry NO Exif (has_exif=false, orientation 0); the
    // rest plant 1 + doc_id % 8 in alternating endianness.
    QueryDef("mm_image_exif", Some(
      "SELECT doc_id AS media_id, doc_id % 5 <> 0 AS has_exif, " +
        "CAST(CASE WHEN doc_id % 5 = 0 THEN 0 ELSE 1 + doc_id % 8 END AS INT) " +
        "AS orientation, TRUE AS ok " +
        "FROM documents WHERE doc_id % 11 = 3 ORDER BY 1"),
      (s, d) => {
        import s.implicits._
        val media = T(s, d, "documents")
          .filter(col("doc_id") % 11 === 3).select("doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val base = graft.operators.Multimodal.jpegGrayBytes(16, 8,
              (_, _) => (30 + id % 100).toInt)
            val payload =
              if (id % 5 == 0) base
              else graft.operators.Multimodal.jpegWithExif(base,
                (1 + id % 8).toInt, le = id % 2 == 0)
            graft.operators.Multimodal.MediaRow(id, "image", payload,
              "image/jpeg", Some(16), Some(8), None)
          })
        graft.operators.Multimodal.imageExif(media).toDF().orderBy("media_id")
      }),

    // END-TO-END MULTIMODAL PIPELINE (round-16 VERDICT #6) — the third
    // composition twin next to corpus_build_pipeline/crawl_build_pipeline:
    // webdataset tar shards → member extraction (payload slicing) →
    // mixed-strata decode (PNG stripe / solid BMP / block-constant JPEG,
    // one planted corrupt member per id%45 stratum hitting each decoder)
    // → EXIF orientation (JPEG stratum, alternating endianness, id%5=0
    // carries none) → 3/2 nearest-neighbor resize twins (odd PNG ids;
    // a corrupt source propagates quarantine THROUGH the resize) → dHash
    // → exact-(hash,dims) grouping → banded hamming≤3 near-pairs over
    // group representatives → connected components → keep-best canonical
    // (most pixels, then lowest id). Every stage is individually gated
    // elsewhere; this row proves the SEAMS compose: quarantine
    // propagation, payload-drop boundaries, stratum-normalized hashing,
    // rep-level clustering folding back onto members. The oracle chains
    // the per-stage SQL blocks (stripe dHash incl. the resize-composed
    // sampling, closed-form BMP/JPEG hashes, the pigeonhole banding, an
    // unrolled label-propagation closure) under ONE statement.
    QueryDef("mm_build_pipeline", Some(
      "WITH ids AS (SELECT doc_id AS id FROM documents WHERE doc_id % 9 = 7), " +
        "base AS (SELECT id, (id // 9) % 3 AS st, id % 45 = 7 AS corrupt, " +
        "CASE (id // 9) % 3 WHEN 0 THEN 16 + id % 16 WHEN 1 THEN 12 + id % 8 ELSE 16 END AS w, " +
        "CASE (id // 9) % 3 WHEN 0 THEN 8 + id % 9 WHEN 1 THEN 8 + id % 5 ELSE 8 END AS h, " +
        "id % 97 AS seed FROM ids), " +
        "imgs AS (SELECT id, st, corrupt, w, h, seed, w AS ew, h AS eh, FALSE AS twin FROM base " +
        "UNION ALL SELECT id + 10000000000, 0, corrupt, w, h, seed, (3*w)//2, (3*h)//2, TRUE " +
        "FROM base WHERE st = 0 AND id % 2 = 1), " +
        "g AS (SELECT i.id, i.seed, i.w, i.h, i.ew, i.eh, y2.i AS y2, x2.i AS x2 FROM imgs i, " +
        "LATERAL (SELECT unnest(generate_series(0, 7)) AS i) y2, " +
        "LATERAL (SELECT unnest(generate_series(0, 7)) AS i) x2 WHERE i.st = 0), " +
        "xy AS (SELECT id, seed, y2, x2, " +
        "(((x2*ew)//9)*w)//ew AS xl, ((((x2+1)*ew)//9)*w)//ew AS xr, " +
        "(((y2*eh)//8)*h)//eh AS yy FROM g), " +
        "b0 AS (SELECT id, y2, x2, CASE WHEN " +
        "(seed + 3*xl + 7*yy + 60*((xl//5)%2)) % 256 > " +
        "(seed + 3*xr + 7*yy + 60*((xr//5)%2)) % 256 THEN '1' ELSE '0' END AS bit FROM xy), " +
        "hsh AS (SELECT id, string_agg(bit, '' ORDER BY y2, x2) AS dh FROM b0 GROUP BY id " +
        "UNION ALL SELECT id, repeat('0', 64) FROM imgs WHERE st = 1 " +
        "UNION ALL SELECT id, CASE WHEN id % 2 = 1 THEN repeat('00001000', 8) " +
        "ELSE repeat('0', 64) END FROM imgs WHERE st = 2), " +
        "alive AS (SELECT i.id, i.ew AS w, i.eh AS h, s2.dh FROM imgs i " +
        "JOIN hsh s2 ON s2.id = i.id WHERE NOT i.corrupt), " +
        "grp AS MATERIALIZED (SELECT dh, w, h, min(id) AS rep FROM alive GROUP BY dh, w, h), " +
        "mem AS (SELECT a.id, a.w, a.h, g2.rep FROM alive a " +
        "JOIN grp g2 ON a.dh = g2.dh AND a.w = g2.w AND a.h = g2.h), " +
        "rch AS (SELECT rep, dh, c.i AS chunk, substr(dh, 1 + 16*c.i, 16) AS cv " +
        "FROM grp, LATERAL (SELECT unnest(generate_series(0, 3)) AS i) c), " +
        "cand AS (SELECT DISTINCT a.rep AS ra, b2.rep AS rb, a.dh AS dha, b2.dh AS dhb " +
        "FROM rch a JOIN rch b2 ON a.chunk = b2.chunk AND a.cv = b2.cv AND a.rep < b2.rep), " +
        "prs AS (SELECT ra, rb FROM cand WHERE list_sum(list_transform(range(64), " +
        "i -> CASE WHEN substr(dha, CAST(i AS INT)+1, 1) <> " +
        "substr(dhb, CAST(i AS INT)+1, 1) THEN 1 ELSE 0 END)) <= 3), " +
        "e AS MATERIALIZED (SELECT ra AS src, rb AS dst FROM prs UNION ALL SELECT rb, ra FROM prs), " +
        "l0 AS MATERIALIZED (SELECT rep AS nid, rep AS lbl FROM grp), " +
        (0 until 4).map { t =>
          s"a$t AS MATERIALIZED (SELECT l.nid, least(l.lbl, coalesce(min(nl.lbl), l.lbl)) AS lbl " +
            s"FROM l$t l LEFT JOIN e ON e.src = l.nid LEFT JOIN l$t nl ON nl.nid = e.dst " +
            "GROUP BY l.nid, l.lbl), " +
            s"l${t + 1} AS MATERIALIZED (SELECT a.nid, a2.lbl FROM a$t a JOIN a$t a2 ON a2.nid = a.lbl)"
        }.mkString(", ") + ", " +
        "cl AS (SELECT nid AS rep, lbl AS cluster_id FROM l4), " +
        "memc AS (SELECT m.id, m.w, m.h, c2.cluster_id FROM mem m JOIN cl c2 ON c2.rep = m.rep), " +
        "kept AS (SELECT id, cluster_id, row_number() OVER " +
        "(PARTITION BY cluster_id ORDER BY w*h DESC, id ASC) = 1 AS is_kept FROM memc) " +
        "SELECT CAST(i.id AS BIGINT) AS media_id, " +
        "CAST(CASE WHEN i.twin THEN NULL ELSE 2 END AS BIGINT) AS n_parts, " +
        "NOT i.corrupt AS ok, " +
        "CAST(CASE WHEN i.corrupt THEN NULL ELSE i.ew END AS INT) AS width, " +
        "CAST(CASE WHEN i.corrupt THEN NULL ELSE i.eh END AS INT) AS height, " +
        "CAST(CASE WHEN i.corrupt THEN NULL " +
        "WHEN i.st = 2 AND i.id % 5 <> 0 THEN 1 + i.id % 8 ELSE 0 END AS INT) AS orientation, " +
        "CAST(k.cluster_id AS BIGINT) AS cluster_id, k.is_kept AS is_kept " +
        "FROM imgs i LEFT JOIN kept k ON k.id = i.id ORDER BY media_id"),
      (s, d) => {
        import s.implicits._
        import graft.operators.{Multimodal => M}
        val TWIN = 10000000000L
        // fixture: tar shards of ≤4 samples, each sample = image + json
        val shards = T(s, d, "documents").filter(col("doc_id") % 9 === 7)
          .select("doc_id").as[Long]
          .groupByKey(_ / 36)
          .mapGroups { (shard, it) =>
            val entries = it.toSeq.sorted.flatMap { id =>
              val corrupt = id % 45 == 7
              val (name, bytes) = ((id / 9) % 3) match {
                case 0 =>
                  val (w, h) = (16 + (id % 16).toInt, 8 + (id % 9).toInt)
                  (s"$id.png", M.pngStripeBytes(w, h, (id % 97).toInt))
                case 1 =>
                  val (w, h) = (12 + (id % 8).toInt, 8 + (id % 5).toInt)
                  (s"$id.bmp", M.bmpBytes(w, h, 0x203040 + (id % 200).toInt))
                case _ =>
                  val v0 = 30 + (id % 100).toInt
                  val v1 = if (id % 2 == 0) v0 + 40 else v0 - 20
                  val base = M.jpegGrayBytes(16, 8, (bx, _) => if (bx == 0) v0 else v1)
                  (s"$id.jpg",
                    if (id % 5 == 0) base
                    else M.jpegWithExif(base, (1 + id % 8).toInt, le = id % 2 == 0))
              }
              Seq(name -> (if (corrupt) bytes.take(10) else bytes),
                s"$id.json" -> s"""{"id":$id}""".getBytes("UTF-8"))
            }
            M.MediaRow(shard, "shard", graft.operators.Tar.tarBytes(entries),
              "application/x-tar", None, None, None)
          }
          // persisted: the shard build (documents scan + groupByKey + the
          // per-member PNG/BMP/JPEG fixture ENCODERS) feeds two plans (the
          // webdataset index and the member extraction) — and the encode
          // work dwarfs the bytes cached (~KB per sample)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        CacheRegistry.register(shards.toDF())
        // stage 1-2: webdataset index + member payload extraction
        val nParts = graft.operators.Tar.webdatasetSamples(shards).toDF()
          .filter(col("ok"))
          .select(col("key").cast("long").as("media_id"), col("n_parts"))
        val images = graft.operators.Tar.memberPayloads(shards)
          .filter(m => m.ok && !m.name.endsWith(".json"))
          .map { m =>
            val dot = m.name.indexOf('.')
            val mime = m.name.substring(dot + 1) match {
              case "png" => "image/png"; case "bmp" => "image/bmp"
              case _ => "image/jpeg"
            }
            M.MediaRow(m.name.substring(0, dot).toLong, "image", m.payload,
              mime, None, None, None)
          }
        // persisted: decoded member payloads feed FOUR plans (EXIF, the
        // resize-twin branch, and both arms of the hash union)
        images.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        CacheRegistry.register(images.toDF())
        // stage 3: EXIF orientation off the JPEG stratum
        val ori = M.imageExif(images.filter(_.mime == "image/jpeg")).toDF()
          .select(col("media_id"), col("orientation"))
        // stage 4: resize twins (quarantine propagates through the resize)
        val twins = M.resizeEncodePng(
            images.filter(r => r.mime == "image/png" && r.media_id % 2 == 1), 3, 2)
          .map(r => r.copy(media_id = r.media_id + TWIN))
        // stage 5: perceptual hash over originals + twins (payload drops here)
        val hs = M.imageDhash(images.unionByName(twins)).toDF()
        // stage 6: exact-(hash,dims) groups, then banded near-pairs over
        // the group REPRESENTATIVES only — blank-image classes collapse to
        // one rep each, so pair work tracks distinct hashes, not images.
        // `hs` is persisted at the payload-drop boundary: all FIVE
        // downstream plans (alive→grp, mem, pairs, and the final
        // projection which reads hs UNFILTERED for the quarantine rows)
        // would otherwise each re-run the tar build + decode + hash
        // chain; `pairs` is persisted so the CC call can take its driver
        // union-find fast path (rep graphs are tiny).
        val hsC = CacheRegistry.register(
          hs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val alive = hsC.filter(col("ok"))
        val grp = alive.groupBy("dhash_bits", "width", "height")
          .agg(min("media_id").as("rep"))
        val mem = alive.join(grp, Seq("dhash_bits", "width", "height"))
        val pairs = CacheRegistry.register(graft.operators.Dedup.bitstringNearPairs(
          grp.select(col("rep").as("media_id"), col("dhash_bits")),
          "media_id", "dhash_bits", maxHamming = 3)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        // stage 7: clusters over reps, folded back onto members; keep-best
        val cc = graft.operators.Dedup.connectedComponents(
          grp.select("rep"), "rep", pairs, "id_a", "id_b")
        val kept = mem.join(cc, "rep")
          .withColumn("is_kept", row_number().over(
            Window.partitionBy("cluster_id")
              .orderBy((col("width") * col("height")).desc, col("media_id").asc)) === 1)
          .select(col("media_id"), col("cluster_id"), col("is_kept"))
        hsC.select(col("media_id"), col("ok"), col("width"), col("height"))
          .join(nParts, Seq("media_id"), "left")
          .join(ori, Seq("media_id"), "left")
          .join(kept, Seq("media_id"), "left")
          .select(col("media_id"),
            col("n_parts").cast("long").as("n_parts"),
            col("ok"),
            when(col("ok"), col("width")).cast("int").as("width"),
            when(col("ok"), col("height")).cast("int").as("height"),
            when(col("ok"), coalesce(col("orientation"), lit(0)))
              .cast("int").as("orientation"),
            col("cluster_id").cast("long").as("cluster_id"),
            col("is_kept"))
          .orderBy("media_id")
      }),

    // G.711 µ-law (WAV tag 0x07) telephony-audio decode — STATELESS
    // segment expansion, so the DuckDB oracle replays the formula per
    // byte in closed form (contrast mm_decode_adpcm's recursive CTE for
    // the stateful IMA predictor). Kernel is table-equal to javax.sound
    // for all 256 byte values (CI-pinned).
    QueryDef("mm_decode_ulaw", Some(
      "WITH v AS (SELECT doc_id, CAST(40 + doc_id % 50 AS INT) AS n " +
        "FROM documents WHERE doc_id % 11 = 6), " +
        "g AS (SELECT doc_id, n, gs.i AS i FROM v, " +
        "LATERAL (SELECT unnest(generate_series(0, n - 1)) AS i) gs), " +
        "u AS (SELECT doc_id, n, i, 255 - (doc_id*7 + i*13) % 256 AS uu FROM g), " +
        "t AS (SELECT doc_id, n, i, uu, " +
        "((uu % 16) * 8 + 132) * (1 << ((uu // 16) % 8)) AS tv FROM u), " +
        "s AS (SELECT doc_id, n, i, " +
        "CASE WHEN uu >= 128 THEN 132 - tv ELSE tv - 132 END AS pcm FROM t) " +
        "SELECT doc_id AS media_id, 'ulaw' AS law, n AS n_samples, " +
        "CAST(sum(pcm) AS BIGINT) AS sum_pcm, CAST(min(pcm) AS INT) AS min_pcm, " +
        "CAST(max(pcm) AS INT) AS max_pcm, " +
        "CAST(max(CASE WHEN i = n - 1 THEN pcm END) AS INT) AS last_pcm, " +
        "TRUE AS ok FROM s GROUP BY doc_id, n ORDER BY media_id"),
      (s, d) => {
        import s.implicits._
        val media = T(s, d, "documents")
          .filter(col("doc_id") % 11 === 6).select("doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val n = 40 + (id % 50).toInt
            val bytes = Array.tabulate[Byte](n)(i => ((id * 7 + i * 13) % 256).toByte)
            graft.operators.Multimodal.MediaRow(id, "audio",
              graft.operators.Multimodal.g711WavBytes(8000, bytes, mu = true),
              "audio/wav", None, None, Some(n * 1000L / 8000L))
          })
        graft.operators.Multimodal.g711FromWav(media).toDF().orderBy("media_id")
      }),

    // G.711 A-law (WAV tag 0x06): the 0x55-toggle variant with its
    // distinct segment-0/1 breakpoints and inverted sign convention.
    QueryDef("mm_decode_alaw", Some(
      "WITH v AS (SELECT doc_id, CAST(40 + doc_id % 50 AS INT) AS n " +
        "FROM documents WHERE doc_id % 11 = 8), " +
        "g AS (SELECT doc_id, n, gs.i AS i FROM v, " +
        "LATERAL (SELECT unnest(generate_series(0, n - 1)) AS i) gs), " +
        "a AS (SELECT doc_id, n, i, xor((doc_id*7 + i*13) % 256, 85) AS aa FROM g), " +
        "t AS (SELECT doc_id, n, i, aa, (aa % 16) * 16 AS tv, " +
        "(aa // 16) % 8 AS seg FROM a), " +
        "m AS (SELECT doc_id, n, i, aa, CASE WHEN seg = 0 THEN tv + 8 " +
        "WHEN seg = 1 THEN tv + 264 ELSE (tv + 264) * (1 << (seg - 1)) END AS mag FROM t), " +
        "s AS (SELECT doc_id, n, i, " +
        "CASE WHEN aa >= 128 THEN mag ELSE -mag END AS pcm FROM m) " +
        "SELECT doc_id AS media_id, 'alaw' AS law, n AS n_samples, " +
        "CAST(sum(pcm) AS BIGINT) AS sum_pcm, CAST(min(pcm) AS INT) AS min_pcm, " +
        "CAST(max(pcm) AS INT) AS max_pcm, " +
        "CAST(max(CASE WHEN i = n - 1 THEN pcm END) AS INT) AS last_pcm, " +
        "TRUE AS ok FROM s GROUP BY doc_id, n ORDER BY media_id"),
      (s, d) => {
        import s.implicits._
        val media = T(s, d, "documents")
          .filter(col("doc_id") % 11 === 8).select("doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val n = 40 + (id % 50).toInt
            val bytes = Array.tabulate[Byte](n)(i => ((id * 7 + i * 13) % 256).toByte)
            graft.operators.Multimodal.MediaRow(id, "audio",
              graft.operators.Multimodal.g711WavBytes(8000, bytes, mu = false),
              "audio/wav", None, None, Some(n * 1000L / 8000L))
          })
        graft.operators.Multimodal.g711FromWav(media).toDF().orderBy("media_id")
      }),

    // the decode stub is pure byte arithmetic (BE32 header ints, frame
    // count, byte-sum checksum), so DuckDB can oracle it from hex(payload)
    QueryDef("mm_decode", Some(
      "WITH m AS (SELECT doc_id AS media_id, " +
        "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind, " +
        "lower(hex(encode(text))) AS hx, octet_length(encode(text)) AS len FROM documents), " +
        "b AS (SELECT media_id, kind, len, " +
        "list_transform(range(least(len, 8)), i -> " +
        "(strpos('0123456789abcdef', hx[2*i+1]) - 1) * 16 + (strpos('0123456789abcdef', hx[2*i+2]) - 1)) AS hd, " +
        "list_sum(list_transform(range(len), i -> " +
        "(strpos('0123456789abcdef', hx[2*i+1]) - 1) * 16 + (strpos('0123456789abcdef', hx[2*i+2]) - 1))) AS bytesum " +
        "FROM m), " +
        "s AS (SELECT media_id, kind, len, bytesum, " +
        "CASE WHEN len >= 4 THEN hd[1]*16777216 + hd[2]*65536 + hd[3]*256 + hd[4] ELSE 0 END AS u0, " +
        "CASE WHEN len >= 8 THEN hd[5]*16777216 + hd[6]*65536 + hd[7]*256 + hd[8] ELSE 0 END AS u4 FROM b) " +
        "SELECT media_id, kind, " +
        "CAST(abs(CASE WHEN u0 >= 2147483648 THEN u0 - 4294967296 ELSE u0 END) % 8192 AS INT) AS width, " +
        "CAST(abs(CASE WHEN u4 >= 2147483648 THEN u4 - 4294967296 ELSE u4 END) % 8192 AS INT) AS height, " +
        "CAST(len // 1024 + 1 AS INT) AS n_frames, CAST(bytesum AS BIGINT) AS checksum " +
        "FROM s ORDER BY media_id"),
      (s, d) => {
        import s.implicits._
        val media = mediaFromDocs(s, d).select(
            col("media_id"), col("kind"), col("payload"), col("mime"),
            lit(null).cast("int").as("width"), lit(null).cast("int").as("height"),
            lit(null).cast("long").as("duration_ms"))
          .as[graft.operators.Multimodal.MediaRow]
        graft.operators.Multimodal.decode(media).toDF().orderBy("media_id")
      }),

    // REAL image decode (javax.imageio — in the JDK, no external codecs):
    // each doc_id becomes a solid-color PNG whose dims and RGB are pure
    // integer functions of the id; Spark ENCODES the PNG, ships the bytes
    // through the binary column, and decodeImages reads actual pixels back.
    // PNG is lossless, so the oracle computes the decoded dims and the
    // per-pixel checksum (w·h·(r+g+b)) straight from the id functions —
    // a real codec round-trip certified by exact arithmetic.
    QueryDef("mm_decode_image", Some(
      "SELECT doc_id AS media_id, CAST(16 + doc_id % 16 AS INT) AS width, " +
        "CAST(8 + doc_id % 9 AS INT) AS height, " +
        "CAST((16 + doc_id % 16) * (8 + doc_id % 9) * " +
        "(doc_id % 256 + (doc_id * 7) % 256 + (doc_id * 13) % 256) AS BIGINT) AS pix_sum, " +
        "TRUE AS ok FROM documents ORDER BY 1"),
      (s, d) => {
        import s.implicits._
        val media = T(s, d, "documents").select("doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val (w, h) = (16 + (id % 16).toInt, 8 + (id % 9).toInt)
            val rgb = ((id % 256).toInt << 16) |
              (((id * 7) % 256).toInt << 8) | ((id * 13) % 256).toInt
            graft.operators.Multimodal.MediaRow(id, "image",
              graft.operators.Multimodal.pngBytes(w, h, rgb),
              "image/png", Some(w), Some(h), None)
          })
        graft.operators.Multimodal.decodeImages(media).toDF()
          .orderBy("media_id")
      }),

    // REAL image resize (thumbnailing): gray-GRADIENT PNGs (pixel value a
    // position formula — a solid color would mask wrong-pixel sampling),
    // decoded and nearest-neighbor-resampled to 8×6 with the integer
    // mapping src = (dst·srcDim) div dstDim. The oracle replays exactly
    // which source pixels survive, so an off-by-one in the sampling grid
    // hash-fails; gray = (seed + 3x + 7y) mod 256 summed over 3 channels.
    QueryDef("mm_resize_image", Some(
      "WITH p AS (SELECT doc_id, 16 + doc_id % 16 AS w, 8 + doc_id % 9 AS h " +
        "FROM documents WHERE doc_id % 3 = 1), " +
        "g AS (SELECT doc_id, w, h, x2.i AS x2, y2.i AS y2 FROM p, " +
        "LATERAL (SELECT unnest(generate_series(0, 7)) AS i) x2, " +
        "LATERAL (SELECT unnest(generate_series(0, 5)) AS i) y2), " +
        "s AS (SELECT doc_id, w, h, " +
        "3 * ((doc_id % 97 + 3 * ((x2 * w) // 8) + 7 * ((y2 * h) // 6)) % 256) AS v FROM g) " +
        "SELECT doc_id AS media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
        "CAST(8 AS INT) AS out_w, CAST(6 AS INT) AS out_h, " +
        "CAST(sum(v) AS BIGINT) AS pix_sum, TRUE AS ok " +
        "FROM s GROUP BY doc_id, w, h ORDER BY 1"),
      (s, d) => {
        import s.implicits._
        // Catalyst predicate BEFORE the typed boundary (mm_frames recipe):
        // the fixture's imageio encode+decode is the row's real cost, and
        // a third of the corpus certifies the sampling grid just as well
        val media = T(s, d, "documents")
          .filter(col("doc_id") % 3 === 1).select("doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val (w, h) = (16 + (id % 16).toInt, 8 + (id % 9).toInt)
            graft.operators.Multimodal.MediaRow(id, "image",
              graft.operators.Multimodal.pngGradientBytes(w, h, (id % 97).toInt),
              "image/png", Some(w), Some(h), None)
          })
        graft.operators.Multimodal.resizeImages(media, outW = 8, outH = 6).toDF()
          .orderBy("media_id")
      }),

    // REAL audio decode (javax.sound.sampled, in the JDK) certified by a
    // lossless fixture, the audio twin of mm_decode_image: deterministic
    // s16le PCM WAV per doc (sample[i] = ((id·31+i·7) mod 2048) − 1024),
    // decoded and split into 64-sample windows with integer features —
    // the oracle recomputes every window from the same integer formula.
    QueryDef("mm_audio_windows", Some(
      "WITH s AS (SELECT doc_id, CAST(gs.i AS BIGINT) AS i, " +
        "((doc_id*31 + gs.i*7) % 2048) - 1024 AS smp FROM documents, " +
        "LATERAL (SELECT unnest(generate_series(0, 100 + (doc_id % 5)*37 - 1)) AS i) gs) " +
        "SELECT doc_id AS media_id, CAST(i // 64 AS INT) AS win_idx, " +
        "CAST(count(*) AS INT) AS n_samples, CAST(sum(smp*smp) AS BIGINT) AS sum_sq, " +
        "CAST(max(abs(smp)) AS INT) AS peak, 8000 AS sample_rate, TRUE AS ok " +
        "FROM s GROUP BY 1, 2"),
      (s, d) => {
        import s.implicits._
        val media = T(s, d, "documents").select("doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val n = 100 + (id % 5).toInt * 37
            val samples = Array.tabulate[Short](n)(i =>
              (((id * 31 + i * 7) % 2048) - 1024).toShort)
            graft.operators.Multimodal.MediaRow(id, "audio",
              graft.operators.Multimodal.wavBytes(samples, 8000),
              "audio/wav", None, None, Some(n * 1000L / 8000))
          })
        graft.operators.Multimodal.audioWindows(media, 64).toDF()
      }),

    // ------------------------------------------------- incremental/streaming

    // As-of join: every event picks up the user's latest purchase value at
    // or before its own timestamp (the feature-store "state as of event
    // time" join). Oracle mirrors the union-merge-window implementation so
    // tie semantics (version at exactly the event instant is visible) are
    // pinned identically on both sides; max() over doubles is exact, so no
    // rounding is needed.
    QueryDef("asof_join", Some(
      "WITH ev AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us, event_type, value FROM events), " +
        "ver AS (SELECT user_id, us, max(value) AS vval FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2), " +
        "m AS (SELECT user_id, us, 0 AS pri, NULL::BIGINT AS event_id, vval FROM ver " +
        "UNION ALL SELECT user_id, us, 1 AS pri, event_id, NULL AS vval FROM ev), " +
        // version payloads ride in a struct (like the engine's __p), so a
        // version whose aggregated payload is NULL still counts as the
        // latest version instead of being skipped by IGNORE NULLS
        "f AS (SELECT user_id, us, pri, event_id, (last_value(CASE WHEN pri = 0 THEN {'v': vval} END IGNORE NULLS) OVER " +
        "(PARTITION BY user_id ORDER BY us, pri ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)).v AS last_purchase FROM m) " +
        "SELECT event_id, user_id, us AS ts_us, last_purchase FROM f WHERE pri = 1 ORDER BY event_id"),
      (s, d) => {
        val ev = T(s, d, "events").select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"), col("event_type"), col("value"))
        val ver = ev.filter(col("event_type") === "purchase")
          .groupBy("user_id", "us").agg(max("value").as("last_purchase"))
        operators.TemporalJoins.asofJoin(
          ev.select("event_id", "user_id", "us"), "us",
          ver, "us", Seq("user_id"), Seq("last_purchase"))
          .select(col("event_id"), col("user_id"), col("us").as("ts_us"),
            col("last_purchase"))
          .orderBy("event_id")
      }),

    // Interval correlation: every click within 24 h after an error by the
    // same user ("what did the user do in the incident window"). The
    // binned equi-join form — DuckDB happily runs the raw inequality join
    // at oracle scale, which is exactly the point: the oracle is the
    // theta-join, the engine is the scale-safe rewrite, and they must
    // agree pair-for-pair.
    QueryDef("range_join_binned", Some(
      "WITH ev AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us, event_type FROM events) " +
        "SELECT err.event_id AS err_id, c.event_id AS click_id, c.user_id, c.us AS click_us " +
        "FROM (SELECT * FROM ev WHERE event_type = 'error') err " +
        "JOIN (SELECT * FROM ev WHERE event_type = 'click') c " +
        "ON err.user_id = c.user_id AND c.us BETWEEN err.us AND err.us + 86400000000 " +
        "ORDER BY err_id, click_id"),
      (s, d) => {
        val ev = T(s, d, "events").select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"), col("event_type"))
        val iv = ev.filter(col("event_type") === "error")
          .select(col("event_id").as("err_id"), col("user_id"),
            col("us").as("start_us"), (col("us") + 86400000000L).as("end_us"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"), col("us"))
        operators.TemporalJoins.rangeJoinBinned(
          clicks, "us", iv, "start_us", "end_us", Seq("user_id"), 86400000000L)
          .select(col("err_id"), col("click_id"), col("user_id"),
            col("us").as("click_us"))
          .orderBy("err_id", "click_id")
      }),

    QueryDef("k3_inserted_count", Some(
      "SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1"),
      (s, d) => T(s, d, "events")
        .groupBy(col("ts").cast("date").as("day")).agg(count(lit(1)).as("n"))),

    // §2.10 + K1 + K2 under the correctness gate: the per-day batch pipeline
    // (ingest → idempotent load → PIP enrich → the 3 daily marts it checks)
    // runs TWICE over the same INPE-shaped day into a scratch warehouse; the
    // second run must insert 0 rows and leave every mart unchanged. The
    // oracle needs no geometry: each valid event lands in exactly one
    // municipality/UF/biome box by construction, so every conservation
    // aggregate equals the valid row count n — idempotency itself is the
    // oracle.
    QueryDef("pipeline_idempotent", Some(
      "WITH v AS (SELECT count(*) AS n FROM events WHERE event_id % 10 = 0 " +
        "AND event_id % 97 <> 0 AND event_id % 89 <> 0) " +
        "SELECT n AS attempted_1, n AS inserted_1, n AS attempted_2, " +
        "CAST(0 AS BIGINT) AS inserted_2, n AS curated_n, n AS enriched_n, " +
        "n AS mart_mun_sum, n AS mart_uf_sum, n AS mart_bioma_sum FROM v"),
      (s, d) => {
        import s.implicits._
        val root = scratchDir(s, "graft_pipeline_q", d)
        val (municipios, biomas) = pipelineDims(s)
        // day key pinned to the file date: this query pins idempotency;
        // the view_ts-vs-file_date day-key split is pinned by a1-a6
        val raw = pipelineRawCsv(
          T(s, d, "events").filter(col("event_id") % 10 === 0), "2024-01-15")
        val p = new Pipeline(s, root, municipios, biomas, None, None)
        val day = java.time.LocalDate.parse("2024-01-15")
        // rebuild only the marts this invariant reads — the writeMarts
        // subset seam a single-dimension backfill would use
        val marts = Set("focos_diario_municipio", "focos_diario_uf", "focos_diario_bioma")
        val r1 = p.runDayFrom(raw, day, marts)
        val r2 = p.runDayFrom(raw, day, marts)
        def martSum(name: String, c: String): Long =
          s.read.parquet(s"$root/marts/$name").agg(sum(col(c))).head().getLong(0)
        // five independent read-only verification actions — §2.6 overlap
        val Seq(curatedN, enrichedN, munSum, ufSum, bioSum) = Pipeline.inParallel(Seq(
          () => s.read.parquet(s"$root/curated").count(),
          () => s.read.parquet(s"$root/enriched").count(),
          () => martSum("focos_diario_municipio", "n_focos"),
          () => martSum("focos_diario_uf", "n_focos"),
          () => martSum("focos_diario_bioma", "focos")))
        Seq((r1("attempted"), r1("inserted"), r2("attempted"), r2("inserted"),
          curatedN, enrichedN, munSum, ufSum, bioSum))
          .toDF("attempted_1", "inserted_1", "attempted_2", "inserted_2",
            "curated_n", "enriched_n", "mart_mun_sum", "mart_uf_sum", "mart_bioma_sum")
      }),

    // §2.10 EP2 under the gate: resumable range backfill with the atomic
    // state file (reference src/etl/backfill.py:63-66 + runner loop).
    // Two days split by (event_id div 10) % 2; the day-2 source THROWS on
    // the first pass (a transient 404), so pass 1 completes day 1 and
    // persists last_completed=day1; the resumed pass heals the source and
    // must run day 2 ONLY. n_fetches proves it (1,2): a resume that re-ran
    // the completed day would fetch it twice — and re-inserting is already
    // pinned as a 0 by pipeline_idempotent. Inserted counts come from the
    // curated store's file_date partitions, so the oracle is the
    // closed-form valid-row count per day slice.
    QueryDef("pipeline_backfill_resume", Some(
      "WITH v AS (SELECT CAST(event_id // 10 % 2 AS INT) AS idx FROM events " +
        "WHERE event_id % 10 = 0 AND event_id % 97 <> 0 AND event_id % 89 <> 0), " +
        "c AS (SELECT idx, count(*) AS inserted FROM v GROUP BY 1) " +
        "SELECT DATE '2024-02-01' + idx AS day, inserted, " +
        "CAST(idx + 1 AS INT) AS pass, CAST(idx + 1 AS BIGINT) AS n_fetches " +
        "FROM c ORDER BY day"),
      (s, d) => {
        import s.implicits._
        val root = scratchDir(s, "graft_backfill_q", d)
        val (municipios, biomas) = pipelineDims(s)
        val p = new Pipeline(s, root, municipios, biomas, None, None)
        val day1 = java.time.LocalDate.parse("2024-02-01")
        val day2 = day1.plusDays(1)
        val ev = T(s, d, "events").filter(col("event_id") % 10 === 0)
        val fetches = scala.collection.mutable.Map[java.time.LocalDate, Long]()
          .withDefaultValue(0L)
        def csvFor(poisonDay2: Boolean)(dt: java.time.LocalDate): DataFrame = {
          fetches(dt) += 1
          if (poisonDay2 && dt == day2)
            throw new java.io.FileNotFoundException(s"transient 404 for $dt")
          pipelineRawCsv(
            ev.filter(expr("event_id div 10 % 2") ===
              java.time.temporal.ChronoUnit.DAYS.between(day1, dt)),
            dt.toString)
        }
        // no mart rebuilds: this row pins RESUME semantics (state file,
        // skip-completed, per-day inserts); mart content is pinned by
        // pipeline_idempotent — an empty subset keeps the row's cost at
        // the ingest+enrich chain it actually asserts
        val marts = Set.empty[String]
        // pass 1 dies on day 2 (its done-list is lost with the throw; the
        // state file survives — that is the point), pass 2 resumes
        require(scala.util.Try(
          p.backfill(day1, day2, csvFor(poisonDay2 = true),
            checks = false, marts = marts)).isFailure, "day-2 poison must throw")
        val pass2 = p.backfill(day1, day2, csvFor(poisonDay2 = false),
          resume = true, checks = false, marts = marts)
        val meta = Seq(day1, day2).map { dt =>
          (java.sql.Date.valueOf(dt), if (pass2.contains(dt)) 2 else 1, fetches(dt))
        }.toDF("day", "pass", "n_fetches")
        s.read.parquet(s"$root/curated")
          .groupBy(col("file_date").as("day")).agg(count(lit(1)).as("inserted"))
          .join(broadcast(meta), Seq("day"))
          .select("day", "inserted", "pass", "n_fetches")
          .orderBy("day")
      }),

    // §2.10 checked-flags re-enrichment under the gate (reference
    // `where not bioma_checked`, 21_enrich_biomas_ucs_tis.sql:17-27): a day
    // is enriched WITH a UC dimension, then its UC outputs are nulled and
    // uc_checked cleared (the store state a late-arriving dimension leaves
    // behind); reenrichDay must pick up exactly the unchecked rows, restore
    // cd_cnuc for the rows inside the UC polygon, and leave no clear flags.
    // The UC box is municipality strip 1 (lon ∈ [-70.005, -60.005]), so
    // n_restored has a closed form over the synthesized coordinates.
    QueryDef("pipeline_reenrich_flags", Some(
      "WITH v AS (SELECT event_id FROM events WHERE event_id % 10 = 0 " +
        "AND event_id % 97 <> 0 AND event_id % 89 <> 0) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_unchecked, " +
        "CAST(sum(CASE WHEN event_id % 30 >= 21 " +
        "OR (event_id % 30 = 20 AND (event_id * 7) % 100 <> 0) THEN 1 ELSE 0 END) AS BIGINT) AS n_restored, " +
        "CAST(0 AS BIGINT) AS n_flags_clear, CAST(count(*) AS BIGINT) AS n_rows FROM v"),
      (s, d) => {
        import s.implicits._
        val root = scratchDir(s, "graft_reenrich_q", d)
        val (municipios, biomas) = pipelineDims(s)
        val ucDim = dimBox(Seq((10L, "42", "UC Parque")).toDF("dim_id", "cd_cnuc", "nome_uc"),
          -70.005, -10.005, -60.005, 0.005)
        val p = new Pipeline(s, root, municipios, biomas, Some(ucDim), None)
        val day = java.time.LocalDate.parse("2024-01-15")
        val dlit = lit(java.sql.Date.valueOf(day))
        p.runDayFrom(pipelineRawCsv(
          T(s, d, "events").filter(col("event_id") % 10 === 0), day.toString),
          day, Set.empty)
        // doctor the partition into the "UC arrived late" state
        val doctored = s.read.parquet(s"$root/enriched")
          .filter(col("file_date") === dlit)
          .withColumn("uc_checked", lit(false))
          .withColumn("cd_cnuc", lit(null).cast("string"))
          .withColumn("uc_nome", lit(null).cast("string"))
        doctored.write.mode("overwrite").parquet(s"$root/doctored")
        s.read.parquet(s"$root/doctored").withColumn("file_date", dlit)
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("file_date").parquet(s"$root/enriched")
        val nUnchecked = p.reenrichDay(day)
        // one aggregation pass instead of three filtered count() actions —
        // the three verification counts are conditional sums over the same
        // scan (3 jobs + driver gaps → 1 job, and at scale one read of the
        // enriched store instead of three)
        val after = s.read.parquet(s"$root/enriched")
          .agg(coalesce(sum(when(col("cd_cnuc").isNotNull, 1L).otherwise(0L)), lit(0L)).as("r"),
            coalesce(sum(when(!col("uc_checked"), 1L).otherwise(0L)), lit(0L)).as("f"),
            count(lit(1)).as("n")).head()
        Seq((nUnchecked, after.getLong(0), after.getLong(1), after.getLong(2)))
          .toDF("n_unchecked", "n_restored", "n_flags_clear", "n_rows")
      }),

    // SCD2 merge (Kimball type-2 upsert) over a synthetic dimension built
    // from `customer`: every 10th key changes segment → close + reopen;
    // keys ≡5 (mod 10) send a NO-OP update (attrs identical — must not
    // churn); keys ≡0 (mod 100) arrive shifted +1e6 as brand-new. One
    // full-outer join + classify/explode, no second join (operators/Scd).
    QueryDef("scd2_merge", Some(
      "WITH dim AS (SELECT c_custkey, c_mktsegment, c_nationkey, " +
        "DATE '2024-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to, " +
        "true AS is_current FROM customer), " +
        "upd AS (SELECT c_custkey, 'MOVED' AS c_mktsegment, c_nationkey, " +
        "DATE '2024-06-01' AS eff FROM customer WHERE c_custkey % 10 = 0 " +
        "UNION ALL SELECT c_custkey, c_mktsegment, c_nationkey, DATE '2024-06-01' " +
        "FROM customer WHERE c_custkey % 10 = 5 " +
        "UNION ALL SELECT c_custkey + 1000000, 'FRESH', c_nationkey, DATE '2024-06-01' " +
        "FROM customer WHERE c_custkey % 100 = 0), " +
        "j AS (SELECT coalesce(d.c_custkey, u.c_custkey) AS c_custkey, " +
        "d.c_mktsegment AS dseg, d.c_nationkey AS dnat, d.valid_from, d.valid_to, d.is_current, " +
        "u.c_mktsegment AS useg, u.c_nationkey AS unat, u.eff, " +
        "d.c_custkey IS NOT NULL AS dp, u.c_custkey IS NOT NULL AS up, " +
        "(d.c_mktsegment IS NOT DISTINCT FROM u.c_mktsegment AND " +
        "d.c_nationkey IS NOT DISTINCT FROM u.c_nationkey) AS same " +
        "FROM dim d FULL OUTER JOIN upd u ON d.c_custkey = u.c_custkey) " +
        "SELECT c_custkey, dseg AS c_mktsegment, dnat AS c_nationkey, " +
        "valid_from, valid_to, is_current FROM j WHERE dp AND (NOT up OR same) " +
        "UNION ALL SELECT c_custkey, dseg, dnat, valid_from, eff, false " +
        "FROM j WHERE dp AND up AND NOT same " +
        "UNION ALL SELECT c_custkey, useg, unat, eff, CAST(NULL AS DATE), true " +
        "FROM j WHERE up AND (NOT dp OR NOT same) " +
        "ORDER BY c_custkey, valid_from"),
      (s, d) => {
        val c = T(s, d, "customer")
        val dim = c.select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"),
          lit(java.sql.Date.valueOf("2024-01-01")).as("valid_from"),
          lit(null).cast("date").as("valid_to"), lit(true).as("is_current"))
        val eff = java.sql.Date.valueOf("2024-06-01")
        val upd = c.filter(col("c_custkey") % 10 === 0)
          .select(col("c_custkey"), lit("MOVED").as("c_mktsegment"), col("c_nationkey"))
          .union(c.filter(col("c_custkey") % 10 === 5)
            .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey")))
          .union(c.filter(col("c_custkey") % 100 === 0)
            .select((col("c_custkey") + 1000000).as("c_custkey"),
              lit("FRESH").as("c_mktsegment"), col("c_nationkey")))
          .withColumn("eff", lit(eff))
        operators.Scd.scd2Apply(dim, upd, Seq("c_custkey"),
            Seq("c_mktsegment", "c_nationkey"), "eff")
          .orderBy("c_custkey", "valid_from")
      }),

    // Event-time sessionization via the session_window built-in — the same
    // aggregation runs streaming (watermark + append, StreamingSpec) and
    // batch; this entry runs StreamingJobs.sessionWindows in batch (its
    // watermark is a no-op there), oracled as gaps-and-islands SQL.
    // Both sides work in integer microseconds (Spark's reader truncates the
    // parquet nanos, epoch_ns//1000 reproduces it), so boundary semantics
    // are exact: only a gap STRICTLY over 8h starts a new session (an event
    // at exactly last_ts+gap merges — pinned by the StreamingSpec boundary
    // test).
    QueryDef("stream_sessionize", Some(
      "WITH ev AS (SELECT user_id, epoch_ns(ts) // 1000 AS us, value FROM events), " +
        "x AS (SELECT user_id, us, value, CASE WHEN us - lag(us) OVER " +
        "(PARTITION BY user_id ORDER BY us) > 28800000000 THEN 1 ELSE 0 END AS brk FROM ev), " +
        "s AS (SELECT user_id, us, value, sum(brk) OVER (PARTITION BY user_id ORDER BY us " +
        "ROWS UNBOUNDED PRECEDING) AS sid FROM x) " +
        "SELECT user_id, min(us) AS session_start_us, max(us) + 28800000000 AS session_end_us, " +
        "count(*) AS n_events, round(sum(value), 4) AS total_value " +
        "FROM s GROUP BY user_id, sid ORDER BY user_id, session_start_us"),
      (s, d) => graft.streaming.StreamingJobs.sessionWindows(T(s, d, "events"))
        .select(col("user_id"),
          unix_micros(col("session_start")).as("session_start_us"),
          unix_micros(col("session_end")).as("session_end_us"),
          col("n_events"), col("total_value"))
        .orderBy("user_id", "session_start_us")),

    // The SAME gap sessions via flatMapGroupsWithState custom state — run
    // as a REAL stream (file source → keyed open-session state →
    // event-time-timeout emission → file-sink drain). A sentinel event far
    // past every session close advances the final watermark so the
    // trailing no-data microbatch flushes all state; which batch emits a
    // session cannot change WHAT is emitted (interval coalescing in
    // sessionizeByGap), so the output matches the gaps-and-islands closed
    // form — the identical oracle stream_sessionize uses, pinning the two
    // sessionizers to each other transitively.
    QueryDef("stream_sessionize_fmgws", Some(
      "WITH ev AS (SELECT user_id, epoch_ns(ts) // 1000 AS us, value FROM events), " +
        "x AS (SELECT user_id, us, value, CASE WHEN us - lag(us) OVER " +
        "(PARTITION BY user_id ORDER BY us) > 28800000000 THEN 1 ELSE 0 END AS brk FROM ev), " +
        "s AS (SELECT user_id, us, value, sum(brk) OVER (PARTITION BY user_id ORDER BY us " +
        "ROWS UNBOUNDED PRECEDING) AS sid FROM x) " +
        "SELECT user_id, min(us) AS session_start_us, max(us) + 28800000000 AS session_end_us, " +
        "count(*) AS n_events, round(sum(value), 4) AS total_value " +
        "FROM s GROUP BY user_id, sid ORDER BY user_id, session_start_us"),
      (s, d) => {
        val gapUs = 28800000000L
        val (srcDir, srcSchema) = fmgwsStagedSource(s, d)
        val src = s.readStream.schema(srcSchema).parquet(srcDir)
          .as[graft.streaming.StreamingJobs.Event](
            org.apache.spark.sql.Encoders.product[graft.streaming.StreamingJobs.Event])
        graft.streaming.StreamingJobs.drainToMemory(
            graft.streaming.StreamingJobs.sessionizeByGap(src, gapUs).toDF(),
            "fmgws_sessions")
          .filter(col("user_id") >= 0)
          .select(col("user_id"), col("session_start_us"), col("session_end_us"),
            col("n_events"), round(col("total_value"), 4).as("total_value"))
          .orderBy("user_id", "session_start_us")
      }),

    // stream-stream interval join (purchase→view attribution within 1h per
    // user) run in batch — the identical expression tree is the streaming
    // job (StreamingJobs.correlateStreams; watermarks are no-ops in batch);
    // StreamingSpec pins streaming output == this batch result
    QueryDef("stream_correlate", Some(
      "WITH e AS (SELECT event_id, user_id, ts, event_type FROM events) " +
        "SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id, " +
        "CAST(epoch_ns(p.ts) // 1000 - epoch_ns(v.ts) // 1000 AS BIGINT) AS delay_us " +
        "FROM (SELECT * FROM e WHERE event_type = 'view') v " +
        "JOIN (SELECT * FROM e WHERE event_type = 'purchase') p " +
        "ON v.user_id = p.user_id AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR " +
        "ORDER BY view_id, purchase_id"),
      (s, d) => {
        val e = T(s, d, "events").select("event_id", "user_id", "ts", "event_type")
        graft.streaming.StreamingJobs.correlateStreams(
            e.filter(col("event_type") === "view").drop("event_type"),
            e.filter(col("event_type") === "purchase").drop("event_type"),
            "user_id")
          .select(col("l.event_id").as("view_id"), col("r.event_id").as("purchase_id"),
            col("l.user_id").as("user_id"),
            (unix_micros(col("r.ts")) - unix_micros(col("l.ts"))).as("delay_us"))
          .orderBy("view_id", "purchase_id")
      }),

    // Batch twin of StreamingJobs.trendingTokens (ts synthesized from
    // doc_id — one doc per hour): per-6h-window token counts >= 10. The
    // streaming path itself (watermark-closed append, exactly-once emit) is
    // pinned in StreamingSpec against this exact computation.
    // The synthesized epoch is doc_id MOD 1e6 — identity at every driver
    // sf (ids are far smaller), but without the bound a large-corpus id
    // (the sf1 slice shifts ids by n·1e9) times 3600·1e6 µs overflows
    // LONG inside timestamp_seconds; real pipelines derive event time
    // from a bounded clock, not an unbounded id.
    QueryDef("stream_trending_tokens", Some(
      "WITH t AS (SELECT doc_id % 1000000 * 3600 AS ep, " +
        "unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> len(x) > 0)) AS term " +
        "FROM documents) " +
        "SELECT CAST(ep // 21600 * 21600 AS BIGINT) AS bucket_start, term, " +
        "CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1, 2 HAVING count(*) >= 10 " +
        "ORDER BY bucket_start, term"),
      (s, d) => {
        val docs = T(s, d, "documents")
          .select(timestamp_seconds(pmod(col("doc_id"), lit(1000000L)) * 3600)
            .as("ts"), col("text"))
        graft.streaming.StreamingJobs.trendingTokens(docs, "text", "6 hours", "1 day", 10L)
          .select(col("bucket_start").cast("long").as("bucket_start"),
            col("term"), col("n"))
          .orderBy("bucket_start", "term")
      }),

    QueryDef("stream_window_agg", Some(
      "SELECT CAST(CAST(floor(epoch(ts)/21600)*21600 AS BIGINT) AS BIGINT) AS bucket_start, " +
        "count(*) AS n, round(sum(value), 4) AS total_value FROM events GROUP BY 1"),
      (s, d) => T(s, d, "events")
        .groupBy((floor(col("ts").cast("long") / 21600) * 21600).cast("long").as("bucket_start"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total_value"))),

    // State-store observability: ACTUALLY runs the watermarked 6h windowed
    // aggregation as a stream (AvailableNow → noop sink) and reports the
    // final per-operator state metrics from StreamingQueryProgress. The
    // aggregation state holds one row per (open 6h window × event_type) —
    // deterministic for a given input, so the oracle counts the same
    // distinct groups from the batch side; memory is environment-dependent
    // and folds to a positivity check. This is the gauge a 100 TB streaming
    // deployment alarms on: state rows growing without bound = a
    // missing/ineffective watermark.
    QueryDef("stream_state_metrics", Some(
      "SELECT 'stateStoreSave' AS operator, CAST(count(*) AS BIGINT) AS state_rows, " +
        "TRUE AS memory_positive FROM " +
        "(SELECT DISTINCT floor(epoch(ts)/21600) AS w, event_type FROM events)"),
      (s, d) => {
        // streaming needs a fixed schema upfront — mirror whatever type the
        // batch reader sees for ts (long nanos in older testdata
        // generations, timestamp[us] in newer ones) and normalize the same
        // way T() does.
        val tsIsLong =
          s.read.parquet(s"$d/events.parquet").schema("ts").dataType == LongType
        val schema = StructType(Seq(
          StructField("event_id", LongType),
          StructField("ts", if (tsIsLong) LongType else TimestampType),
          StructField("user_id", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType), StructField("props", StringType)))
        // the sf tables are single files and the streaming file source
        // wants a directory — stream the sf dir with a glob pinned to the
        // events table
        val raw = streamTable(s, d, "events", schema)
        val ev = if (tsIsLong)
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        else raw
        val agg = ev.withWatermark("ts", "1 day")
          .groupBy(window(col("ts"), "6 hours"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        graft.streaming.StreamingJobs.stateMetrics(agg)
      }),

    // Streaming exact dedup run AS A STREAM end-to-end, absorbing a
    // simulated source REPLAY: the events stream unioned with itself
    // (every event arrives twice) flows through
    // dropDuplicatesWithinWatermark, and exactly the original events
    // survive — the at-least-once-source → exactly-once-output contract a
    // 100 TB ingest line relies on. Both replay copies carry identical
    // payloads, so the survivor set is deterministic and the oracle is
    // simply the events table. State is watermark-bounded (1 day).
    QueryDef("stream_dedup_replay", Some(
      "SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us, event_type, value " +
        "FROM events ORDER BY event_id"),
      (s, d) => {
        val tsIsLong =
          s.read.parquet(s"$d/events.parquet").schema("ts").dataType == LongType
        val schema = StructType(Seq(
          StructField("event_id", LongType),
          StructField("ts", if (tsIsLong) LongType else TimestampType),
          StructField("user_id", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType), StructField("props", StringType)))
        def src: DataFrame = {
          val raw = streamTable(s, d, "events", schema)
          if (tsIsLong) raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          else raw
        }
        val replayed = src.union(src).withColumn("event_hash", col("event_id"))
        // no final watermark flush: dedup survivors emit in the batch that
        // carries them; the trailing empty batch would only evict state
        graft.streaming.StreamingJobs.drainToMemory(
            graft.streaming.StreamingJobs.dedupStream(replayed), "stream_dedup",
            finalWatermarkFlush = false)
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))
          .orderBy("event_id")
      }),

    // Idempotent streaming append sink (K1's streaming twin) run
    // end-to-end TWICE: the events stream appends into an empty target;
    // the second drain (fresh checkpoint — a full source replay)
    // left-anti joins the CURRENT target and must insert 0 rows. The
    // final target therefore holds each event exactly once and the
    // oracle is simply the events table — a duplicate-appending replay
    // would double the row count and fail rows_match.
    QueryDef("stream_append_idempotent", Some(
      "SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us, event_type, value " +
        "FROM events ORDER BY event_id"),
      (s, d) => {
        val root = scratchRoot(s) + "/graft_append_q_" + d.replaceAll("[^A-Za-z0-9]", "_")
        val hp = new org.apache.hadoop.fs.Path(root)
        val fs = hp.getFileSystem(s.sessionState.newHadoopConf())
        if (fs.exists(hp)) fs.delete(hp, true)
        val target = s"$root/target"
        val tsIsLong =
          s.read.parquet(s"$d/events.parquet").schema("ts").dataType == LongType
        val schema = StructType(Seq(
          StructField("event_id", LongType),
          StructField("ts", if (tsIsLong) LongType else TimestampType),
          StructField("user_id", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType), StructField("props", StringType)))
        def src: DataFrame = {
          val raw = streamTable(s, d, "events", schema)
          val ev = if (tsIsLong)
            raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          else raw
          ev.select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))
        }
        graft.streaming.StreamingJobs.withDrainParallelism(s) {
          for (run <- 1 to 2) {
            val q = graft.streaming.StreamingJobs.idempotentAppendSink(src, target,
              keyCols = Seq("event_id"), checkpoint = s"$root/ckpt$run")
            q.awaitTermination()
          }
        }
        s.read.parquet(target).orderBy("event_id")
      }),

    // Streaming type-1 MERGE sink run end-to-end TWICE: the part table
    // seeds the target snapshot, the merge_upsert-shaped batch streams in
    // and full-outer-merges via the crash-safe snapshot swap, then a
    // SECOND drain (fresh checkpoint — a replay) re-merges the same rows
    // and must classify everything noop, leaving the snapshot unchanged.
    // The final target is the type-1 merge result, so the oracle is
    // merge_upsert's SQL minus the audit column. Pins the sink lifecycle
    // (foreachBatch merge, .next/.old swap, replay idempotence) in the
    // gate, not just unit tests.
    QueryDef("stream_upsert_snapshot", Some(
      "WITH src AS (" +
        "SELECT p_partkey, p_brand, p_retailprice + 1 AS p_retailprice FROM part WHERE p_partkey % 3 = 0 " +
        "UNION ALL SELECT p_partkey, p_brand, p_retailprice FROM part WHERE p_partkey % 3 = 1 " +
        "UNION ALL SELECT p_partkey + 1000000, 'NEW', 1.0 FROM part WHERE p_partkey % 97 = 0) " +
        "SELECT coalesce(t.p_partkey, s.p_partkey) AS p_partkey, " +
        "CASE WHEN s.p_partkey IS NOT NULL THEN s.p_brand ELSE t.p_brand END AS p_brand, " +
        "CASE WHEN s.p_partkey IS NOT NULL THEN s.p_retailprice ELSE t.p_retailprice END AS p_retailprice " +
        "FROM part t FULL OUTER JOIN src s ON t.p_partkey = s.p_partkey ORDER BY p_partkey"),
      (s, d) => {
        val root = scratchRoot(s) + "/graft_upsert_q_" + d.replaceAll("[^A-Za-z0-9]", "_")
        val hp = new org.apache.hadoop.fs.Path(root)
        val fs = hp.getFileSystem(s.sessionState.newHadoopConf())
        if (fs.exists(hp)) fs.delete(hp, true)
        val target = s"$root/target"
        T(s, d, "part").select("p_partkey", "p_brand", "p_retailprice")
          .write.parquet(target)
        val schema = StructType(Seq(
          StructField("p_partkey", LongType), StructField("p_name", StringType),
          StructField("p_brand", StringType), StructField("p_type", StringType),
          StructField("p_size", IntegerType),
          StructField("p_retailprice", DoubleType)))
        def srcStream: DataFrame = {
          val raw = streamTable(s, d, "part", schema)
          raw.filter(col("p_partkey") % 3 === 0)
            .select(col("p_partkey"), col("p_brand"),
              (col("p_retailprice") + 1).as("p_retailprice"))
            .unionByName(raw.filter(col("p_partkey") % 3 === 1)
              .select("p_partkey", "p_brand", "p_retailprice"))
            .unionByName(raw.filter(col("p_partkey") % 97 === 0)
              .select((col("p_partkey") + 1000000).as("p_partkey"),
                lit("NEW").as("p_brand"), lit(1.0).as("p_retailprice")))
        }
        // first drain merges; second drain (fresh checkpoint = a replay)
        // must be all-noop — a non-idempotent merge would double-apply
        // the +1 update and hash-fail the price column
        graft.streaming.StreamingJobs.withDrainParallelism(s) {
          for (run <- 1 to 2) {
            val q = graft.streaming.StreamingJobs.upsertSink(srcStream, target,
              keyCols = Seq("p_partkey"), attrCols = Seq("p_brand", "p_retailprice"),
              orderCol = "p_retailprice", checkpoint = s"$root/ckpt$run")
            q.awaitTermination()
          }
        }
        s.read.parquet(target).orderBy("p_partkey")
      }),

    // Streaming corpus admission vs a static history index, run AS A
    // STREAM: even-id docs form the already-ingested digest history
    // (static side, no state store — re-planned per microbatch); the full
    // corpus streams in, and a doc is admitted only if its digest is
    // absent from history AND unseen in-stream (watermark-bounded dedup
    // absorbs in-stream duplicate texts). Which doc_id survives an
    // in-stream duplicate group depends on partition arrival order, so
    // the row emits the admitted DIGEST SET — deterministic by
    // construction — and the oracle recomputes it as odd-id distinct
    // digests minus the even-id digest set (DuckDB md5 == Spark md5).
    QueryDef("stream_admit_history", Some(
      "SELECT DISTINCT md5(text) AS digest FROM documents WHERE doc_id % 2 = 1 " +
        "AND md5(text) NOT IN (SELECT md5(text) FROM documents WHERE doc_id % 2 = 0) " +
        "ORDER BY digest"),
      (s, d) => {
        val hist = T(s, d, "documents").filter(col("doc_id") % 2 === 0)
          .select(md5(col("text")).as("digest"))
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType), StructField("source", StringType),
          StructField("n_chars", LongType)))
        val src = streamTable(s, d, "documents", schema)
          .filter(col("doc_id") % 2 === 1)
          // event time synthesized from the id (one doc per hour, id MOD
          // 1e6 — identity at driver sfs, overflow-safe at sf1's shifted
          // ids) — the watermark column the in-stream dedup state is
          // bounded by
          .withColumn("ts",
            timestamp_seconds(pmod(col("doc_id"), lit(1000000L)) * 3600))
          .select("doc_id", "text", "ts")
        // admission = dedup + stream-static anti join — both emit in the
        // carrying batch; skip the trailing watermark-only batch
        graft.streaming.StreamingJobs.drainToMemory(
            graft.streaming.StreamingJobs.admitStream(src, hist), "stream_admit",
            finalWatermarkFlush = false)
          .select(md5(col("text")).as("digest"))
          .distinct()
          .orderBy("digest")
      }),

    // Streaming PERCEPTUAL admission — the near-dup twin of
    // stream_admit_history: the REAL stream runs TWICE against the same
    // target (fresh checkpoint), each batch admitting only signatures
    // with no history signature within hamming ≤ 3 via the banded
    // probe-vs-index join (Dedup.bitstringHits), idempotently appended
    // (run 2 inserts nothing). Signatures are closed-form 64-bit
    // strings: odd (stream) ids flip the first (fam % 6) bits of their
    // even twin's base pattern, so admission flips exactly at the
    // hamming>3 boundary and the oracle replays the full
    // NOT-EXISTS-within-3 predicate bit-by-bit. Output is the admitted
    // signature SET (arrival-order independent).
    QueryDef("stream_admit_near", Some(
      "WITH h AS (SELECT doc_id, doc_id // 2 AS fam FROM documents WHERE doc_id % 2 = 0), " +
        "s AS (SELECT doc_id, doc_id // 2 AS fam, (doc_id // 2) % 6 AS m " +
        "FROM documents WHERE doc_id % 2 = 1), " +
        "hbit AS (SELECT doc_id, g.i AS w, CASE WHEN (fam*31 + g.i*g.i*5) % 64 < 32 " +
        "THEN '1' ELSE '0' END AS bit FROM h, " +
        "LATERAL (SELECT unnest(generate_series(0, 63)) AS i) g), " +
        "sbit AS (SELECT doc_id, g.i AS w, CASE WHEN " +
        "((fam*31 + g.i*g.i*5) % 64 < 32) <> (g.i < m) THEN '1' ELSE '0' END AS bit " +
        "FROM s, LATERAL (SELECT unnest(generate_series(0, 63)) AS i) g), " +
        "hsig AS (SELECT doc_id, string_agg(bit, '' ORDER BY w) AS sig " +
        "FROM hbit GROUP BY doc_id), " +
        "ssig AS (SELECT doc_id, string_agg(bit, '' ORDER BY w) AS sig " +
        "FROM sbit GROUP BY doc_id), " +
        // per (stream sig, history sig) hamming via position unnest —
        // DuckDB lambdas cannot correlate the outer row, so the bit
        // comparison rides a LATERAL series. The cross runs over the
        // DISTINCT sig sets: grouping doc-level rows by sig string would
        // sum each position difference once per duplicate doc pair
        "ssd AS (SELECT DISTINCT sig FROM ssig), " +
        "hsd AS (SELECT DISTINCT sig FROM hsig), " +
        "hm AS (SELECT ss.sig, hh.sig AS hsig, " +
        "sum(CASE WHEN substr(ss.sig, CAST(g.i AS INT), 1) <> " +
        "substr(hh.sig, CAST(g.i AS INT), 1) THEN 1 ELSE 0 END) AS ham " +
        "FROM ssd ss, hsd hh, " +
        "LATERAL (SELECT unnest(generate_series(1, 64)) AS i) g " +
        "GROUP BY 1, 2), " +
        "near AS (SELECT DISTINCT sig FROM hm WHERE ham <= 3) " +
        "SELECT sig FROM ssd WHERE sig NOT IN (SELECT sig FROM near) " +
        "ORDER BY sig"),
      (s, d) => {
        import s.implicits._
        def sigOf(id: Long): String = {
          val fam = id / 2
          val m = (fam % 6).toInt
          val sb = new java.lang.StringBuilder(64)
          var w = 0
          while (w < 64) {
            val base = (fam * 31 + w.toLong * w * 5) % 64 < 32
            val bit = base ^ (id % 2 == 1 && w < m) // odd = perturbed twin
            sb.append(if (bit) '1' else '0')
            w += 1
          }
          sb.toString
        }
        val root = scratchRoot(s) + "/graft_admitnear_q_" + d.replaceAll("[^A-Za-z0-9]", "_")
        val hp = new org.apache.hadoop.fs.Path(root)
        val fs = hp.getFileSystem(s.sessionState.newHadoopConf())
        if (fs.exists(hp)) fs.delete(hp, true)
        val target = s"$root/target"
        val hist = T(s, d, "documents").filter(col("doc_id") % 2 === 0)
          .select("doc_id").as[Long].map(id => Tuple1(sigOf(id))).toDF("sig")
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType), StructField("source", StringType),
          StructField("n_chars", LongType)))
        def src: DataFrame = streamTable(s, d, "documents", schema)
          .filter(col("doc_id") % 2 === 1)
          .select("doc_id").as[Long]
          .map(id => (id, sigOf(id))).toDF("doc_id", "sig")
        graft.streaming.StreamingJobs.withDrainParallelism(s) {
          for (run <- 1 to 2) { // run 2 = full replay: must insert nothing
            val q = graft.streaming.StreamingJobs.admitNearSink(src, hist,
              target, s"$root/ckpt$run", "doc_id", "sig")
            q.awaitTermination()
          }
        }
        s.read.parquet(target).select("sig").distinct().orderBy("sig")
      }),

    // Streaming Gopher gate run AS A STREAM end-to-end (readStream →
    // row-local rules → append memory sink, AvailableNow drain) — the
    // 100 TB ingest-gate shape: stateless, zero state store, throughput
    // bounded by source read. The oracle is the SAME rule replay as the
    // batch row (one source of truth), so this row pins the full
    // streaming lifecycle — not just the expression tree — against batch
    // semantics.
    QueryDef("stream_gopher_gate", Some(gopherRulesOracleSql),
      (s, d) => {
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType), StructField("source", StringType),
          StructField("n_chars", LongType)))
        val docs = streamTable(s, d, "documents", schema)
          .select("doc_id", "text")
        graft.streaming.StreamingJobs.gopherGate(docs, "text")
          .drop("text")
          .orderBy("doc_id")
      }),

    // Stream-static spatial enrichment run AS A STREAM end-to-end: the
    // synthetic customer points arrive on a stream (self-unioned, so every
    // event_hash is replayed once), PIP-join against the broadcast rect-cell
    // dim — the batch path's exact bbox-prefilter + codegen-PIP plan, no
    // state for the static side — and watermark-bounded dedup absorbs the
    // replay to exactly-once output. The oracle is the BATCH j2-style PIP
    // join over the same closed-form synthesis (the cells are disjoint and
    // the .x5-offset points never touch a border, so the stream's
    // first-joined-row survivor rule is deterministic here). Pins the last
    // streaming behavior (enrichPoints) that had only unit coverage.
    QueryDef("stream_enrich_points", Some(
      s"WITH p AS ($ptsSql), c AS ($cellsSql) " +
        "SELECT CAST(p.c_custkey AS VARCHAR) AS event_hash, p.lon, p.lat, c.n_name " +
        "FROM p LEFT JOIN c ON p.lon > c.min_lon AND p.lon < c.max_lon " +
        "AND p.lat > c.min_lat AND p.lat < c.max_lat " +
        "ORDER BY p.c_custkey"),
      (s, d) => {
        val schema = StructType(Seq(
          StructField("c_custkey", LongType), StructField("c_name", StringType),
          StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
          StructField("c_mktsegment", StringType)))
        val src = streamTable(s, d, "customer", schema)
          .select(col("c_custkey"),
            ((col("c_custkey") * 7919 % 3600) / 10.0 - 179.95).as("lon"),
            ((col("c_custkey") * 104729 % 1700) / 10.0 - 84.95).as("lat"))
          .withColumn("event_hash", col("c_custkey").cast("string"))
          // event time from the id — the watermark column bounding the
          // replay-dedup state. Base epoch 1e9 (2001): key 0 at epoch 0
          // would sit exactly ON the initial watermark and be dropped late
          .withColumn("ts", timestamp_seconds(col("c_custkey") * 60 + 1000000000L))
          .select("event_hash", "ts", "lon", "lat", "c_custkey")
        val replayed = src.unionByName(src) // every event arrives twice
        val dim = cells(s, d).withColumn("geom", rectGeom)
        // broadcast PIP join + replay dedup both emit in the carrying
        // batch; skip the trailing watermark-only batch
        graft.streaming.StreamingJobs.drainToMemory(
            graft.streaming.StreamingJobs.enrichPoints(replayed, dim),
            "stream_enrich", finalWatermarkFlush = false)
          .select("event_hash", "lon", "lat", "n_name", "c_custkey")
          .orderBy("c_custkey")
          .drop("c_custkey")
      }),
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
