package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** URL canonicalization — the key of web-crawl deduplication.
  *
  * Crawl pipelines (C4, RefinedWeb, CommonCrawl dedup) key documents by a
  * NORMALIZED form of their fetch URL: the same page is otherwise counted
  * once per scheme-case / www-prefix / default-port / tracking-param /
  * trailing-slash / fragment variant, and URL-level dedup silently stops
  * working. The rules here are the standard RFC 3986 syntax-based
  * normalizations plus tracking-parameter (utm_*) removal:
  *
  *  1. fragment dropped (`#...` is client-side only);
  *  2. `utm_*` query parameters removed, separators repaired, a
  *     now-empty query dropped;
  *  3. scheme and host lowercased; a `www.` host prefix dropped;
  *  4. default ports stripped (`:80` for http, `:443` for https);
  *  5. trailing path slashes dropped (an empty path becomes `/`).
  *
  * Everything is built from codegen'd string expressions — a row-local
  * scan stage with NO shuffle and no UDF: at corpus scale the canonical
  * key is computed inline in whatever stage already reads the row (usually
  * the dedup digest aggregate). Regex is reserved for the parts that need
  * it (scheme strip, port digits, utm params); splitting/trimming runs on
  * `substring_index`/`rtrim`, which cost a plain byte scan per row where
  * an anchored java.util.regex pattern costs an engine invocation (the
  * round-11 `web_url_canonical` hot spot). Oracle parity: every remaining
  * regex is RE2-safe (works identically in DuckDB's regexp_* family).
  */
object Web {

  /** Scheme-relative remainder after `scheme://`. */
  private def afterScheme(u: Column): Column =
    regexp_replace(u, "^[A-Za-z][A-Za-z0-9+.-]*://", "")

  /** Authority component (host[:port]) of a scheme-relative remainder:
    * the leading run up to the first `/`, `?` or `#` — the non-regex
    * equivalent of extracting `^([^/?#]+)`. */
  private def authority(rest: Column): Column =
    substring_index(substring_index(substring_index(rest, "/", 1), "?", 1), "#", 1)

  /** Lowercased host with any `www.` prefix and `:port` dropped. The
    * leading fragment strip is a no-op for the result (authority stops at
    * `#` anyway) but makes the whole subtree IDENTICAL to the host subtree
    * inside [[canonicalUrl]], so a projection computing both runs the
    * scheme-strip/authority/host regex chain ONCE per row via codegen
    * subexpression elimination. */
  def urlHost(u: Column): Column =
    regexp_replace(lower(authority(afterScheme(substring_index(u, "#", 1)))),
      "^www\\.|:[0-9]+$", "")

  /** The parsed public-suffix snapshot, by PSL rule class.
    *
    * @param lit2  two-label literal rules (`co.uk`)
    * @param lit3  three-label literal rules (`k12.ma.us`)
    * @param wild2 TLDs of `*.X` rules (stores `X`, e.g. `ck`)
    * @param wild3 bases of `*.Y.X` rules (stores `Y.X`, e.g. `kawasaki.jp`)
    * @param exc2  two-label exception hosts (`www.ck` from `!www.ck`)
    * @param exc3  three-label exception hosts (`city.kawasaki.jp`)
    * @param lit4  four-label literal rules (`pvt.k12.ma.us`)
    * @param wild4 bases of `*.Z.Y.X` rules (stores `Z.Y.X`, e.g.
    *              `compute.amazonaws.com`)
    */
  final case class PslRules(lit2: Seq[String], lit3: Seq[String],
                            wild2: Seq[String], wild3: Seq[String],
                            exc2: Seq[String], exc3: Seq[String],
                            lit4: Seq[String] = Nil, wild4: Seq[String] = Nil)

  /** Public-suffix rules (publicsuffix.org ICANN-section syntax), loaded
    * at plan-build time from the bundled snapshot resource
    * `graft/public_suffix_snapshot.txt` (~900 rules: two-label literals
    * across ~80 ccTLDs, the US `k12/cc/lib.<state>.us` three-label trees
    * and their `pvt.k12.<state>.us` four-label leaves, the `*.bd`-family
    * wildcard ccTLDs, the Japanese ordinance-city `*.<city>.jp` wildcards,
    * the `*.compute.amazonaws.com`-class private-section wildcards, and
    * the `!www.ck` / `!city.<city>.jp` exceptions). Every lookup in
    * [[registeredDomain]] is a set MEMBERSHIP over a candidate suffix,
    * which Catalyst compiles to an `InSet` O(1) hash-set probe inside
    * codegen at any list size (the sets ship to executors inside the
    * generated class, the codegen analog of a broadcast map — no join, no
    * shuffle, still row-local in the scan stage). The snapshot also
    * carries a curated PRIVATE-section block (`github.io`-style hosting
    * platforms — plain literal rules, no code path of their own).
    * 5+-label rules do not exist in the published PSL; the classes here
    * cover it exhaustively. Refreshing the snapshot = replacing the
    * resource file; rule classes are recognized from the syntax, no code
    * changes. */
  val publicSuffixRules: PslRules = {
    val in = getClass.getResourceAsStream("/graft/public_suffix_snapshot.txt")
    require(in != null, "missing resource graft/public_suffix_snapshot.txt")
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toVector
      finally in.close()
    def labels(s: String) = s.count(_ == '.') + 1
    val (excLines, rest) = lines.partition(_.startsWith("!"))
    val (wildLines, litLines) = rest.partition(_.startsWith("*."))
    val exc = excLines.map(_.stripPrefix("!"))
    val wild = wildLines.map(_.stripPrefix("*."))
    PslRules(
      lit2 = litLines.filter(labels(_) == 2),
      lit3 = litLines.filter(labels(_) == 3),
      wild2 = wild.filter(labels(_) == 1),
      wild3 = wild.filter(labels(_) == 2),
      exc2 = exc.filter(labels(_) == 2),
      exc3 = exc.filter(labels(_) == 3),
      lit4 = litLines.filter(labels(_) == 4),
      wild4 = wild.filter(labels(_) == 3))
  }

  /** Registered domain under the PSL algorithm: the public suffix of the
    * prevailing rule plus one more label. Precedence follows the PSL spec
    * — an exception rule beats everything (its suffix is the rule minus
    * the leading label, so the exception host itself IS the registered
    * domain), otherwise the longest matching rule wins (four-label
    * literal / `*.Z.Y.X` wildcard before three-label literal / `*.Y.X`
    * wildcard before two-label literal / `*.X` wildcard before the
    * default `X` rule). A host that IS a bare suffix (no extra label to
    * take) falls back to itself, and a single-label host yields ''.
    *
    * Compiled to ONE codegen expression node
    * ([[graft.plans.RegisteredDomainExpr]]): one backward scan extracts
    * every label suffix, at most eight O(1) hash-set probes decide the
    * rule — no per-row regex, no shuffle, no Expand. The earlier `when`
    * chain over `substring_index`+InSet had the same RUNTIME shape but
    * substituted the host subtree ~25× into the plan, and the analyzer/
    * optimizer re-walk of that tree cost ~1 s of driver time per
    * `web_domain_cap` build (round-12 regression); the opaque node keeps
    * the tree at host+1. */
  def registeredDomain(host: Column, rules: PslRules = publicSuffixRules): Column =
    graft.plans.RegisteredDomainExpr(host,
      if (rules eq publicSuffixRules) defaultPslSets else toSets(rules))

  private def toSets(r: PslRules): graft.plans.UrlKernel.PslSets =
    graft.plans.UrlKernel.pslSets(r.lit2, r.lit3, r.lit4,
      r.wild2, r.wild3, r.wild4, r.exc2, r.exc3)

  /** Shared sets instance for the default snapshot, so every plan using
    * the default rules references ONE object (and expression equality /
    * subexpression elimination see identical nodes). */
  private lazy val defaultPslSets = toSets(publicSuffixRules)

  /** The full canonical URL (rules 1–5 above). Regex appears exactly four
    * times per row — the scheme strip, the host www/port strip, the port
    * digits, the utm parameter removal — everything else is
    * `substring_index`/`rtrim`/`substr` byte scans (the round-11 hot-spot
    * fix: the prior form ran ~8 full-string java.util.regex passes). */
  def canonicalUrl(u: Column): Column = {
    val noFrag = substring_index(u, "#", 1)
    val rest = afterScheme(noFrag)
    // the scheme is exactly the prefix afterScheme removed (minus '://'),
    // so it needs no second regex pass
    val schemeLen = length(noFrag) - length(rest)
    val scheme = when(schemeLen > 3, lower(noFrag.substr(lit(1), schemeLen - 3)))
      .otherwise("")
    val hostPort = authority(rest)
    val host = regexp_replace(lower(hostPort), "^www\\.|:[0-9]+$", "")
    val port = regexp_extract(hostPort, ":([0-9]+)$", 1)
    val keepPort = port =!= "" &&
      !((scheme === "http" && port === "80") ||
        (scheme === "https" && port === "443"))
    val portSuffix = when(keepPort, concat(lit(":"), port)).otherwise("")
    val tail = afterPrefix(rest, hostPort)
    val path = substring_index(tail, "?", 1)
    val canonPath = {
      // StringTrimRight built directly: the two-arg rtrim FUNCTION form is
      // deprecated in Spark 4 and warns on every plan build
      val trimmed = org.apache.spark.sql.graftbridge.ColumnBridge.column(
        org.apache.spark.sql.catalyst.expressions.StringTrimRight(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(path),
          Some(org.apache.spark.sql.catalyst.expressions.Literal("/"))))
      when(trimmed === "", "/").otherwise(trimmed)
    }
    // rule 2 runs on the QUERY STRING ONLY — a path segment or a param
    // whose NAME merely contains "utm_" (xutm_source) must survive. Each
    // removed param takes its LEADING separator; if the first surviving
    // param then dangles after '&', it is promoted back to '?'.
    val rawQuery = afterPrefix(tail, path)
    val stripped = regexp_replace(rawQuery, "(?i)[?&]utm_[A-Za-z0-9_]*=[^&]*", "")
    val query = when(stripped === "", "")
      .when(stripped.startsWith("&"),
        concat(lit("?"), stripped.substr(lit(2), length(stripped))))
      .otherwise(stripped)
    concat(scheme, lit("://"), host, portSuffix, canonPath, query)
  }

  /** Exact-integer teleport base: 1e9 total mass split evenly over `n`
    * nodes. Guarded — at n ≥ 1e9 the integer division would silently
    * yield base = 0 (every rank collapses toward 0 and the "sum ≤ 1e9"
    * invariant degenerates); such graphs need a larger mass unit (e12),
    * so fail loudly instead. */
  private[graft] def teleportBaseE9(n: Long): Long = {
    require(n > 0, "empty node set")
    require(n < 1000000000L,
      s"pageRankE9 supports n < 1e9 nodes (got $n): 1e9 div n would be 0 — " +
        "rescale to a larger mass unit for bigger graphs")
    1000000000L / n
  }

  /** PageRank power iteration in exact integer micro-units — link-graph
    * authority scoring, the canonical iterative join+aggregate of web-scale
    * corpora (crawl frontier prioritization, quality priors for training-
    * data selection).
    *
    * All arithmetic is BIGINT in 1e-9 units with integer division, so the
    * result is bit-identical under ANY partitioning/fold order (BIGINT sums
    * commute exactly; doubles would drift by partition count) and exactly
    * replayable by an unrolled SQL oracle. Per iteration, each node sends
    * `rank_e9 div out_degree` along every out-edge and re-forms as
    * `(15·base + 85·inflow) div 100` (damping 0.85, teleport base =
    * 1e9 div N); nodes with no in-edges keep the teleport term via the
    * left join. Mass from dangling nodes (no out-edges) leaks by default —
    * the documented bit-reproducible variant the gate row replays — or is
    * redistributed evenly when `redistributeDangling` is set: each
    * iteration adds `danglingMass div n` to every node's inflow (still
    * exact integer arithmetic, still fold-order invariant; the per-node
    * share rounds down, so total mass stays ≤ 1e9).
    *
    * Scale shape: the edge list (src, dst, odeg) is the standing structure
    * — built ONCE (one groupBy + one join) and persisted; every iteration
    * is then exactly one join shuffled on src=id and one aggregate shuffled
    * on dst, both O(E), no driver-side state beyond the node count. On a
    * cluster the edge table would be written bucketed by src so the
    * per-iteration join reuses its partitioning (the mart_bucketed_join
    * technique); hot dsts (popular pages) are plain aggregate skew, which
    * AQE splits. With the default lazy mode, iteration count is a fixed
    * small constant (rank deltas shrink geometrically), so total cost is
    * k·O(E) — no convergence scan. With `convergeDeltaE9 ≥ 0`,
    * `iterations` becomes a CAP: each iteration materializes (the same
    * lineage-truncating localCheckpoint the every-8-rounds path already
    * pays) with an `Observation` riding the materializing job — no second
    * pass — and the loop stops early once Σ|Δrank_e9| ≤ convergeDeltaE9.
    *
    * @param edges (src, dst) BIGINT pairs; multi-edges count multiply
    * @param nodes one `id` BIGINT column, the rank domain
    * @param redistributeDangling share dangling-node mass evenly per
    *                             iteration instead of leaking it
    * @param convergeDeltaE9 when ≥ 0, stop once Σ|Δrank| ≤ this (in e-9
    *                        units); negative (default) keeps the fully
    *                        lazy fixed-k plan
    * @return (id, rank_e9) — Σ rank_e9 ≤ 1e9, < only by leak/rounding
    */
  def pageRankE9(edges: org.apache.spark.sql.DataFrame,
                 nodes: org.apache.spark.sql.DataFrame,
                 iterations: Int,
                 redistributeDangling: Boolean = false,
                 convergeDeltaE9: Long = -1L): org.apache.spark.sql.DataFrame = {
    require(iterations >= 1 && iterations <= 50, "iterations in [1, 50]")
    val n = nodes.count()
    val base = teleportBaseE9(n)
    // standing edge structure: out-degree attached once, persisted for the
    // k iteration joins (released via CacheRegistry like the dedup marts).
    // NOTE (round-18 measurement): unlike the CC loop, this chain is LAZY
    // (k fixed iterations in one plan) and was measured FASTER with AQE
    // left ON — an AQE-off cloned session (the CC recipe) cut the job
    // count 71→15 on the dangling gate row but nearly doubled its wall
    // (0.97→1.83 s steady): AQE's partition coalescing on the tiny
    // label-frame shuffles beats the static plan's fixed-partition
    // sort-merge stages, and the AQE mini-jobs overlap (gap≈0). Kept on.
    val odeg = edges.groupBy("src").agg(count(lit(1)).as("odeg"))
    val edgesW = graft.CacheRegistry.register(
      edges.join(odeg, "src")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val ids = nodes.select(col("id"))
    // dangling = nodes with no out-edges — ITERATION-INVARIANT, so it is
    // persisted instead of re-deriving the anti-join (edge scan + probe)
    // inside every iteration's dmass lineage; the per-iteration mass
    // aggregate still enters each node's inflow as ONE broadcast scalar
    // row (lazy — no driver action; the cache fills on the first
    // iteration's stage and later iterations read it)
    lazy val dangling = graft.CacheRegistry.register(
      ids.join(edgesW.select(col("src").as("id")), Seq("id"), "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    var ranks = ids.withColumn("rank_e9", lit(base))
    var converged = false
    var i = 1
    while (i <= iterations && !converged) {
      val inflow = edgesW.join(ranks, col("src") === col("id"))
        .select(col("dst"), expr("rank_e9 div odeg").as("c"))
        .groupBy("dst").agg(sum("c").as("inflow"))
      val joined = ids.join(inflow, col("id") === col("dst"), "left")
      val withDangling =
        if (redistributeDangling) {
          val dmass = ranks.join(dangling, Seq("id"))
            .agg(coalesce(sum("rank_e9"), lit(0L)).as("dmass"))
          joined.crossJoin(dmass) // 1-row side → broadcast NL join, stays lazy
            .select(col("id"),
              expr(s"(${15L * base} + 85 * (coalesce(inflow, 0) + dmass div $n)) div 100")
                .as("rank_e9"))
        } else
          joined.select(col("id"),
            expr(s"(${15L * base} + 85 * coalesce(inflow, 0)) div 100")
              .as("rank_e9"))
      if (convergeDeltaE9 >= 0L) {
        // convergence mode: materialize this iteration (lineage truncation
        // comes for free) and read Σ|Δ| off the SAME job via Observation
        val obs = org.apache.spark.sql.Observation(s"pagerank_delta_$i")
        val next = withDangling
          .join(ranks.withColumnRenamed("rank_e9", "prev_e9"), Seq("id"))
          .observe(obs, sum(abs(col("rank_e9") - col("prev_e9"))).as("delta"))
          .select(col("id"), col("rank_e9"))
          .localCheckpoint(true)
        val delta = obs.get("delta") match {
          case null => 0L
          case d: java.lang.Long => d.longValue()
          case d => d.toString.toLong
        }
        ranks = next
        converged = delta <= convergeDeltaE9
      } else {
        ranks = withDangling
        // production PageRank runs 20-40 iterations; unbounded lineage makes
        // analysis/planning time itself grow per round. Truncate every 8
        // rounds (same recipe as the CC loop) — never reached by the
        // 3-iteration gate row, exercised by the 10-iteration spec.
        if (i % 8 == 0 && i < iterations) ranks = ranks.localCheckpoint(true)
      }
      i += 1
    }
    ranks
  }

  /** `s` minus its `prefix` (both columns; prefix is always a true
    * prefix of s here). */
  private def afterPrefix(s: Column, prefix: Column): Column =
    s.substr(length(prefix) + 1, length(s))
}
