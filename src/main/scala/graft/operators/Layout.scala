package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) data layout: min/max-normalize two key columns into a
  * `bits`-wide integer range, interleave their bits, and sort/partition by
  * the resulting code so rows close in BOTH dimensions cluster together —
  * the multi-dimensional clustering trick behind parquet min/max data
  * skipping (Delta/Iceberg `ZORDER BY`, which likewise range-normalize
  * before interleaving so the code space is filled at any key scale).
  *
  * At 100 TB the operator pairs with
  * `df.repartitionByRange(n, code).sortWithinPartitions(code)` before the
  * write: every file then covers a small rectangle of the key space, and a
  * 2-D predicate prunes all but O(√files) of them from the scan. The code
  * itself is codegen'd integer arithmetic (sub/mul/div/shift/mask/or) —
  * row-local apart from the one tiny min/max aggregate, which broadcasts.
  *
  * The code is 2-column, all-integer arithmetic kept in lockstep with a
  * DuckDB SQL mirror ([[zorderStatsSql]]), so the layout quality claim
  * itself is oracle-checkable; a double-based grid scaling would be fine
  * for layout but not bit-reproducible in an external engine.
  */
object Layout {

  /** Morton code: bit i of `x` lands at position 2i, bit i of `y` at
    * 2i+1. Inputs are masked to `bits` low bits first. */
  def zorderCode(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    val mask = (1L << bits) - 1
    val xm = x.cast("long").bitwiseAND(lit(mask))
    val ym = y.cast("long").bitwiseAND(lit(mask))
    (0 until bits).map { i =>
      val xb = shiftleft(shiftright(xm, i).bitwiseAND(lit(1L)), 2 * i)
      val yb = shiftleft(shiftright(ym, i).bitwiseAND(lit(1L)), 2 * i + 1)
      xb.bitwiseOR(yb)
    }.reduce(_.bitwiseOR(_))
  }

  /** The same Morton formula as SQL text (DuckDB-compatible), kept in
    * lockstep with [[zorderCode]] so oracles can recompute the code.
    * `x`/`y` may be arbitrary (parenthesized) integer expressions. */
  def zorderCodeSql(x: String, y: String, bits: Int): String = {
    val mask = (1L << bits) - 1
    val terms = (0 until bits).flatMap { i =>
      Seq(s"((((($x) & $mask) >> $i) & 1) << ${2 * i})",
        s"((((($y) & $mask) >> $i) & 1) << ${2 * i + 1})")
    }
    terms.mkString(" | ")
  }

  /** Floor-scale a key into [0, 2^bits): the (key − lo) × mask product is
    * computed as DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) so it cannot
    * overflow even for full-64-bit key spans (epoch-micros, snowflake
    * ids, hashes — a long multiply would wrap silently with ANSI off),
    * and integral div keeps the quotient exact on both engines. Column
    * expressions, not spliced SQL text (the gopherRules rule): a column
    * name needing backticks (dots/spaces) would parse wrong — and a
    * crafted name would be interpreted as SQL. Formula mirrored in
    * [[scaleSql]]. */
  private def scaleExpr(c: String, lo: String, hi: String, bits: Int): Column = {
    val mask = (1L << bits) - 1
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val num = (col(c).cast(dec) - col(lo)) * lit(mask)
    val den = greatest(col(hi).cast(dec) - col(lo), lit(1))
    try_divide(num - pmod(num, den), den).cast("long")
  }

  private def scaleSql(c: String, lo: String, hi: String, bits: Int): String = {
    val mask = (1L << bits) - 1
    s"((CAST($c AS HUGEINT) - $lo) * $mask // greatest(CAST($hi AS HUGEINT) - $lo, 1))"
  }

  /** Layout audit: min/max-normalize both dimensions into the `bits`-wide
    * grid, Morton-interleave, and assign each row to one of
    * 2^`bucketBits` equal code-range buckets (the files a z-ordered write
    * would produce). Reports each bucket's row count and per-dimension
    * min/max span — narrow spans in BOTH columns are the whole point:
    * they are what makes file-footer min/max pruning effective for 2-D
    * predicates. One broadcast stats row + one row-local projection + one
    * small groupBy shuffle.
    */
  def zorderStats(df: DataFrame, xCol: String, yCol: String, bits: Int,
                  bucketBits: Int): DataFrame = {
    require(bucketBits >= 1 && bucketBits <= 2 * bits, "bucketBits out of range")
    val stats = df.agg(
      min(col(xCol)).cast("long").as("__xlo"), max(col(xCol)).cast("long").as("__xhi"),
      min(col(yCol)).cast("long").as("__ylo"), max(col(yCol)).cast("long").as("__yhi"))
    val code = zorderCode(
      scaleExpr(xCol, "__xlo", "__xhi", bits),
      scaleExpr(yCol, "__ylo", "__yhi", bits), bits)
    df.crossJoin(broadcast(stats))
      .select(col(xCol), col(yCol),
        shiftright(code, 2 * bits - bucketBits).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        min(col(xCol)).as(s"min_$xCol"), max(col(xCol)).as(s"max_$xCol"),
        min(col(yCol)).as(s"min_$yCol"), max(col(yCol)).as(s"max_$yCol"))
  }

  /** DuckDB oracle for [[zorderStats]] over table `table` — the identical
    * normalize→interleave→bucket formula, rebuilt as SQL text. */
  def zorderStatsSql(table: String, xCol: String, yCol: String, bits: Int,
                     bucketBits: Int): String = {
    val inter = zorderCodeSql(
      scaleSql(xCol, "xlo", "xhi", bits),
      scaleSql(yCol, "ylo", "yhi", bits), bits)
    s"WITH st AS (SELECT CAST(min($xCol) AS BIGINT) AS xlo, CAST(max($xCol) AS BIGINT) AS xhi, " +
      s"CAST(min($yCol) AS BIGINT) AS ylo, CAST(max($yCol) AS BIGINT) AS yhi FROM $table) " +
      // the HUGEINT scale arithmetic must not leak into the FINAL schema
      // (the gate canonicalizes HUGEINT to float64; Spark ships int64)
      s"SELECT CAST((($inter) >> ${2 * bits - bucketBits}) AS BIGINT) AS bucket, count(*) AS n_rows, " +
      s"min($xCol) AS min_$xCol, max($xCol) AS max_$xCol, " +
      s"min($yCol) AS min_$yCol, max($yCol) AS max_$yCol " +
      s"FROM $table, st GROUP BY 1"
  }
}
