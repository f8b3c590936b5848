package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Integer-space seals for `round(x, 4)` over EXACT rationals.
  *
  * The failure mode (q231, then q219): when `x = num/den` of exact
  * integers lands exactly on a .00005 boundary, no double represents it.
  * Spark's round (BigDecimal.setScale on the double's exact binary
  * expansion) and DuckDB's round (multiply-by-10⁴ first, where the
  * product can RE-LAND exactly on a representable half) then round
  * opposite ways, and the engines diverge by one ulp of the 4th decimal.
  * Transcendental-composed values (ln/exp/sqrt of non-degenerate
  * arguments) can't hit a boundary exactly, and values already in 1e-4
  * units make round(,4) a no-op — only the exact-rational seals need
  * this device. PLANS.md §seal-audit carries the full classification.
  *
  * `round(num/den, 4)` (half away from zero) is computed as the exact
  * rational `(2·|num|·10⁴ + den) div (2·den)` in 1e-4 units with the
  * sign re-applied, then one exact display division by 10⁴. Operands go
  * through decimal(38,0) so `2·num·10⁴` cannot overflow a long for
  * 1e-9/1e-12-quantized numerators; both engines divide POSITIVE
  * integers only, so floor-vs-truncate conventions can't differ.
  *
  * The expr-string spelling requires NAMED columns (the q219/q231
  * pattern): stage `num`/`den` with `.withColumn` first when the
  * operands are compound expressions.
  */
object Seal {
  private def d(name: String) = s"CAST($name AS DECIMAL(38,0))"

  private def idiv(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorExprs.idiv(a, b)

  /** Column-expression form of [[ratio4]] for call sites without named
    * operands (shared Column helpers). Both operands evaluate twice —
    * prefer the named form in aggregation tails. */
  def ratio4c(num: Column, den: Column): Column = {
    val n38 = num.cast("decimal(38,0)")
    val d0 = den.cast("decimal(38,0)")
    (when(num < 0,
        -idiv(lit(2).cast("decimal(38,0)") * -n38 * 10000 + d0,
          lit(2).cast("decimal(38,0)") * d0))
      .otherwise(idiv(lit(2).cast("decimal(38,0)") * n38 * 10000 + d0,
        lit(2).cast("decimal(38,0)") * d0))
      .cast("double") / lit(1e4))
  }

  /** round(numName/denName, 4) — both columns integer-valued, den > 0. */
  def ratio4(numName: String, denName: String): Column =
    (when(col(numName) < 0,
        -expr(s"(2 * ${d(s"-$numName")} * 10000 + $denName) div (2 * $denName)"))
      .otherwise(
        expr(s"(2 * ${d(numName)} * 10000 + $denName) div (2 * $denName)"))
      .cast("double") / lit(1e4))

  /** round(numName / 10^m, 4) for a 1e-m fixed-point long column, m ≥ 4.
    * m = 4 is the exact display division (no rounding can occur). */
  def pow4(numName: String, m: Int): Column = {
    require(m >= 4, s"pow4 needs m >= 4, got $m")
    if (m == 4) col(numName).cast("double") / lit(1e4)
    else {
      val den = math.pow(10, m - 4).toLong
      (when(col(numName) < 0,
          -expr(s"(2 * ${d(s"-$numName")} + $den) div (2 * $den)"))
        .otherwise(expr(s"(2 * ${d(numName)} + $den) div (2 * $den)"))
        .cast("double") / lit(1e4))
    }
  }

  /** DuckDB fragment mirroring [[ratio4]] — paste into oracle SQL.
    * `num`/`den` must be bare column names or parenthesised exprs. */
  def sqlRatio4(num: String, den: String): String =
    s"CAST(CASE WHEN $num < 0 THEN -((2 * CAST(-($num) AS HUGEINT) * 10000 + $den) // (2 * $den)) " +
      s"ELSE (2 * CAST($num AS HUGEINT) * 10000 + $den) // (2 * $den) END AS DOUBLE) / 10000.0"
}
