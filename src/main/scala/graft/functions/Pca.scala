package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The distributed half of PCA: the covariance matrix as a ONE-PASS
  * map-side outer-product aggregation (the d(d+1)/2 upper triangle of
  * Σxxᵀ plus the d column sums — data-sized input, d²-sized output,
  * nothing quadratic ever shuffles). The eigen-decomposition of that
  * d×d matrix is left to the caller.
  *
  * Exactness: embedding floats quantize to 1e-6 fixed-point longs, so
  * every cross-row sum is an exact integer and the centered covariance
  * derives algebraically: Σ(xᵢ−μᵢ)(xⱼ−μⱼ) = (n·Sᵢⱼ − Sᵢ·Sⱼ)/n, combined
  * in decimal(38,0) (HUGEINT on the oracle side) so the identity holds
  * bit-exactly at any n. The 4-decimal seal then runs ENTIRELY in
  * integer space — round(num/den, 4) as the exact rational
  * (2·|num|·10⁴ + den) div (2·den), sign re-applied — because the
  * double spelling round(num.toDouble/den, 4) provably diverges
  * cross-engine when the true quotient lands on a .00005 boundary no
  * double can represent (the q231 failure mode; q219 hit it too).
  */
object Pca {

  /** Upper-triangle sample covariance entries (i ≤ j, 0-based dims) of
    * an array<float> column: (i, j, n, cov). NULL vectors drop; ragged
    * lengths would misalign dims, so the operator requires (and the
    * fixture guarantees) fixed-length vectors — enforce upstream. */
  def covarianceMatrix(df: DataFrame, emb: Column): DataFrame = {
    val base = df.select(emb.as("v")).where(col("v").isNotNull)
      .withColumn("xq", expr(
        "transform(v, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0, 0) AS BIGINT))"))
      .localCheckpoint() // pair sums + dim sums + n share one scan
    val n = base.count()
    require(n >= 2, "covariance needs at least 2 vectors")
    // map-side pair explode: d(d+1)/2 structs per row, hash-agg collapses
    // to d(d+1)/2 groups before any exchange (partial aggregation)
    val pairSums = base.select(explode(expr(
        """flatten(transform(xq, (a, i) ->
          |  transform(slice(xq, i + 1, size(xq) - i), (b, jj) ->
          |    named_struct('i', i, 'j', i + jj, 'p', a * b))))""".stripMargin))
        .as("t"))
      .groupBy(col("t.i").as("i"), col("t.j").as("j"))
      .agg(sum(col("t.p")).as("sab"))
    val dimSums = base.select(posexplode(col("xq")).as(Seq("i", "x")))
      .groupBy("i").agg(sum("x").as("si"))
    val d38 = "decimal(38,0)"
    // den = n·(n−1)·10¹² computed driver-side as an exact decimal literal
    // (no plan-side decimal multiplication precision games)
    val den = BigInt(n) * BigInt(n - 1) * BigInt(10).pow(12)
    val denLit = lit(new java.math.BigDecimal(den.bigInteger)).cast(d38)
    pairSums
      .join(broadcast(dimSums.select(col("i"), col("si"))), Seq("i"))
      .join(broadcast(dimSums.select(col("i").as("j"), col("si").as("sj"))),
        Seq("j"))
      .withColumn("num", lit(n).cast(d38) * col("sab").cast(d38) -
        col("si").cast(d38) * col("sj").cast(d38))
      .withColumn("den", denLit)
      .select(col("i"), col("j"), lit(n).as("n"),
        // integer-space round-half-away-from-zero: both engines divide
        // positive integers only, so floor-vs-truncate can't differ
        (when(col("num") < 0,
            -expr("(2 * (-num) * 10000 + den) div (2 * den)"))
          .otherwise(expr("(2 * num * 10000 + den) div (2 * den)"))
          .cast("double") / lit(1e4)).as("cov"))
  }
}
