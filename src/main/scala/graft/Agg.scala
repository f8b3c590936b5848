package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Aggregations (SURVEY §2.7; reference `src/transformers.py:279-318` and
  * the example workloads). All shapes are single hash-aggregates: Spark plans
  * partial (map-side) + final aggregation automatically, so the shuffle
  * moves only one row per (group, partition) — the scale-safe shape.
  */
object Agg {
  /** Per-column aggregate by pandas-style function name
    * (reference agg spec dict, `src/transformers.py:313-316`). `count`
    * counts non-nulls, matching pandas. */
  def named(fn: String, c: String): Column = fn match {
    case "sum"            => sum(col(c)).as(c)
    case "mean" | "avg"   => avg(col(c)).as(c)
    case "median"         => median(col(c)).as(c)
    case "min"            => min(col(c)).as(c)
    case "max"            => max(col(c)).as(c)
    case "count"          => count(col(c)).as(c)
    case "first"          => first(col(c), ignoreNulls = true).as(c)
    case other => throw new IllegalArgumentException(s"unknown agg fn '$other'")
  }

  /** A1 — hierarchy re-aggregation: group rows by a GEOID prefix and
    * aggregate each measure with its caller-chosen function; the prefix is
    * renamed back to GEOID (reference `src/transformers.py:279-318`).
    * `level` ∈ state/county/tract/block_group. */
  def aggregateToGeography(df: DataFrame, level: String,
                           aggs: Map[String, String],
                           geoidCol: String = "GEOID"): DataFrame = {
    val key = GeoidOps.coarsen(col(geoidCol), level).as(geoidCol)
    val exprs = aggs.toSeq.sortBy(_._1).map { case (c, fn) => named(fn, c) }
    df.groupBy(key).agg(exprs.head, exprs.tail: _*)
  }

  /** Margin-of-error propagation under re-aggregation — the Census
    * Bureau's documented method for derived ACS estimates (the operation
    * the reference's MOE expansion, P5, stops short of): the MOE of a sum
    * of independent estimates is √(Σ moeᵢ²), and the MOE of the derived
    * proportion p = est/total is √(moe_est² − p²·moe_tot²)/total, falling
    * back to the ratio form √(moe_est² + p²·moe_tot²)/total when the
    * subtraction goes negative (the Bureau's prescribed fallback).
    *
    * INTEGER inputs (estimate and MOE in whole units); Σ moe² is an exact
    * long sum, √ is IEEE-correctly-rounded (FIXTURES), p and the
    * proportion MOE are fixed double expressions sealed with round(,4).
    * One map-side-combinable aggregation, group-cardinality output, plus
    * a 1-row grand-total broadcast for the proportion. */
  def moeRollup(df: DataFrame, group: Column, est: Column,
                moe: Column): DataFrame = {
    val g = df.select(group.as("g"), est.cast("long").as("e"),
        moe.cast("long").as("m"))
      .groupBy("g")
      .agg(count(lit(1)).as("n_parts"), sum("e").as("est"),
        sum(col("m") * col("m")).as("m2"))
    val tot = g.agg(sum("est").as("t_est"), sum("m2").as("t_m2"))
    val p = col("est").cast("double") / col("t_est").cast("double")
    val moeEst2 = col("m2").cast("double")
    val moeTot2 = col("t_m2").cast("double")
    val diff = moeEst2 - p * p * moeTot2
    val propMoe = when(diff >= 0, sqrt(diff)).otherwise(
      sqrt(moeEst2 + p * p * moeTot2)) / col("t_est").cast("double")
    g.crossJoin(broadcast(tot))
      .select(col("g"), col("n_parts"), col("est"),
        round(sqrt(col("m2").cast("double")), 4).as("moe"),
        round(p, 4).as("share"),
        round(propMoe, 4).as("share_moe"))
  }

  /** Weighted median (and general weighted percentile) — THE census
    * statistic (household-weighted median income): the smallest value v
    * whose cumulative INTEGER weight reaches q·W within each group.
    * Dense ordering windows run over the group-keyed VALUE-sorted table;
    * ties on v merge weight first (one keyed aggregation), so the
    * cumulative scan touches distinct values only. Exact integer
    * comparisons throughout: the threshold is ⌈q·W·10⁴⌉ in 1e-4
    * fixed-point (integer W times the literal q), never a double
    * cumulative share.
    *
    * Scale: window-stage parallelism equals GROUP cardinality (each
    * group's value spine sorts in one task). Many groups (tracts,
    * cohorts) parallelize perfectly; for a handful of nationwide groups
    * over 10⁹+ distinct values, pre-bucket values into quantized ranges
    * and recurse into the bucket containing the threshold (two-phase),
    * the same remedy as [[Skew.keyDistribution]]'s rank note. */
  def weightedPercentile(df: DataFrame, group: Column, v: Column,
                         weight: Column, q: Double = 0.5): DataFrame = {
    require(q > 0 && q <= 1, "q must be in (0, 1]")
    val W = org.apache.spark.sql.expressions.Window
    val wCum = W.partitionBy("g").orderBy("v")
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    // whole-partition frame: the group total rides the SAME exchange as
    // the cumulative scan — no second aggregate, no join-back re-read
    val wAll = W.partitionBy("g")
    // NULL values sort first in Spark windows but last in DuckDB, and
    // non-positive weights make the cumulative scan non-monotonic — both
    // break the "smallest v reaching q·W" contract, so drop them up
    // front (the Sampling family's weight/null convention).
    val byV = df.select(group.as("g"), v.cast("long").as("v"),
        weight.cast("long").as("wt"))
      .where(col("v").isNotNull && col("wt") > 0)
      .groupBy("g", "v").agg(sum("wt").as("wt"))
    // threshold in 1e-4 fixed-point: cum·10⁴ ≥ ⌈q·10⁴⌉·tw — all longs
    val q4 = math.round(q * 1e4)
    byV
      .withColumn("cum", sum("wt").over(wCum))
      .withColumn("tw", sum("wt").over(wAll))
      .where(col("cum") * 10000L >= lit(q4) * col("tw"))
      .groupBy("g")
      .agg(min("v").as("weighted_pctl"), max("tw").as("total_weight"))
  }

  /** Two-phase [[weightedPercentile]] — the scale path that
    * [[weightedPercentile]]'s Scaladoc prescribes for few groups over
    * many distinct values, implemented: with G groups the window form
    * sorts the whole distinct-value spine in G tasks (3 tasks for 600 k
    * values on the lineitem fixture — 3 of 32 cores busy; unshippable at
    * 10⁹ values), while this form never sorts anything value-sized.
    *
    * Phase 1 aggregates weights per (group, v DIV bucketWidth) — a
    * bucket-cardinality shuffle straight off the raw rows — and scans
    * the per-group bucket spine (small: range/bucketWidth rows) for the
    * threshold bucket, the smallest whose cumulative weight reaches
    * q·W. Phase 2 re-scans ONLY the rows inside each group's threshold
    * bucket (a broadcast semi-filter), aggregates per exact value, and
    * picks the smallest value whose (weight-before-bucket + in-bucket
    * cumulative) reaches the same threshold. Both phases are exact
    * integer comparisons in 1e-4 fixed-point; the answer is
    * bit-identical to the window form for any bucketWidth ≥ 1 (the
    * cross-bucket cumulative is monotone, so the threshold value lives
    * in the threshold bucket by construction).
    *
    * The in-bucket window sorts one bucket's distinct values per group —
    * bucketWidth tunes that: width ~ range/10⁴ keeps both the bucket
    * spine and the residual sort thousands-sized at any data scale. */
  def weightedPercentileBucketed(df: DataFrame, group: Column, v: Column,
                                 weight: Column, q: Double = 0.5,
                                 bucketWidth: Long = 10000L): DataFrame = {
    require(q > 0 && q <= 1, "q must be in (0, 1]")
    require(bucketWidth >= 1, "bucketWidth must be >= 1")
    val W = org.apache.spark.sql.expressions.Window
    val q4 = math.round(q * 1e4)
    val rows = df.select(group.as("g"), v.cast("long").as("v"),
        weight.cast("long").as("wt"))
      .where(col("v").isNotNull && col("wt") > 0)
      // floor division toward -inf so negative values bucket monotonically
      // (SQL DIV truncates toward zero, which would interleave buckets)
      .withColumn("bk", floor(col("v").cast("double") / lit(bucketWidth.toDouble)).cast("long"))
    // phase 1: per-(group, bucket) weight, cumulative over the SMALL
    // bucket spine, threshold bucket + weight accumulated before it
    val byBk = rows.groupBy("g", "bk").agg(sum("wt").as("bw"))
    val wCumB = W.partitionBy("g").orderBy("bk")
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val cum = byBk.withColumn("cum", sum("bw").over(wCumB))
      .withColumn("tw", sum("bw").over(W.partitionBy("g")))
    val thr = cum.where(col("cum") * 10000L >= lit(q4) * col("tw"))
      .groupBy("g").agg(min_by(struct(col("bk"), col("cum"), col("bw")),
        col("bk")).as("t"), max("tw").as("tw"))
      .select(col("g"), col("t.bk").as("bk"),
        (col("t.cum") - col("t.bw")).as("before"), col("tw"))
    // phase 2: only the threshold bucket's rows re-aggregate per exact
    // value; the in-bucket cumulative window sorts ONE bucket per group
    val inBk = rows.join(broadcast(thr), Seq("g", "bk"))
      .groupBy("g", "v", "before", "tw").agg(sum("wt").as("wt"))
    val wCumV = W.partitionBy("g").orderBy("v")
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    inBk.withColumn("cum", col("before") + sum("wt").over(wCumV))
      .where(col("cum") * 10000L >= lit(q4) * col("tw"))
      .groupBy("g")
      .agg(min("v").as("weighted_pctl"), max("tw").as("total_weight"))
  }
}
