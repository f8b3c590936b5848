package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-group statistical trend / robust-outlier operators.
  *
  * Mirrors the reference's derived-statistics family (change rates,
  * composite indices — `census-data-pipeline` derive.py) extended to the
  * regression/robust-statistics tools a curation pipeline needs: fitting a
  * drift line to a metric, time-decayed engagement scoring, and
  * median-absolute-deviation outlier flags.
  *
  * Determinism (FIXTURES.md): every fit runs on INTEGER-quantized inputs
  * (cents, whole days) and integer power sums, so partial-aggregation
  * order cannot move a bit; the only floating-point steps are single
  * divisions of two longs, sealed with round(,4) — the same convention as
  * the money-sum queries.
  */
object Trend {

  /** Closed-form per-group OLS fit of `yCents` (integer!) on `x`
    * (integer!): slope and intercept from the five power sums
    * n, Σx, Σy, Σxy, Σx².
    *
    *   slope     = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    *   intercept = (Σy·Σx² − Σx·Σxy) / (n·Σx² − (Σx)²)
    *
    * All sums are LONG (exact, order-independent — this is why callers
    * must center/quantize x and y to small integers first: with x ≤ ~1e3
    * and y ≤ ~1e6 the cross terms stay far from Long.MaxValue even at
    * billions of rows per group). One shuffle: the groupBy. Constant
    * groups (denominator 0, e.g. a single distinct x) yield null slope —
    * SQL NULL division semantics in both engines.
    *
    * At 100 TB this is the map-side-combine-friendly shape: five longs of
    * partial state per group regardless of group size.
    */
  def olsTrend(df: DataFrame, group: Column, x: Column, yCents: Column): DataFrame = {
    val g = df.select(group.as("g"), x.cast("long").as("x"),
      yCents.cast("long").as("y"))
    g.groupBy("g")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .withColumn("snum", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("inum", col("sy") * col("sxx") - col("sx") * col("sxy"))
      .withColumn("den",
        nullif(col("n") * col("sxx") - col("sx") * col("sx"), lit(0L)))
      .select(col("g"), col("n"),
        Seal.ratio4("snum", "den").as("slope"),
        Seal.ratio4("inum", "den").as("intercept"))
  }

  /** Per-group Pearson correlation of two INTEGER-quantized variables
    * from the same five-plus-one power sums as [[olsTrend]]:
    *
    *   r = (n·Σxy − Σx·Σy) / √((n·Σx² − (Σx)²) · (n·Σy² − (Σy)²))
    *
    * The variance factors are cast to double BEFORE multiplying (their
    * long product would overflow); everything upstream is exact integer
    * sums. Zero-variance groups yield null (0/0 → SQL NULL via nullif).
    */
  def pearson(df: DataFrame, group: Column, x: Column, y: Column): DataFrame = {
    val g = df.select(group.as("g"), x.cast("long").as("x"),
      y.cast("long").as("y"))
    g.groupBy("g")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("g"), col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          nullif(sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double") *
            (col("n") * col("syy") - col("sy") * col("sy")).cast("double")),
            lit(0.0)), 4).as("r"))
  }

  /** Median-absolute-deviation outlier report per group: exact median,
    * exact MAD, and the count of rows with |v − median| > k·MAD.
    *
    * Two aggregation passes (median needs the data before deviations can
    * be taken); the per-group medians table is group-count sized, so the
    * second pass joins it back broadcast. Exact `percentile` on both
    * engines per the FIXTURES convention (approx_percentile would be the
    * 100 TB swap — flagged, not default, because the oracle compares
    * exact).
    */
  def madOutliers(df: DataFrame, group: Column, v: Column,
                  k: Double = 3.0): DataFrame = {
    val g = df.select(group.as("g"), v.cast("double").as("v"))
    val med = g.groupBy("g").agg(percentile(col("v"), lit(0.5)).as("med"))
    val dev = g.join(broadcast(med), "g")
      .select(col("g"), col("v"), col("med"),
        abs(col("v") - col("med")).as("d"))
    val mad = dev.groupBy("g").agg(percentile(col("d"), lit(0.5)).as("mad"))
    dev.join(broadcast(mad), "g")
      .groupBy("g")
      .agg(round(min("med"), 4).as("median"), round(min("mad"), 4).as("mad"),
        sum(when(col("d") > lit(k) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"),
        count(lit(1)).as("n"))
  }

  /** Winsorized location/scale per group: clamp an INTEGER metric at
    * the (p, 1−p) exact percentiles ROUNDED TO LONGS, then mean and
    * sample sd of the clamped values — the keep-the-rows robust
    * sibling of the trimmed stats (q179 drops tail rows; winsorizing
    * pins them to the fence, preserving n).
    *
    * Rounding the fences to integers is what keeps determinism: the
    * clamped column stays exact longs, so Σ and Σ² are
    * order-independent — clamping at the raw interpolated percentile
    * would re-introduce order-dependent double sums. Two passes
    * (percentiles broadcast back), one counting aggregation. */
  def winsorizedStats(df: DataFrame, group: Column, v: Column,
                      p: Double = 0.05): DataFrame = {
    require(p > 0 && p < 0.5, "p must be in (0, 0.5)")
    val g = df.select(group.as("g"), v.cast("long").as("v"))
      .where(col("g").isNotNull && col("v").isNotNull)
    val fences = g.groupBy("g")
      .agg(round(percentile(col("v"), lit(p)), 0).cast("long").as("lo"),
        round(percentile(col("v"), lit(1 - p)), 0).cast("long").as("hi"))
    g.join(broadcast(fences), "g")
      .select(col("g"), col("lo"), col("hi"),
        least(greatest(col("v"), col("lo")), col("hi")).as("w"),
        (col("v") < col("lo")).as("cl"), (col("v") > col("hi")).as("ch"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"), min("lo").as("lo"), min("hi").as("hi"),
        sum("w").as("s"), sum(col("w") * col("w")).as("ss"),
        sum(when(col("cl"), 1L).otherwise(0L)).as("n_clamped_low"),
        sum(when(col("ch"), 1L).otherwise(0L)).as("n_clamped_high"))
      .select(col("g"), col("n"), col("lo"), col("hi"),
        col("n_clamped_low"), col("n_clamped_high"),
        Seal.ratio4("s", "n").as("wins_mean"),
        round(sqrt((col("n") * col("ss") - col("s") * col("s"))
          .cast("double") /
          nullif((col("n") * (col("n") - 1)).cast("double"), lit(0.0))), 4)
          .as("wins_sd"))
      .orderBy("g")
  }

  /** Tukey-fence (IQR) outlier report per group: exact quartiles,
    * fences Q1 − k·IQR / Q3 + k·IQR, and counts beyond each fence —
    * the box-plot rule, the quartile sibling of [[madOutliers]] (same
    * two-pass shape: group-count-sized quartile table broadcast back,
    * then one counting aggregation; exact `percentile` per the
    * FIXTURES convention, approx_percentile being the flagged 100 TB
    * swap). Fences are fixed double expressions over the exact
    * quartiles — identical in both engines. */
  def iqrFences(df: DataFrame, group: Column, v: Column,
                k: Double = 1.5): DataFrame = {
    val g = df.select(group.as("g"), v.cast("double").as("v"))
      .where(col("g").isNotNull && col("v").isNotNull)
    val q = g.groupBy("g").agg(percentile(col("v"), lit(0.25)).as("q1"),
      percentile(col("v"), lit(0.75)).as("q3"))
    g.join(broadcast(q), "g")
      .select(col("g"), col("v"), col("q1"), col("q3"),
        (col("q1") - lit(k) * (col("q3") - col("q1"))).as("lo"),
        (col("q3") + lit(k) * (col("q3") - col("q1"))).as("hi"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"), round(min("q1"), 4).as("q1"),
        round(min("q3"), 4).as("q3"),
        sum(when(col("v") < col("lo"), 1L).otherwise(0L)).as("n_low"),
        sum(when(col("v") > col("hi"), 1L).otherwise(0L)).as("n_high"))
      .orderBy("g")
  }

  /** Welch's unequal-variance t-test between labels `a` and `b` of an
    * INTEGER-quantized metric: one grouped pass builds (n, Σv, Σv²) per
    * label as exact long sums, then the t statistic and Welch–Satterthwaite
    * degrees of freedom are closed-form double arithmetic on those six
    * longs — a single row, computed once, so at 100 TB the cost is one
    * map-side-combinable aggregation over the filtered rows.
    *
    *   t  = (m_a − m_b) / √(v_a/n_a + v_b/n_b)
    *   df = (v_a/n_a + v_b/n_b)² / ((v_a/n_a)²/(n_a−1) + (v_b/n_b)²/(n_b−1))
    *
    * with sample variance v = (n·Σv² − (Σv)²) / (n·(n−1)). Determinism:
    * sums are exact longs; every double step is a fixed expression tree
    * mirrored verbatim in the oracle SQL, sealed with round(,4). Callers
    * keep v small enough that n·Σv² stays inside Long (quantize first —
    * the same contract as [[pearson]]). Degenerate inputs (n ≤ 1 or zero
    * variance on both sides) yield SQL-NULL t/df via nullif. */
  def welchTTest(df: DataFrame, label: Column, v: Column,
                 a: String, b: String): DataFrame = {
    val g = df.select(label.as("l"), v.cast("long").as("v"))
      .where(col("l").isin(a, b))
    def side(lbl: String, suf: String) = Seq(
      sum(when(col("l") === lbl, 1L).otherwise(0L)).as(s"n_$suf"),
      sum(when(col("l") === lbl, col("v")).otherwise(0L)).as(s"s_$suf"),
      sum(when(col("l") === lbl, col("v") * col("v")).otherwise(0L))
        .as(s"ss_$suf"))
    val aggs = side(a, "a") ++ side(b, "b")
    val sums = g.agg(aggs.head, aggs.tail: _*)
    // nullif on BOTH divisors: n <= 1 must surface as SQL-NULL, not as a
    // 0.0/0.0 NaN slipping through the downstream sqrt guard
    def varOverN(s: String) =
      (col(s"n_$s") * col(s"ss_$s") - col(s"s_$s") * col(s"s_$s"))
        .cast("double") /
        nullif((col(s"n_$s") * (col(s"n_$s") - 1)), lit(0L)).cast("double") /
        nullif(col(s"n_$s"), lit(0L)).cast("double")
    sums.withColumn("nna", nullif(col("n_a"), lit(0L)))
      .withColumn("nnb", nullif(col("n_b"), lit(0L)))
      .select(lit(a).as("label_a"), lit(b).as("label_b"),
        col("n_a"), col("n_b"),
        Seal.ratio4("s_a", "nna").as("mean_a"),
        Seal.ratio4("s_b", "nnb").as("mean_b"),
        varOverN("a").as("vna"), varOverN("b").as("vnb"))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        col("mean_a"), col("mean_b"),
        round((col("mean_a") - col("mean_b")) /
          nullif(sqrt(col("vna") + col("vnb")), lit(0.0)), 4).as("t_stat"),
        round((col("vna") + col("vnb")) * (col("vna") + col("vnb")) /
          nullif(col("vna") * col("vna") / (col("n_a") - 1).cast("double") +
            col("vnb") * col("vnb") / (col("n_b") - 1).cast("double"),
            lit(0.0)), 4).as("df_welch"))
  }

  /** Standardized effect-size panel between two groups of an
    * INTEGER-quantized metric — the magnitude readout that p-values
    * ([[welchTTest]]) deliberately don't give: Cohen's d (pooled-SD
    * standardized mean difference), Hedges' g (d times the small-sample
    * bias correction J = 1 − 3/(4·df − 1)), and Glass's Δ (difference
    * over the CONTROL group's SD — the right scale when treatment
    * changes the variance).
    *
    * Determinism: one pass of exact integer power sums (n, Σv, Σv² per
    * side); the sum-of-squares numerators n·Σv² − (Σv)² go through
    * decimal(38,0) (no Long overflow at any n — the q318 convention);
    * every double step after that is a fixed expression tree mirrored
    * verbatim in the oracle (sqrt is IEEE-exact, so cross-engine safe),
    * with round(,4) on transcendental-composed outputs per the Seal
    * classification. Degenerate inputs surface as SQL-NULL (never NaN)
    * via nullif, precisely when their OWN denominators vanish: d and g
    * null iff n_a + n_b − 2 = 0 or the pooled variance is zero;
    * Glass's Δ nulls iff n_b ≤ 1 or the control SD is zero. A
    * single-observation side paired with a ≥2 side still yields
    * DEFINED d/g — its exact sum of squares is 0, so it contributes
    * nothing to the pooled variance (the standard pooled-s²
    * convention, not a degenerate case).
    *
    * Scale shape: ONE map-side-combinable aggregation over the corpus;
    * everything after is a 1-row select. */
  def effectSizePanel(df: DataFrame, label: Column, v: Column,
                      a: String, b: String): DataFrame = {
    val g = df.select(label.as("l"), v.cast("long").as("v"))
      .where(col("l").isin(a, b) && col("v").isNotNull)
    def side(lbl: String, suf: String) = Seq(
      sum(when(col("l") === lbl, 1L).otherwise(0L)).as(s"n_$suf"),
      sum(when(col("l") === lbl, col("v")).otherwise(0L)).as(s"s_$suf"),
      sum(when(col("l") === lbl,
        col("v").cast("decimal(38,0)") * col("v")).otherwise(
        lit(0L).cast("decimal(38,0)"))).as(s"ss_$suf"))
    val aggs = side(a, "a") ++ side(b, "b")
    val sums = g.agg(aggs.head, aggs.tail: _*)
    // ssq_x = n·Σv² − (Σv)² = n·(n−1)·s² — exact decimal
    def ssq(s: String) =
      (col(s"n_$s").cast("decimal(38,0)") * col(s"ss_$s") -
        col(s"s_$s").cast("decimal(38,0)") * col(s"s_$s")).as(s"ssq_$s")
    sums.select(col("n_a"), col("n_b"), col("s_a"), col("s_b"),
        ssq("a"), ssq("b"))
      .withColumn("nna", nullif(col("n_a"), lit(0L)))
      .withColumn("nnb", nullif(col("n_b"), lit(0L)))
      // mean difference as one exact rational (s_a·n_b − s_b·n_a) /
      // (n_a·n_b): the double form feeds d/Δ (transcendental-composed,
      // boundary-safe), the DISPLAYED mean_diff seals with ratio4
      .withColumn("md_num",
        col("s_a").cast("decimal(38,0)") * col("n_b") -
          col("s_b").cast("decimal(38,0)") * col("n_a"))
      .withColumn("md_den", col("nna").cast("decimal(38,0)") * col("nnb"))
      .withColumn("mdiff",
        col("md_num").cast("double") / col("md_den").cast("double"))
      // pooled variance: (ssq_a/n_a + ssq_b/n_b) / (n_a + n_b − 2)
      .withColumn("sp2",
        (col("ssq_a").cast("double") / col("nna").cast("double") +
          col("ssq_b").cast("double") / col("nnb").cast("double")) /
        nullif(col("n_a") + col("n_b") - 2, lit(0L)).cast("double"))
      .withColumn("d_raw",
        col("mdiff") / nullif(sqrt(col("sp2")), lit(0.0)))
      // control (= b) SD for Glass's Δ: ssq_b / (n_b·(n_b−1))
      .withColumn("sd_b", nullif(sqrt(col("ssq_b").cast("double") /
        nullif(col("nnb") * (col("nnb") - 1), lit(0L)).cast("double")),
        lit(0.0)))
      .select(lit(a).as("label_a"), lit(b).as("label_b"),
        col("n_a"), col("n_b"),
        Seal.ratio4("md_num", "md_den").as("mean_diff"),
        round(col("d_raw"), 4).as("cohens_d"),
        round(col("d_raw") * (lit(1.0) - lit(3.0) /
          nullif(lit(4L) * (col("n_a") + col("n_b") - 2) - 1, lit(0L))
            .cast("double")), 4).as("hedges_g"),
        round(col("mdiff") / col("sd_b"), 4).as("glass_delta"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic D = max |F_a(x) − F_b(x)|
    * between labels `a` and `b` of an INTEGER-quantized metric.
    *
    * Shape: one grouped count per distinct value (the corpus-scale pass,
    * map-side combinable), then cumulative sums over the DISTINCT-VALUE
    * table via the distributed [[Ranked]] prefix — parallel at any
    * value-domain size, never a single-partition window. Determinism:
    * cumulative counts are exact longs; each F is one double division
    * of identical longs; D is a max over identical doubles, sealed with
    * round(,4). */
  def ksTest(df: DataFrame, label: Column, v: Column,
             a: String, b: String): DataFrame = {
    val g = df.select(label.as("l"), v.cast("long").as("v"))
      .where(col("l").isin(a, b) && col("v").isNotNull)
    val cnt = g.groupBy("v").agg(
      sum(when(col("l") === a, 1L).otherwise(0L)).as("ca"),
      sum(when(col("l") === b, 1L).otherwise(0L)).as("cb"))
    val tot = cnt.agg(sum("ca").as("n_a"), sum("cb").as("n_b"))
    // D = max |cca/n_a − ccb/n_b| is an exact rational: take the max of
    // the integer numerator |cca·n_b − ccb·n_a| (same argmax — the
    // denominator n_a·n_b is constant), then one integer-sealed division.
    // Both cumulative counts ride ONE distributed Ranked prefix pass
    // over the value spine — no single-partition window at any domain
    Ranked.withPrefix(cnt, Seq(col("v")),
        Seq(col("ca") -> "cca", col("cb") -> "ccb"))
      .select(col("cca"), col("ccb"))
      .crossJoin(broadcast(tot))
      .select(col("n_a"), col("n_b"),
        abs(col("cca") * col("n_b") - col("ccb") * col("n_a")).as("dn"))
      .groupBy("n_a", "n_b")
      .agg(max("dn").as("dnum"))
      .withColumn("dden", col("n_a") * col("n_b"))
      .select(lit(a).as("label_a"), lit(b).as("label_b"),
        col("n_a"), col("n_b"), Seal.ratio4("dnum", "dden").as("d_stat"))
  }

  /** Per-group skewness and excess kurtosis from the first four power
    * sums (exact longs — callers quantize `v` small enough that n·Σv⁴
    * stays inside Long): central moments via the raw-moment expansions
    *
    *   m2 = r2 − μ², m3 = r3 − 3μr2 + 2μ³, m4 = r4 − 4μr3 + 6μ²r2 − 3μ⁴
    *   skew = m3 / (m2·√m2),  kurt = m4 / (m2·m2) − 3
    *
    * (rk = Σvᵏ/n). m2^1.5 is spelled m2·√m2 on purpose: √ is IEEE
    * correctly-rounded in both engines, `pow(x, 1.5)` is not guaranteed
    * to be. Zero-variance groups yield SQL-NULL via nullif. Single
    * map-side-combinable aggregation — the 100 TB shape. */
  def skewKurtosis(df: DataFrame, group: Column, v: Column): DataFrame = {
    val g = df.select(group.as("g"), v.cast("long").as("x"))
    val x = col("x")
    val sums = g.groupBy("g").agg(count(lit(1)).as("n"),
      sum(x).as("s1"), sum(x * x).as("s2"),
      sum(x * x * x).as("s3"), sum(x * x * x * x).as("s4"))
    def r(k: Int) = col(s"s$k").cast("double") / col("n").cast("double")
    val mu = r(1)
    val m2 = r(2) - mu * mu
    val m3 = r(3) - lit(3.0) * mu * r(2) + lit(2.0) * mu * mu * mu
    val m4 = r(4) - lit(4.0) * mu * r(3) + lit(6.0) * mu * mu * r(2) -
      lit(3.0) * mu * mu * mu * mu
    sums.select(col("g"), col("n"),
      Seal.ratio4("s1", "n").as("mean"),
      round(m3 / nullif(m2 * sqrt(m2), lit(0.0)), 4).as("skewness"),
      round(m4 / nullif(m2 * m2, lit(0.0)) - lit(3.0), 4).as("kurtosis"))
  }

  /** Fixed-horizon EWMA over a (day, value-cents) daily series: for each
    * present day t, Σ_d w_d·cents(t−d) / Σ_d w_d over the trailing
    * `horizon` days that EXIST in the series, with integer weights
    * w_d = round((1−α)^d·1e6) computed ONCE at plan-build time (the same
    * literal longs land in the oracle SQL, so both engines sum identical
    * long products — nothing floating-point until the final division).
    *
    * Shape: the weight table is `horizon`+1 rows cross-joined broadcast
    * onto the DAILY aggregate (not the raw corpus), shifted by equi-key
    * `day + d` — a narrow explode-then-regroup, no range join, no window.
    */
  def ewmaDaily(daily: DataFrame, day: Column, vCents: Column,
                alpha: Double, horizon: Int): DataFrame = {
    require(horizon >= 1 && horizon <= 64, "horizon must be in [1, 64]")
    val d = daily.select(day.as("day"), vCents.cast("long").as("cents"))
    val spark = daily.sparkSession
    import spark.implicits._
    val w = broadcast(ewmaWeights(alpha, horizon).toDF("lag_d", "w"))
    val terms = d.crossJoin(w)
      .select(date_add(col("day"), col("lag_d")).as("day"),
        (col("w") * col("cents")).as("term"), col("w"))
      .groupBy("day")
      .agg(sum("term").as("st"), sum("w").as("sw"))
    d.join(terms, "day")
      .select(col("day"), col("cents"),
        Seal.ratio4("st", "sw").as("ewma"))
      .orderBy("day")
  }

  /** The integer EWMA weight table (lag → round((1−α)^lag · 1e6)) shared
    * by [[ewmaDaily]] and its oracle SQL generator. */
  def ewmaWeights(alpha: Double, horizon: Int): Seq[(Int, Long)] =
    (0 to horizon).map(d => d -> math.round(math.pow(1 - alpha, d) * 1e6))

  /** Two-proportion z-test between variants `a` and `b` of a 0/1
    * conversion flag (one row per experimental unit — callers aggregate
    * to units first so repeated events don't inflate n):
    *
    *   z = (p_a − p_b) / √(p̂(1−p̂)(1/n_a + 1/n_b)),  p̂ pooled
    *
    * The A/B-experiment readout companion to [[welchTTest]] (means) —
    * ONE map-side-combinable pass of four exact long sums, closed-form
    * doubles mirrored verbatim in the oracle, nullif on the degenerate
    * all-converted/none-converted pool. */
  def twoProportionZ(df: DataFrame, label: Column, conv: Column,
                     a: String, b: String): DataFrame = {
    val g = df.where(label.isin(a, b))
      .select(label.as("l"), conv.cast("long").as("c"))
    val sums = g.agg(
      sum(when(col("l") === a, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("l") === a, col("c")).otherwise(0L)).as("conv_a"),
      sum(when(col("l") === b, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("l") === b, col("c")).otherwise(0L)).as("conv_b"))
    val pa = col("conv_a").cast("double") /
      nullif(col("n_a"), lit(0L)).cast("double")
    val pb = col("conv_b").cast("double") /
      nullif(col("n_b"), lit(0L)).cast("double")
    val pool = (col("conv_a") + col("conv_b")).cast("double") /
      nullif(col("n_a") + col("n_b"), lit(0L)).cast("double")
    sums.withColumn("nna", nullif(col("n_a"), lit(0L)))
      .withColumn("nnb", nullif(col("n_b"), lit(0L)))
      .select(lit(a).as("label_a"), lit(b).as("label_b"),
      col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
      Seal.ratio4("conv_a", "nna").as("rate_a"),
      Seal.ratio4("conv_b", "nnb").as("rate_b"),
      round((pa - pb) / nullif(sqrt(pool * (lit(1.0) - pool) *
        (lit(1.0) / col("n_a").cast("double") +
          lit(1.0) / col("n_b").cast("double"))), lit(0.0)), 4).as("z_stat"))
  }

  /** The literal design-allocation spine: one row per variant with its
    * ratio — shared by [[srmCheck]] and the streaming SRM monitor so the
    * batch gate and the live alarm can never diverge on the same data. */
  def designSpine(spark: org.apache.spark.sql.SparkSession,
                  design: Seq[(String, Double)]): DataFrame =
    spark.range(1).select(explode(array(design.map { case (k, r) =>
      struct(lit(k).as("v"), lit(r).as("r")) }: _*)).as("s"))
      .select(col("s.v").as("v"), col("s.r").as("r"))

  /** One chi-square goodness-of-fit term (o−e)²/e, quantized to 1e-6
    * fixed-point longs (the cross-engine-exact summation device). */
  def chiSqTerm(o: Column, e: Column): Column = {
    val dev = o.cast("double") - e
    round(dev * dev / e * lit(1e6), 0).cast("long")
  }

  /** Sample-ratio-mismatch check (chi-square goodness of fit against the
    * DESIGN allocation): the "is the experiment assignment itself broken?"
    * gate that must pass before any A/B readout is trusted — a biased
    * logger or bucketing bug shows up here as observed variant counts
    * drifting from ratio·N. One variant-keyed aggregation (variant
    * cardinality rows) LEFT-JOINED onto the [[designSpine]] so a variant
    * with ZERO observed rows still contributes its full (0−e)²/e term —
    * total starvation is the loudest alarm, not a dropped row. Per-variant
    * terms quantized to 1e-6 fixed-point longs before the exact sum.
    * Emits one row: (n_units, deg_free, chi2); rows not matching a design
    * variant are ignored. Callers aggregate to one row per experimental
    * unit first (the [[twoProportionZ]] contract). */
  def srmCheck(df: DataFrame, variant: Column,
               design: Seq[(String, Double)]): DataFrame = {
    require(design.nonEmpty && math.abs(design.map(_._2).sum - 1.0) < 1e-9,
      "design ratios must sum to 1")
    val observed = df.select(variant.as("v"))
      .where(col("v").isin(design.map(_._1): _*))
      .groupBy("v").agg(count(lit(1)).as("o"))
    val counts = designSpine(df.sparkSession, design)
      .join(observed, Seq("v"), "left")
      .select(coalesce(col("o"), lit(0L)).as("o"), col("r"))
    val tot = counts.agg(sum("o").as("n"))
    counts.crossJoin(broadcast(tot))
      .select(col("n"),
        chiSqTerm(col("o"), col("r") * col("n").cast("double")).as("t"))
      .groupBy("n")
      .agg(sum("t").as("s6"))
      .select(col("n").as("n_units"),
        lit(design.size - 1L).as("deg_free"), Seal.pow4("s6", 6).as("chi2"))
  }

  /** CUPED variance-reduction readout (Deng et al. 2013): given one row
    * per experimental unit with an INTEGER-quantized pre-period covariate
    * `x` and post-period metric `y`, reports θ = cov(x,y)/var(x) and the
    * closed-form adjusted variance var(y_cuped) = var(y)·(1 − r²) — how
    * much narrower the experiment's confidence intervals get by
    * regressing out the pre-period. No second per-row pass: everything
    * falls out of the same six exact long power sums as [[pearson]],
    * one map-side-combinable aggregation. Degenerate covariates (zero
    * variance) yield SQL-NULL θ/r via nullif. */
  def cuped(df: DataFrame, x: Column, y: Column): DataFrame = {
    val g = df.select(x.cast("long").as("x"), y.cast("long").as("y"))
    val su = g.agg(count(lit(1)).as("n"), sum("x").as("sx"),
      sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val vnum = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val dx = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val dy = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    val r = vnum / nullif(sqrt(dx * dy), lit(0.0))
    val varY = dy /
      nullif((col("n") * (col("n") - 1)), lit(0L)).cast("double")
    su.withColumn("tnum", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("tden",
        nullif(col("n") * col("sxx") - col("sx") * col("sx"), lit(0L)))
      .withColumn("vynum", col("n") * col("syy") - col("sy") * col("sy"))
      .withColumn("vyden", nullif(col("n") * (col("n") - 1), lit(0L)))
      .select(col("n"),
      Seal.ratio4("tnum", "tden").as("theta"),
      Seal.ratio4("vynum", "vyden").as("var_y"),
      round(varY * (lit(1.0) - r * r), 4).as("var_cuped"),
      round(r * r * lit(100.0), 4).as("var_reduction_pct"))
  }

  /** Rolling Pearson correlation of two INTEGER-quantized daily series
    * over a trailing `frame`-row window: the quant "are these two metrics
    * still coupled?" monitor. All six window sums are exact integer
    * window aggregates (the q156 device), so each day's r is closed-form
    * double arithmetic on identical longs. Windows shorter than 2 rows /
    * zero-variance windows yield SQL-NULL via nullif. The window input
    * is the caller's pre-aggregated DAILY table — bounded, never the
    * corpus. Callers quantize so k·Σx² stays inside Long (dollars, not
    * cents, for revenue series). */
  def rollingPearson(daily: DataFrame, day: Column, x: Column, y: Column,
                     frame: Int): DataFrame = {
    require(frame >= 2 && frame <= 3650, "frame must be in [2, 3650] rows")
    val d = daily.select(day.as("day"), x.cast("long").as("x"),
      y.cast("long").as("y"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("day")
      .rowsBetween(-(frame - 1), 0)
    val s = d.select(col("day"),
      count(lit(1)).over(w).as("k"),
      sum("x").over(w).as("sx"), sum("y").over(w).as("sy"),
      sum(col("x") * col("y")).over(w).as("sxy"),
      sum(col("x") * col("x")).over(w).as("sxx"),
      sum(col("y") * col("y")).over(w).as("syy"))
    s.select(col("day"), col("k"),
        round((col("k") * col("sxy") - col("sx") * col("sy")).cast("double") /
          nullif(sqrt((col("k") * col("sxx") - col("sx") * col("sx"))
              .cast("double") *
            (col("k") * col("syy") - col("sy") * col("sy")).cast("double")),
            lit(0.0)), 4).as("r"))
      .orderBy("day")
  }

  /** Pairwise Pearson correlation matrix over m INTEGER-quantized
    * columns: ONE aggregation pass collects all m first/second moments and
    * m·(m−1)/2 cross sums as exact longs, then each pair's r is closed-form
    * arithmetic on the single sums row (checkpointed so the m·(m−1)/2
    * output selects don't re-scan the corpus).
    *
    * Unlike [[pearson]], the variance/cross factors here multiply n into
    * the sums as DOUBLES (`n·Σx²` overflows Long once Σx² passes ~1e13 at
    * corpus row counts) — lossy but bit-identical in both engines because
    * the operand longs are exact and the expression tree is mirrored
    * verbatim in the oracle. Upper-triangle output (var_a < var_b). */
  def corrMatrix(df: DataFrame, vars: Seq[(String, Column)]): DataFrame = {
    require(vars.size >= 2, "corrMatrix needs at least two variables")
    val base = df.select(vars.map { case (n, c) => c.cast("long").as(n) }: _*)
    val pairs = for {
      i <- vars.indices; j <- vars.indices if i < j
    } yield (vars(i)._1, vars(j)._1)
    val aggs =
      vars.flatMap { case (n, _) => Seq(
        sum(col(n)).as(s"s_$n"),
        sum(col(n) * col(n)).as(s"ss_$n")) } ++
      pairs.map { case (a, b) => sum(col(a) * col(b)).as(s"sp_${a}_$b") }
    val sums = base.agg(count(lit(1)).as("n"), aggs: _*).localCheckpoint()
    val nD = col("n").cast("double")
    def varF(v: String) =
      nD * col(s"ss_$v") - col(s"s_$v").cast("double") * col(s"s_$v")
    val rows = pairs.map { case (a, b) =>
      sums.select(lit(a).as("var_a"), lit(b).as("var_b"), col("n"),
        round((nD * col(s"sp_${a}_$b") -
          col(s"s_$a").cast("double") * col(s"s_$b")) /
          nullif(sqrt(varF(a) * varF(b)), lit(0.0)), 4).as("r"))
    }
    rows.reduce(_.unionByName(_)).orderBy("var_a", "var_b")
  }

  /** Exponential time-decay score per key: Σ v · exp(−λ · age_days),
    * with age measured back from the dataset's max timestamp (a scalar —
    * rides to every task as a literal via a broadcast cross join, the
    * same bounded-driver-collect pattern as the IVF codebook).
    *
    * The weighted terms are genuinely floating point (exp is), so groups
    * must be small enough for round(,4) to absorb association-order drift
    * — true for per-user event counts; a 100 TB deployment bins ages to
    * whole days first (integer weights per bin) if groups grow unbounded.
    */
  def decayedScore(df: DataFrame, key: Column, ts: Column, v: Column,
                   lambdaPerDay: Double): DataFrame = {
    val us = df.select(key.as("k"), unix_micros(ts).as("us"),
      v.cast("double").as("v"))
    // max over zero rows is SQL NULL — fail with a message, not a bare
    // NPE from getLong (the pageRank/hitsBipartite convention)
    val maxUsRow = us.agg(max("us")).head
    require(!maxUsRow.isNullAt(0),
      "decayedScore: empty input (no rows with a non-null timestamp)")
    val maxUs = maxUsRow.getLong(0)
    us.groupBy("k")
      .agg(round(sum(col("v") *
        exp(lit(-lambdaPerDay) * (lit(maxUs) - col("us")).cast("double") /
          lit(86400e6))), 4).as("decayed"),
        count(lit(1)).as("n_events"))
  }

  /** Classical additive seasonal decomposition over a DENSE daily spine
    * (repair gaps with [[Timeseries.gapFillDaily]] first): trend = the
    * centered `period`-row moving average, seasonal = the per-weekday mean
    * of the detrended series, residual = the rest. Weekday is epoch-based
    * (days-since-1970 mod period) so no engine's locale-dependent
    * day-of-week numbering is involved. Only days with a FULL trend
    * window are emitted.
    *
    * Scale: the ordering window runs over the DAY-CARDINALITY table (the
    * daily aggregate, thousands of rows), not raw rows; the seasonal
    * means are a `period`-row broadcast back onto it.
    *
    * Determinism: `value` must be integer-quantized (cents). trend/
    * detrended/seasonal/residual all live in 1e-4 fixed-point longs —
    * exact window sums, one rounded division each — so cross-row order
    * can't move a bit. */
  def seasonalDecompose(daily: DataFrame, day: Column, value: Column,
                        period: Int = 7): DataFrame = {
    require(period >= 2 && period % 2 == 1,
      "period must be odd (centered window)")
    val half = period / 2
    val w = Window.orderBy("day").rowsBetween(-half, half)
    val base = daily.select(day.as("day"), value.cast("long").as("v"),
      (datediff(col("day"), to_date(lit("1970-01-01"))) % period).as("dow"))
    val full = base
      .withColumn("wn", count(lit(1)).over(w))
      .withColumn("trend4", round(sum("v").over(w).cast("double") *
        lit(10000.0) / lit(period.toDouble), 0).cast("long"))
      .where(col("wn") === period)
      .withColumn("det4", col("v") * 10000L - col("trend4"))
    val seasonal = full.groupBy("dow")
      .agg(round(sum("det4").cast("double") /
        count(lit(1)).cast("double"), 0).cast("long").as("sea4"))
    full.join(broadcast(seasonal), "dow")
      .select(col("day"), col("v").as("value"),
        round(col("trend4").cast("double") / lit(1e4), 4).as("trend"),
        round(col("sea4").cast("double") / lit(1e4), 4).as("seasonal"),
        round((col("det4") - col("sea4")).cast("double") / lit(1e4), 4)
          .as("residual"))
      .orderBy("day")
  }

  /** Delta-method standard error for a RATIO metric (revenue per view,
    * items per order) under unit-level randomization (Deng et al. 2017's
    * "ratio metric" recipe): with one row per experimental unit carrying
    * integer numerator y and denominator d, R̂ = Σy/Σd and
    * Var(R̂) ≈ (var_y + R̂²·var_d − 2R̂·cov_yd) / (n·d̄²). Emits one row
    * per variant: (variant, n_units, ratio, se).
    *
    * Scale: one variant-keyed aggregation of six integer power sums
    * (map-side combinable, variant-cardinality output); everything after
    * is per-row arithmetic on the tiny result.
    *
    * Determinism: variances/covariance use the double-folded-n integer
    * numerators (n·Σyy − (Σy)², FIXTURES.md) — exact longs — so the only
    * floating-point steps are the closed-form divisions and one sqrt. */
  def ratioMetricDelta(df: DataFrame, variant: Column, num: Column,
                       den: Column): DataFrame = {
    val sums = df.select(variant.as("variant"), num.cast("long").as("y"),
        den.cast("long").as("d"))
      .groupBy("variant")
      .agg(count(lit(1)).as("n"), sum("y").as("sy"), sum("d").as("sd"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("d") * col("d")).as("sdd"),
        sum(col("y") * col("d")).as("syd"))
    val nD = col("n").cast("double")
    val r = col("sy").cast("double") / col("sd").cast("double")
    def varOf(sq: String, s: String): Column =
      (col("n") * col(sq) - col(s) * col(s)).cast("double") /
        (nD * (nD - lit(1.0)))
    val covYd = (col("n") * col("syd") - col("sy") * col("sd")).cast("double") /
      (nD * (nD - lit(1.0)))
    val dBar = col("sd").cast("double") / nD
    sums.select(col("variant"), col("n").as("n_units"),
      Seal.ratio4("sy", "sd").as("ratio"),
      round(sqrt((varOf("syy", "sy") + r * r * varOf("sdd", "sd") -
        lit(2.0) * r * covYd) / (nD * dBar * dBar)), 6).as("se"))
  }

  /** Minimum-detectable-effect readout for a two-proportion A/B at the
    * conventional α = 0.05 two-sided / 80% power operating point:
    * MDE_abs = (z_{α/2} + z_β)·√(2·p̂(1−p̂)/n_per_arm) with the z-sum
    * pinned to the literal 2.8016 (1.9600 + 0.8416) in BOTH engines.
    * Input is one row per experimental unit with a 0/1 conversion flag;
    * `arms` is the planned number of equal arms. One aggregation, one
    * output row: (n_units, n_per_arm, p_hat, mde_abs, mde_rel). */
  def mdeReadout(df: DataFrame, converted: Column, arms: Int = 2): DataFrame = {
    require(arms >= 2, "need at least two arms")
    val agg = df.select(converted.cast("long").as("c"))
      .agg(count(lit(1)).as("n_units"), sum("c").as("conv"))
    val p = col("conv").cast("double") / col("n_units").cast("double")
    val nArm = floor(col("n_units") / arms).cast("long")
    // degenerate designs (arm of zero units, p at 0 or 1) emit SQL-NULL
    // instead of Infinity/NaN — the null-propagating convention (cuped)
    val ok = nArm > 0 && p > lit(0.0) && p < lit(1.0)
    val mde = when(ok, lit(2.8016) *
      sqrt(lit(2.0) * p * (lit(1.0) - p) / nArm.cast("double")))
    agg.select(col("n_units"), nArm.as("n_per_arm"),
      Seal.ratio4("conv", "n_units").as("p_hat"), round(mde, 4).as("mde_abs"),
      round(mde / p, 4).as("mde_rel"))
  }

  /** Cumulative Poisson(1) CDF thresholds, written as decimal literals so
    * Spark and the oracle SQL parse the IDENTICAL doubles (the weight is
    * DEFINED by this cascade, so both engines agree even in the extreme
    * tail the cascade truncates at w = 10, P ≈ 1e-8). */
  val PoissonCdf1: Seq[Double] = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238463, 0.9963401531726563, 0.9994058151824183,
    0.999916758850712, 0.9999897508033253, 0.999998874797402,
    0.9999998885745216)

  /** Poisson bootstrap of a mean: B deterministic resamples, each row's
    * replication count w ~ Poisson(1) drawn by inverse-CDF on a
    * row-hash-seeded per-replicate LCG uniform — the DISTRIBUTED
    * bootstrap: no
    * global n anywhere, every weight is a per-row scalar expression, so
    * the whole resampling plan is one scan + one B-way explode + one
    * rep-keyed aggregation (the classic with-replacement index draw
    * needs n up front and a shuffle per resample). Output: one row
    * (n_reps, boot_mean, boot_se, ci_lo, ci_hi) — the standard-error /
    * percentile-CI readout for "how sure are we about this mean".
    *
    * Determinism: replicate means quantize to 1e-4 fixed-point longs;
    * their mean/variance use exact integer (decimal-38) sums; the CI is
    * the exact linear-interpolation percentile over the B quantized
    * means (the q09 parity device). Σw = 0 for a replicate (P ≈ e^{-n})
    * yields a NULL mean via nullif, excluded by count. */
  def poissonBootstrap(df: DataFrame, id: Column, vCents: Column,
                       b: Int, salt: String): DataFrame = {
    require(b >= 2, "need at least 2 bootstrap replicates")
    // ONE md5 per ROW (not per row×replicate — at B=64 that is 64× the
    // hash cost and dominated the whole suite), split into two
    // independent 60-bit halves; each replicate's uniform is the
    // row-seeded integer LCG (h1 + rep·h2') mod 1e6 — every op stays
    // far below 2^63, so wrapping-vs-raising engines agree exactly.
    // Replicates of one row walk an arithmetic progression mod 1e6
    // with a row-specific stride; across 10⁵+ rows the stride is
    // hash-uniform, so replicate MEANS stay effectively independent
    // (the per-row progression averages out in the aggregation).
    val u = (((pmod(col("h1"), lit(1000000L)) +
      col("rep") * pmod(col("h2"), lit(999983L))) % lit(1000000L))
      .cast("double") + lit(0.5)) / lit(1e6)
    // w = #thresholds strictly below u — the inverse-CDF step function
    val w = PoissonCdf1.map(c => when(col("u") >= lit(c), 1L).otherwise(0L))
      .reduce(_ + _)
    val md = md5(concat(col("id").cast("string"), lit(salt))
      .cast("binary"))
    val reps = df.select(id.as("id"), vCents.cast("long").as("x"))
      .where(col("id").isNotNull && col("x").isNotNull)
      .withColumn("__md", md)
      .withColumn("h1", conv(substring(col("__md"), 1, 15), 16, 10)
        .cast("long"))
      .withColumn("h2", conv(substring(col("__md"), 16, 15), 16, 10)
        .cast("long"))
      .withColumn("rep", explode(sequence(lit(1), lit(b))))
      .withColumn("u", u)
      .withColumn("w", w)
      .groupBy("rep")
      .agg(sum(col("w") * col("x")).as("sx"), sum("w").as("sw"))
      .select(col("rep"),
        round(col("sx").cast("double") * lit(1e4) /
          nullif(col("sw"), lit(0L)).cast("double"), 0).cast("long")
          .as("m4"))
      .where(col("m4").isNotNull)
    val d38 = "decimal(38,0)"
    reps.agg(count(lit(1)).as("nb"),
        sum(col("m4").cast(d38)).as("s1"),
        sum(col("m4").cast(d38) * col("m4").cast(d38)).as("s2"),
        percentile(col("m4"), lit(0.05)).as("p05"),
        percentile(col("m4"), lit(0.95)).as("p95"))
      .select(col("nb").as("n_reps"),
        round(col("s1").cast("double") /
          (col("nb").cast("double") * lit(1e4)), 4).as("boot_mean"),
        round(sqrt((col("s2").cast("double") -
          col("s1").cast("double") * col("s1").cast("double") /
            col("nb").cast("double")) /
          (col("nb") - 1).cast("double")) / lit(1e4), 4).as("boot_se"),
        round(col("p05") / lit(1e4), 4).as("ci_lo"),
        round(col("p95") / lit(1e4), 4).as("ci_hi"))
  }

  /** Difference-in-differences readout: units hash-split into
    * treat/control (the [[srmCheck]] family's deterministic assignment),
    * time split at `cutoff`, and the 2×2 cell means of an integer
    * metric combine into DiD = (T_post−T_pre) − (C_post−C_pre) — the
    * parallel-trends estimator for "did the thing we shipped move the
    * metric beyond what the control drifted". One cell-keyed
    * aggregation; the closing arithmetic is four divisions of exact
    * integer sums in one sealed expression. */
  def diffInDiff(df: DataFrame, unit: Column, ts: Column, vCents: Column,
                 cutoff: String, salt: String): DataFrame = {
    val cut = to_timestamp(lit(cutoff))
    val cells = df.select(unit.as("u"), ts.as("ts"),
        vCents.cast("long").as("x"))
      .where(col("u").isNotNull && col("ts").isNotNull && col("x").isNotNull)
      .select(
        when(pmod(Dedup.hash60(concat(col("u").cast("string"), lit(salt))),
          lit(2L)) === 0, lit("T")).otherwise(lit("C")).as("arm"),
        when(col("ts") >= cut, lit("post")).otherwise(lit("pre")).as("per"),
        col("x"))
      .groupBy("arm", "per")
      .agg(sum("x").as("sx"), count(lit(1)).as("n"))
    def sx(arm: String, per: String) = max(when(col("arm") === arm &&
      col("per") === per, col("sx")))
    def nn(arm: String, per: String) = max(when(col("arm") === arm &&
      col("per") === per, col("n")))
    val d38 = "decimal(38,0)"
    def dec(c: Column) = c.cast(d38)
    // each cell mean sx/(100·n) and the DiD contrast are exact rationals;
    // the contrast goes over the common denominator 100·Πn (decimal38 —
    // cents sums × n³ pass 2⁶³) and everything seals via Seal.ratio4
    cells.agg(sx("T", "pre").as("stp"), nn("T", "pre").as("ntp"),
        sx("T", "post").as("stq"), nn("T", "post").as("ntq"),
        sx("C", "pre").as("scp"), nn("C", "pre").as("ncp"),
        sx("C", "post").as("scq"), nn("C", "post").as("ncq"),
        sum(when(col("arm") === "T", col("n")).otherwise(0L)).as("n_treat"),
        sum(when(col("arm") === "C", col("n")).otherwise(0L)).as("n_ctrl"))
      .withColumn("dtp", col("ntp") * lit(100L))
      .withColumn("dtq", col("ntq") * lit(100L))
      .withColumn("dcp", col("ncp") * lit(100L))
      .withColumn("dcq", col("ncq") * lit(100L))
      .withColumn("dnum",
        dec(col("stq")) * dec(col("ntp")) * dec(col("ncq")) * dec(col("ncp")) -
        dec(col("stp")) * dec(col("ntq")) * dec(col("ncq")) * dec(col("ncp")) -
        dec(col("scq")) * dec(col("ntq")) * dec(col("ntp")) * dec(col("ncp")) +
        dec(col("scp")) * dec(col("ntq")) * dec(col("ntp")) * dec(col("ncq")))
      .withColumn("dden", lit(100L).cast(d38) * dec(col("ntq")) *
        dec(col("ntp")) * dec(col("ncq")) * dec(col("ncp")))
      .select(col("n_treat"), col("n_ctrl"),
        Seal.ratio4("stp", "dtp").as("mean_t_pre"),
        Seal.ratio4("stq", "dtq").as("mean_t_post"),
        Seal.ratio4("scp", "dcp").as("mean_c_pre"),
        Seal.ratio4("scq", "dcq").as("mean_c_post"),
        Seal.ratio4("dnum", "dden").as("did"))
  }

  /** Stratified average treatment effect — inverse-propensity weighting
    * with a DISCRETE propensity model (within stratum s, e(s) = nₜ/n_s),
    * where IPW algebra collapses to the stratification estimator
    *   ATE = Σ_s (n_s/N) · (ȳ_{T,s} − ȳ_{C,s})
    * (Imbens & Rubin 2015, subclassification): confounding carried by the
    * stratum (activity tier, cohort, region) is removed, which a raw
    * T−C mean difference would absorb as bias.
    *
    * Determinism device: arm = hash60(unit‖salt) mod 2 (the [[diffInDiff]]
    * assignment); each stratum's term n_s·(Σyₜ·n_c − Σy_c·nₜ)/(nₜ·n_c) is
    * computed from longs, quantized to a 1e-6 fixed-point long (the
    * chiSqTerm/PSI device) and integer-summed, then sealed by ONE
    * round(,4) division by N — cross-engine hash-exact regardless of
    * stratum association order. Strata with an empty arm cannot estimate
    * a within-stratum contrast and are excluded from both Σ and N
    * (`n_strata_used` vs `n_strata` reports the trim — the standard
    * overlap/positivity restriction).
    *
    * Scale: one unit-level hash agg per stratum cell (map-side
    * combinable), a stratum-count agg, and a 1-row reduce — nothing
    * proportional to units crosses the final stage. */
  def stratifiedAte(df: DataFrame, unit: Column, stratum: Column, y: Column,
                    salt: String): DataFrame = {
    val rows = df.select(unit.as("u"), stratum.as("s"), y.cast("long").as("y"))
      .where(col("u").isNotNull && col("s").isNotNull && col("y").isNotNull)
      .select(col("s"), col("y"),
        when(pmod(Dedup.hash60(concat(col("u").cast("string"), lit(salt))),
          lit(2L)) === 0, lit(1L)).otherwise(lit(0L)).as("t"))
    val cells = rows.groupBy("s")
      .agg(sum("t").as("nt"), sum(lit(1L) - col("t")).as("nc"),
        sum(col("t") * col("y")).as("syt"),
        sum((lit(1L) - col("t")) * col("y")).as("syc"))
    val used = cells.where(col("nt") > 0 && col("nc") > 0)
      .select(col("nt"), col("nc"),
        (col("nt") + col("nc")).as("ns"),
        // 1e-6 fixed-point stratum term: n_s·(syt·nc − syc·nt)/(nt·nc)
        round((col("nt") + col("nc")).cast("double") *
            (col("syt") * col("nc") - col("syc") * col("nt")).cast("double") *
            lit(1e6) / (col("nt") * col("nc")).cast("double"), 0)
          .cast("long").as("t6"))
    val tot = cells.agg(count(lit(1)).as("n_strata"),
      sum("nt").as("n_treat"), sum("nc").as("n_ctrl"))
    // empty-input / no-overlap hardening (the snapshotDiff convention):
    // zero counts, NULL ate — never SQL-NULL counts or a 0/0 NaN
    used.agg(count(lit(1)).as("n_strata_used"),
        coalesce(sum("ns"), lit(0L)).as("n_used"),
        coalesce(sum("t6"), lit(0L)).as("st6"))
      .crossJoin(broadcast(tot)) // 1-row totals build side
      .select(col("n_strata"),
        col("n_strata_used"),
        coalesce(col("n_treat"), lit(0L)).as("n_treat"),
        coalesce(col("n_ctrl"), lit(0L)).as("n_ctrl"),
        round(col("st6").cast("double") /
          (lit(1e6) * nullif(col("n_used"), lit(0L)).cast("double")), 4)
          .as("ate"))
  }

  /** Mann-Whitney U (Wilcoxon rank-sum) two-sample test with the tie
    * correction — the nonparametric companion to [[welchTTest]]: no
    * normality assumption, driven purely by rank order, so one wild
    * outlier moves U by at most its rank displacement.
    *
    * Rank arithmetic is INTEGER throughout via the doubled-rank device:
    * ranks collapse to the distinct-VALUE spine (cum counts), where the
    * average rank of a t-fold tie is (2·below + t + 1)/2 — so twice the
    * rank is a long, twice the A rank-sum R₂ = Σ n_a·(2·below+t+1) is a
    * long, and 2U = R₂ − n₁(n₁+1) is a long. Only the normal
    * approximation touches doubles: σ² = n₁n₂/12·((n+1) − T/(n(n−1)))
    * with tie mass T = Σ(t³−t) exact, and z = (2U − n₁n₂)/(2σ) sealed
    * with round(,4). NULL z when a group is empty or all values tie
    * (σ = 0).
    *
    * Scale: the spine is DISTINCT-VALUE-sized and its cumulative pass
    * runs the distributed [[Ranked]] prefix — parallel at any value
    * cardinality, never a single-partition window. Everything else is
    * two hash aggs. */
  def mannWhitneyU(df: DataFrame, group: Column, value: Column,
                   a: String, b: String): DataFrame = {
    val vals = df.select(group.as("g"), value.cast("long").as("v"))
      .where(col("v").isNotNull && col("g").isin(a, b))
      .groupBy("v")
      .agg(sum(when(col("g") === a, 1L).otherwise(0L)).as("na"),
        sum(when(col("g") === b, 1L).otherwise(0L)).as("nb"))
      .withColumn("t", col("na") + col("nb"))
    // cumulative tie-group count from the distributed Ranked prefix —
    // no single-partition window over the value spine
    Ranked.withPrefix(vals, Seq(col("v")), Seq(col("t") -> "__cum"))
      .withColumn("below", col("__cum") - col("t"))
      .select(col("na"), col("nb"), col("t"),
        (col("na") * (lit(2L) * col("below") + col("t") + 1L)).as("r2a"),
        (col("t") * col("t") * col("t") - col("t")).as("tcube"))
      .agg(coalesce(sum("na"), lit(0L)).as("n1"),
        coalesce(sum("nb"), lit(0L)).as("n2"),
        coalesce(sum("r2a"), lit(0L)).as("r2"),
        coalesce(sum("tcube"), lit(0L)).as("tm"))
      .select(col("n1"), col("n2"),
        (col("r2") - col("n1") * (col("n1") + 1L)).as("u2"), // 2·U₁
        col("tm"), (col("n1") + col("n2")).as("n"))
      .select(col("n1"), col("n2"),
        (col("u2").cast("double") / lit(2.0)).as("u1"),
        round((col("u2") - col("n1") * col("n2")).cast("double") /
          (lit(2.0) * sqrt(nullif(
            col("n1").cast("double") * col("n2").cast("double") / lit(12.0) *
              ((col("n") + 1L).cast("double") -
                col("tm").cast("double") /
                  (col("n") * (col("n") - 1L)).cast("double")),
            lit(0.0)))), 4).as("z"))
  }

  /** McNemar paired-proportion test: for units observed under two paired
    * conditions (pre/post, variant-on/off), only the DISCORDANT pairs
    * carry information — b (yes→no) vs c (no→yes). χ² = (b−c)²/(b+c),
    * plus the continuity-corrected (|b−c|−1)²/(b+c) (Edwards), both NULL
    * when b+c = 0 (no discordance — nothing to test). The paired
    * counterpart to the independent-sample z test (q167): the same user
    * appearing on both sides violates that test's independence
    * assumption, THIS one is built for it.
    *
    * Integer counts to the final sealed division; one unit-keyed
    * aggregation (map-side combinable min/max flags) then a 1-row
    * reduce. */
  def mcnemar(df: DataFrame, unit: Column, pre: Column, post: Column): DataFrame = {
    val flags = df.select(unit.as("u"), pre.cast("long").as("p1"),
        post.cast("long").as("p2"))
      .where(col("u").isNotNull && col("p1").isNotNull && col("p2").isNotNull)
      .groupBy("u").agg(max("p1").as("p1"), max("p2").as("p2"))
    flags.agg(count(lit(1)).as("n_units"),
        coalesce(sum(when(col("p1") === 1L && col("p2") === 1L, 1L)
          .otherwise(0L)), lit(0L)).as("both"),
        coalesce(sum(when(col("p1") === 1L && col("p2") === 0L, 1L)
          .otherwise(0L)), lit(0L)).as("b"),
        coalesce(sum(when(col("p1") === 0L && col("p2") === 1L, 1L)
          .otherwise(0L)), lit(0L)).as("c"),
        coalesce(sum(when(col("p1") === 0L && col("p2") === 0L, 1L)
          .otherwise(0L)), lit(0L)).as("neither"))
      .withColumn("mnum", (col("b") - col("c")) * (col("b") - col("c")))
      .withColumn("cnum", (abs(col("b") - col("c")) - 1L) *
        (abs(col("b") - col("c")) - 1L))
      .withColumn("mden", nullif(col("b") + col("c"), lit(0L)))
      .select(col("n_units"), col("both"), col("b"), col("c"), col("neither"),
        Seal.ratio4("mnum", "mden").as("chi2"),
        Seal.ratio4("cnum", "mden").as("chi2_cc"))
  }

  /** Kendall τ-b rank correlation per group — the concordant/discordant
    * pair statistic with the tie correction:
    *   τ-b = (C − D) / √((n₀ − n₁)(n₀ − n₂)),
    * n₀ = n(n−1)/2, n₁/n₂ = tied pairs in x/y (ties in BOTH count in
    * both, the Kendall 1945 definition). The robust companion to
    * Spearman (q203): τ depends only on pair orderings, so every count
    * is an exact long and only the final √-division is floating point
    * (sealed round(,4)). Groups where one variable is constant have a
    * zero denominator → NULL τ via nullif, with the counts still
    * reported. Null x/y rows are dropped up front (the family
    * convention); `id` must be unique per row — it defines the i<j pair
    * enumeration.
    *
    * Scale: the pair join is keyed by GROUP (one shuffle); within-group
    * work is quadratic in group size — right for bounded groups
    * (entities per region, suppliers per nation). Past ~10⁴ rows per
    * group, swap the O(n log n) spelling: C − D from inversion counting
    * on y-ranks sorted by x (merge-sort recursion as iterated
    * self-joins), same statistic, no quadratic pair set. */
  def kendallTauB(df: DataFrame, group: Column, id: Column, x: Column,
                  y: Column): DataFrame = {
    val rows = df.select(group.as("g"), id.cast("long").as("i"),
        x.cast("long").as("x"), y.cast("long").as("y"))
      .where(col("g").isNotNull && col("i").isNotNull &&
        col("x").isNotNull && col("y").isNotNull)
    val a = rows.select(col("g"), col("i").as("ia"), col("x").as("xa"),
      col("y").as("ya"))
    val b = rows.select(col("g"), col("i").as("ib"), col("x").as("xb"),
      col("y").as("yb"))
    val pairs = a.join(b, Seq("g")).where(col("ia") < col("ib"))
      .select(col("g"),
        signum((col("xb") - col("xa")).cast("double")).cast("long").as("sx"),
        signum((col("yb") - col("ya")).cast("double")).cast("long").as("sy"))
    pairs.groupBy("g")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("sx") * col("sy") === 1L, 1L).otherwise(0L)).as("c"),
        sum(when(col("sx") * col("sy") === -1L, 1L).otherwise(0L)).as("d"),
        sum(when(col("sx") === 0L, 1L).otherwise(0L)).as("tx"),
        sum(when(col("sy") === 0L, 1L).otherwise(0L)).as("ty"))
      .select(col("g"), col("n_pairs"), col("c"), col("d"),
        col("tx").as("ties_x"), col("ty").as("ties_y"),
        round((col("c") - col("d")).cast("double") /
          sqrt(nullif((col("n_pairs") - col("tx")) *
            (col("n_pairs") - col("ty")), lit(0L)).cast("double")), 4)
          .as("tau_b"))
      .orderBy("g")
  }

  /** One-way ANCOVA (common-slope model): group means of `y` adjusted
    * for the covariate `x`,
    *
    *   β_w = Σ_g Sxy_g / Σ_g Sxx_g,
    *   adj_mean_g = ȳ_g − β_w·(x̄_g − x̄),
    *
    * the "does the group still differ once the covariate is held
    * fixed?" readout. One grouped pass of five exact long sums; each
    * group's centered moments Sxy = Σxy − ΣxΣy/n are single-double
    * ops quantized to 1e-4 fixed-point before the k-row pooled sums
    * (scales cancel in β); the grand covariate mean is a 1-row
    * broadcast. Zero pooled covariate variance yields SQL-NULL β and
    * adjusted means. */
  def ancova(df: DataFrame, group: Column, x: Column,
             y: Column): DataFrame = {
    def q4(c: Column) = round(c * lit(1e4), 0).cast("long")
    val d = df.select(group.as("g"), x.cast("long").as("x"),
        y.cast("long").as("y"))
      .where(col("g").isNotNull && col("x").isNotNull &&
        col("y").isNotNull)
    val per = d.groupBy("g").agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("g"), col("n"), col("sx"), col("sy"),
        q4(col("sxy").cast("double") -
          col("sx").cast("double") * col("sy") / col("n")).as("cxy4"),
        q4(col("sxx").cast("double") -
          col("sx").cast("double") * col("sx") / col("n")).as("cxx4"))
    val pooled = per.agg(sum("cxy4").as("pxy"), sum("cxx4").as("pxx"),
      sum("sx").as("tsx"), sum("n").as("tn"))
    // adj_mean = sy/n − (pxy/pxx)·(sx/n − tsx/tn) over the common
    // denominator n·pxx·tn — decimal38 carries the products
    per.crossJoin(broadcast(pooled))
      .withColumn("npxx", nullif(col("pxx"), lit(0L)))
      .withColumn("anum",
        col("sy").cast("decimal(38,0)") * col("npxx").cast("decimal(38,0)") *
          col("tn").cast("decimal(38,0)") -
        col("pxy").cast("decimal(38,0)") *
          (col("sx").cast("decimal(38,0)") * col("tn").cast("decimal(38,0)") -
           col("tsx").cast("decimal(38,0)") * col("n").cast("decimal(38,0)")))
      .withColumn("aden", col("n").cast("decimal(38,0)") *
        col("npxx").cast("decimal(38,0)") * col("tn").cast("decimal(38,0)"))
      .select(col("g"), col("n"),
        Seal.ratio4("sy", "n").as("mean_y"),
        Seal.ratio4("pxy", "npxx").as("slope_w"),
        Seal.ratio4("anum", "aden").as("adj_mean_y"))
      .orderBy("g")
  }

  /** First-order partial correlation r_{xy·z}: the x–y association
    * with z's linear influence removed,
    *
    *   r_{xy·z} = (r_xy − r_xz·r_yz) / √((1 − r_xz²)(1 − r_yz²))
    *
    * — all three pairwise correlations fall out of ONE nine-sum
    * map-side-combinable aggregation over INTEGER-quantized variables
    * (the [[pearson]] power sums, three variable pairs at once), so no
    * input row is read twice. Each r is the exact-long closed form
    * cast once to double; the composite is sealed with round(,4).
    * NULL when any marginal variance is zero or either 1−r² factor
    * vanishes (a perfectly z-explained variable has no leftover
    * association to measure). */
  def partialCorr(df: DataFrame, x: Column, y: Column,
                  z: Column): DataFrame = {
    val d = df.select(x.cast("long").as("x"), y.cast("long").as("y"),
        z.cast("long").as("z"))
      .where(col("x").isNotNull && col("y").isNotNull &&
        col("z").isNotNull)
    val s = d.agg(count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"), sum("z").as("sz"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("z") * col("z")).as("szz"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("z")).as("sxz"),
      sum(col("y") * col("z")).as("syz"))
    def rr(sab: String, a: String, saa: String, b: String, sbb: String) =
      (col("n") * col(sab) - col(a) * col(b)).cast("double") /
        nullif(sqrt((col("n") * col(saa) - col(a) * col(a))
            .cast("double") *
          (col("n") * col(sbb) - col(b) * col(b)).cast("double")),
          lit(0.0))
    val withR = s.select(col("n"),
      rr("sxy", "sx", "sxx", "sy", "syy").as("rxy"),
      rr("sxz", "sx", "sxx", "sz", "szz").as("rxz"),
      rr("syz", "sy", "syy", "sz", "szz").as("ryz"))
    withR.select(col("n"),
      round(col("rxy"), 4).as("r_xy"),
      round(col("rxz"), 4).as("r_xz"),
      round(col("ryz"), 4).as("r_yz"),
      round((col("rxy") - col("rxz") * col("ryz")) /
        nullif(sqrt((lit(1.0) - col("rxz") * col("rxz")) *
          (lit(1.0) - col("ryz") * col("ryz"))), lit(0.0)), 4)
        .as("r_partial"))
  }

  /** Closed-form two-feature ridge regression (centered, no-intercept
    * normal equations with an L2 penalty): solves
    *
    *   [S11+λ  S12 ] [β1]   [S1y]
    *   [S12    S22+λ] [β2] = [S2y]
    *
    * where S_ab = n·Σab − Σa·Σb are the n-scaled centered second
    * moments — EXACT longs from one nine-sum map-side-combinable
    * aggregation (λ is therefore on the same n² scale; callers pick it
    * against their row counts). The 2×2 solve is Cramer's rule on
    * doubles (each S an exact-integer-valued double, each product a
    * single IEEE op), the intercept recovers ȳ − β1·x̄1 − β2·x̄2 from
    * the same sums, and a singular penalized system (det = 0) yields
    * SQL-NULL betas. Same quantize-coarsely contract as [[pearson]]. */
  def ridge2(df: DataFrame, x1: Column, x2: Column, y: Column,
             lambda: Double): DataFrame = {
    val d = df.select(x1.cast("long").as("x1"), x2.cast("long").as("x2"),
        y.cast("long").as("y"))
      .where(col("x1").isNotNull && col("x2").isNotNull &&
        col("y").isNotNull)
    val s = d.agg(count(lit(1)).as("n"),
      sum("x1").as("s1"), sum("x2").as("s2"), sum("y").as("sy"),
      sum(col("x1") * col("x1")).as("s11"),
      sum(col("x2") * col("x2")).as("s22"),
      sum(col("x1") * col("x2")).as("s12"),
      sum(col("x1") * col("y")).as("s1y"),
      sum(col("x2") * col("y")).as("s2y"))
    val m = s.select(col("n"), col("s1"), col("s2"), col("sy"),
      ((col("n") * col("s11") - col("s1") * col("s1")).cast("double") +
        lit(lambda)).as("a"),
      (col("n") * col("s12") - col("s1") * col("s2")).cast("double")
        .as("b"),
      ((col("n") * col("s22") - col("s2") * col("s2")).cast("double") +
        lit(lambda)).as("c"),
      (col("n") * col("s1y") - col("s1") * col("sy")).cast("double")
        .as("e"),
      (col("n") * col("s2y") - col("s2") * col("sy")).cast("double")
        .as("f"))
    val solved = m.select(col("n"), col("s1"), col("s2"), col("sy"),
      (col("c") * col("e") - col("b") * col("f")).as("num1"),
      (col("a") * col("f") - col("b") * col("e")).as("num2"),
      nullif(col("a") * col("c") - col("b") * col("b"), lit(0.0))
        .as("det"))
    solved.select(col("n"),
      round(col("num1") / col("det"), 4).as("beta1"),
      round(col("num2") / col("det"), 4).as("beta2"),
      round(col("sy").cast("double") / col("n") -
        col("num1") / col("det") * (col("s1").cast("double") / col("n")) -
        col("num2") / col("det") * (col("s2").cast("double") / col("n")), 4)
        .as("intercept"))
  }

  /** Group-sequential A/B monitor: the two-proportion z recomputed at
    * every daily look over CUMULATIVE counts, compared to a constant
    * (Pocock-style) boundary — the "when could we have stopped?" audit
    * that also exposes why peeking at the naive 1.96 inflates false
    * positives. Per-day per-arm counts collapse the unit table to a
    * day-spine; cumulative sums are exact-long prefix windows over that
    * spine; each look's z is the standard √-composed double over exact
    * ints (boundary-free seal class) and the crossing flag compares
    * |z| to the literal boundary on identical doubles. */
  def sequentialMonitor(df: DataFrame, day: Column, variant: Column,
                        conv: Column, a: String, b: String,
                        boundary: Double = 2.413): DataFrame = {
    val d = df.select(day.as("d"), variant.as("v"),
        conv.cast("long").as("c"))
      .where(col("d").isNotNull && col("v").isin(a, b) &&
        col("c").isNotNull)
      .groupBy("d")
      .agg(sum(when(col("v") === a, 1L).otherwise(0L)).as("na"),
        sum(when(col("v") === b, 1L).otherwise(0L)).as("nb"),
        sum(when(col("v") === a, col("c")).otherwise(0L)).as("ca"),
        sum(when(col("v") === b, col("c")).otherwise(0L)).as("cb"))
    val w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    val cum = d.select(col("d"),
      sum("na").over(w).as("cna"), sum("nb").over(w).as("cnb"),
      sum("ca").over(w).as("cca"), sum("cb").over(w).as("ccb"))
    val pa = col("cca").cast("double") / col("cna")
    val pb = col("ccb").cast("double") / col("cnb")
    val pool = (col("cca") + col("ccb")).cast("double") /
      (col("cna") + col("cnb"))
    val z = (pa - pb) / nullif(sqrt(pool * (lit(1.0) - pool) *
      (lit(1.0) / col("cna") + lit(1.0) / col("cnb"))), lit(0.0))
    cum
      .where(col("cna") > 0 && col("cnb") > 0)
      .withColumn("z", round(z, 4))
      .select(col("d").as("look_day"), col("cna").as("n_a"),
        col("cnb").as("n_b"),
        Seal.ratio4("cca", "cna").as("rate_a"),
        Seal.ratio4("ccb", "cnb").as("rate_b"),
        col("z"),
        coalesce((abs(z) >= lit(boundary)).cast("long"), lit(0L))
          .as("crossed"))
      .orderBy("look_day")
  }
}
