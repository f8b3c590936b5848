package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew remedies for shuffle keys with hot values.
  *
  * AQE's skew-join handling (on by default) splits oversized sort-merge
  * partitions at runtime and is the first line of defense. Explicit
  * salting remains the tool when AQE can't help: broadcast-ineligible
  * dimension joins with a few catastrophic keys, or deterministic layout
  * requirements.
  */
object Skew {

  /** Hill tail-index estimator over the top-k order statistics of a
    * POSITIVE integer metric: α̂ = (k−1) / Σ_{i<k} ln(xᵢ/x_k) — the
    * heavy-tail exponent (α ≈ 1 Zipf-extreme, α > 3 effectively
    * thin-tailed). The top-k select is a rank filter (WindowGroupLimit
    * keeps the sort k-deep), per-item ln terms quantize to 1e-6 longs
    * before the exact k-row sum, and x_k rides the same window. NULL α
    * on a constant top block (zero ln-sum). */
  def hillTail(df: DataFrame, v: Column, tie: Column,
               k: Int = 100): DataFrame = {
    require(k >= 3, "k must be >= 3")
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(desc("x"), col("t"))
    val top = df.select(v.cast("long").as("x"), tie.as("t"))
      .where(col("x").isNotNull && col("x") > 0 && col("t").isNotNull)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
    val xk = top.where(col("rn") === k).select(col("x").as("xk"))
    top.where(col("rn") < k)
      .crossJoin(broadcast(xk))
      .select(col("xk"),
        round(log(col("x").cast("double") / col("xk")) * lit(1e6), 0)
          .cast("long").as("l6"))
      .groupBy("xk").agg(count(lit(1)).as("km1"), sum("l6").as("sl6"))
      .select(lit(k.toLong).as("k"), col("xk").as("x_k"),
        round(col("km1").cast("double") /
          nullif(col("sl6").cast("double") / lit(1e6), lit(0.0)), 4)
          .as("hill_alpha"))
  }
  /** Salted equi-join: scatter the probe side's hot keys across `salts`
    * sub-keys and replicate the (small) build side once per salt. The
    * hot key's rows land on `salts` reducers instead of one; the build
    * side grows `salts`×, so keep it the smaller input. Inner-join
    * equivalence with the unsalted join is pinned by the unit suite. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, salts: Int): DataFrame = {
    require(salts > 0, "salts must be positive")
    // deterministic-within-run scatter; any well-spread per-row value works
    val saltedBig = big.withColumn("__salt",
      pmod(hash(monotonically_increasing_id()), lit(salts)))
    val saltedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedBig.join(saltedSmall, Seq(key, "__salt")).drop("__salt")
  }

  /** Key-distribution report — the DIAGNOSTIC that decides whether the
    * remedies above are needed: one row of (n_keys, n_rows, max_share,
    * top10_share, gini) for a prospective shuffle key.
    *
    * Gini over per-key counts c₁ ≤ … ≤ cₙ (ascending, ranked with the key
    * as tie-break): Σ(2i − n − 1)·cᵢ / (n·Σc) — integer numerator and
    * denominator, one double division, round(,4) (FIXTURES.md).
    *
    * Scale: pass 1 is a map-side-combined count per key; NO per-key rank
    * is ever materialized. A tie block of m keys sharing count c at key
    * prefix P (keys with smaller count) contributes exactly
    * c·m·(2P + m − n) to the Gini numerator (arithmetic-series collapse
    * of Σ(2i−n−1)·c over i = P+1..P+m — bit-identical to the row_number
    * spelling, which the oracle still runs), so the only ordered
    * structure is the COUNT-VALUE spine: d distinct counts satisfy
    * d(d+1)/2 ≤ Σc, so d ≤ √(2·n_rows) — PROVABLY sublinear (≈450k
    * spine rows at 10¹¹ input rows), unlike the key-count table whose
    * cardinality is unbounded (the bounded-spine window convention of
    * weightedPercentileBucketed/aucRocBucketed, here with a bound). The
    * top-10 block is a TakeOrderedAndProject (10 rows per partition
    * before the driver merge), never a global sort — total order (c, k)
    * makes its boundary engine-exact. Billions of keys never meet a
    * single-task window. */
  def keyDistribution(df: DataFrame, key: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val para = df.sparkSession.sessionState.conf.numShufflePartitions
    // three consumers (spine, totals, top-10) — pin the key-count table
    // once, repartitioned by the spine key (the q266 checkpoint rule)
    val counts = df.select(key.as("k")).groupBy("k")
      .agg(count(lit(1)).as("c"))
      .repartition(para, col("c"))
      .localCheckpoint()
    val wC = Window.orderBy("c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val spine = counts.groupBy("c").agg(count(lit(1)).as("m"))
      .withColumn("pfx", sum("m").over(wC) - col("m"))
    val tot = counts.agg(count(lit(1)).as("n_keys"), sum("c").as("n_rows"),
      max("c").as("max_c"))
    val gini = spine.crossJoin(broadcast(tot))
      .agg(sum(col("c") * col("m") *
        (lit(2) * col("pfx") + col("m") - col("n_keys"))).as("gini_num"))
    val top10 = counts.orderBy(desc("c"), desc("k")).limit(10)
      .agg(coalesce(sum("c"), lit(0L)).as("top10_c"))
    tot.crossJoin(broadcast(gini)).crossJoin(broadcast(top10))
      .withColumn("gden", col("n_keys") * col("n_rows"))
      .select(col("n_keys"), col("n_rows"),
        // exact count ratios seal in integer space (Seal.ratio4): the
        // double round(,4) diverges cross-engine on .00005 boundaries
        Seal.ratio4("max_c", "n_rows").as("max_share"),
        Seal.ratio4("top10_c", "n_rows").as("top10_share"),
        Seal.ratio4("gini_num", "gden").as("gini"))
  }

  /** Salt-factor planning table — the MEASURED readout behind "how many
    * salts does this hot key need": for each candidate factor s, split
    * every key into s sub-buckets by `saltBasis mod s` (the
    * deterministic stand-in for the runtime salt draw) and report the
    * worst bucket a single reducer would receive. max_bucket_rows is
    * the straggler bound that decides the shuffle's wall-clock; the
    * factor to pick is the smallest s whose hotspot_share stops
    * improving (diminishing returns read directly off the table).
    * Complements [[keyDistribution]] (which diagnoses the skew) and
    * [[saltedJoin]] (which executes the chosen factor).
    *
    * Scale shape: ONE corpus aggregation keyed (key, saltBasis mod
    * max-factor) — every requested factor then derives by re-grouping
    * THAT bounded table (factors must divide the max factor, enforced),
    * so the corpus is read and shuffled exactly once regardless of how
    * many factors are evaluated. All counts exact longs; shares seal
    * with ratio4. */
  def saltPlanEval(df: DataFrame, key: Column, saltBasis: Column,
                   factors: Seq[Int]): DataFrame = {
    require(factors.nonEmpty && factors.forall(_ >= 1),
      "factors must be >= 1")
    val fmax = factors.max
    require(factors.forall(fmax % _ == 0),
      s"every factor must divide the max factor $fmax (one-pass contract)")
    val para = df.sparkSession.sessionState.conf.numShufflePartitions
    // one consumer per factor — pin the (key, salt) count table once,
    // repartitioned by key (the q266 checkpoint rule)
    val fine = df.select(key.as("k"),
        pmod(saltBasis.cast("long"), lit(fmax.toLong)).as("salt"))
      .where(col("k").isNotNull && col("salt").isNotNull)
      .groupBy("k", "salt").agg(count(lit(1)).as("c"))
      .repartition(para, col("k"))
      .localCheckpoint()
    factors.distinct.sorted.map { s =>
      fine.groupBy(col("k"), pmod(col("salt"), lit(s.toLong)).as("ss"))
        .agg(sum("c").as("c"))
        .agg(lit(s.toLong).as("salt_factor"),
          count(lit(1)).as("n_buckets"),
          sum("c").as("n_rows"),
          max("c").as("max_bucket_rows"))
        .select(col("salt_factor"), col("n_buckets"), col("n_rows"),
          col("max_bucket_rows"),
          Seal.ratio4("max_bucket_rows", "n_rows").as("hotspot_share"))
    }.reduce(_.unionByName(_)).orderBy("salt_factor")
  }

  /** Herfindahl–Hirschman concentration index per group: HHI = Σ share²
    * over each member's share of the group's INTEGER weight total —
    * the market-concentration companion to [[keyDistribution]]'s gini
    * (HHI weighs the square, so one dominant member moves it far more
    * than many small ones; 1/k = perfectly even, 1 = monopoly).
    *
    * Scale: one (group, member)-keyed map-side-combinable sum, a
    * group-keyed re-aggregation of that (members-sized) table for
    * totals, broadcast back. No window, no global ordering. Per-member
    * share² terms are quantized to 1e-8 fixed-point longs before the
    * exact cross-member sum (FIXTURES.md). */
  def hhi(df: DataFrame, group: Column, member: Column,
          weight: Column): DataFrame = {
    val m = df.select(group.as("g"), member.as("mb"),
        weight.cast("long").as("w"))
      .groupBy("g", "mb").agg(sum("w").as("w"))
    val t = m.groupBy("g").agg(sum("w").as("tw"))
    val sh = col("w").cast("double") / col("tw").cast("double")
    m.join(broadcast(t), "g")
      .select(col("g"), col("tw"),
        round(sh * sh * lit(1e8), 0).cast("long").as("t"))
      .groupBy("g", "tw")
      .agg(count(lit(1)).as("n_members"), sum("t").as("s8"))
      .select(col("g"), col("n_members"), col("tw").as("total_weight"),
        Seal.pow4("s8", 8).as("hhi"))
  }

  /** Robust per-group location estimates for a heavy-tailed INTEGER
    * metric: the plain mean next to the winsorized mean (values clamped
    * to the exact [lo, hi] group percentiles) and the trimmed mean
    * (values outside them dropped) — the "is the average just three
    * whales?" readout.
    *
    * Scale: one group-keyed exact-percentile aggregation (group
    * cardinality output — the q09 convention; swap in approx_percentile
    * when groups carry 10⁸+ members), broadcast back, one more keyed
    * aggregation. Determinism: the percentile cut points are quantized
    * to 1e-4 fixed-point longs FIRST, every comparison and clamp then
    * runs in exact integer space (v·10⁴ vs cut4), and each mean is one
    * rounded division of exact long sums. A group too small to place any
    * value strictly inside the interpolated [lo, hi] band (e.g. two
    * values at 5–95%) emits SQL-NULL trim_mean with n_kept = 0 — an
    * explicit nullif, not an accidental divide-by-zero. */
  def trimmedStats(df: DataFrame, group: Column, v: Column,
                   lo: Double = 0.05, hi: Double = 0.95): DataFrame = {
    require(0 <= lo && lo < hi && hi <= 1, "need 0 <= lo < hi <= 1")
    val base = df.select(group.as("g"), v.cast("long").as("v"))
    val cuts = base.groupBy("g").agg(
      count(lit(1)).as("n"), sum("v").as("sv"),
      round(percentile(col("v"), lit(lo)) * lit(1e4), 0).cast("long")
        .as("lo4"),
      round(percentile(col("v"), lit(hi)) * lit(1e4), 0).cast("long")
        .as("hi4"))
    val v4 = col("v") * 10000L
    val clamped = greatest(least(v4, col("hi4")), col("lo4"))
    val inside = v4 >= col("lo4") && v4 <= col("hi4")
    base.join(broadcast(cuts), "g")
      .groupBy("g", "n", "sv")
      .agg(sum(clamped).as("w4"),
        sum(when(inside, col("v"))).as("tv"),
        sum(when(inside, 1L).otherwise(0L)).as("tn"))
      .withColumn("wden", col("n") * lit(10000L))
      .withColumn("tnn", nullif(col("tn"), lit(0L)))
      .select(col("g"), col("n"),
        Seal.ratio4("sv", "n").as("mean"),
        Seal.ratio4("w4", "wden").as("winsor_mean"),
        Seal.ratio4("tv", "tnn").as("trim_mean"),
        col("tn").as("n_kept"))
  }

  /** Equi-join cardinality forecast — the "how big will this join be"
    * readout a planner wants BEFORE committing a 100 TB shuffle: exact
    * predicted output rows Σ_k cnt_a(k)·cnt_b(k) from the two sides'
    * key histograms, plus the single worst key's contribution (the
    * straggler bound — one reducer receives max_key_rows build+probe
    * rows in a plain shuffle join) and its share of the output. A
    * max_key_share near 1 says "salt this join" ([[saltedJoin]],
    * [[saltPlanEval]]); predicted_rows ≫ both inputs says "this is a
    * fan-out join — rethink the key".
    *
    * Scale shape: one count agg per side (map-side combinable), an
    * inner join of the two KEY HISTOGRAMS (key-cardinality-sized, not
    * corpus-sized), and 1-row rollups. The corpus rows themselves never
    * join. All counts exact longs; the share seals with ratio4. */
  def joinCardinalityEval(a: DataFrame, ka: Column,
                          b: DataFrame, kb: Column): DataFrame = {
    val ca = a.select(ka.as("k")).where(col("k").isNotNull)
      .groupBy("k").agg(count(lit(1)).as("ca"))
    val cb = b.select(kb.as("k")).where(col("k").isNotNull)
      .groupBy("k").agg(count(lit(1)).as("cb"))
    val ta = ca.agg(count(lit(1)).as("n_keys_a"), sum("ca").as("rows_a"))
    val tb = cb.agg(count(lit(1)).as("n_keys_b"), sum("cb").as("rows_b"))
    val joint = ca.join(cb, Seq("k"))
      .select(col("k"), (col("ca").cast("decimal(38,0)") * col("cb"))
        .as("out"))
    val agg = joint.agg(count(lit(1)).as("n_keys_joint"),
      coalesce(sum("out"), lit(0L).cast("decimal(38,0)"))
        .as("predicted_rows"),
      coalesce(max("out"), lit(0L).cast("decimal(38,0)"))
        .as("max_key_rows"))
    ta.crossJoin(broadcast(tb)).crossJoin(broadcast(agg))
      .select(col("n_keys_a"), col("n_keys_b"), col("rows_a"),
        col("rows_b"), col("n_keys_joint"),
        // clamp BEFORE the long cast: the extreme fan-out joins this
        // forecast exists to flag can overflow Long via the decimal
        // product, and a non-ANSI cast would turn exactly those rows
        // into NULL — the worst join would report no prediction
        least(col("predicted_rows"), lit(Long.MaxValue))
          .cast("long").as("predicted_rows"),
        least(col("max_key_rows"), lit(Long.MaxValue))
          .cast("long").as("max_key_rows"),
        when(col("predicted_rows") > 0,
          Seal.ratio4c(col("max_key_rows"), col("predicted_rows")))
          .as("max_key_share"))
  }

  /** Per-group Gini coefficient of a non-negative integer metric — the
    * inequality readout next to [[hhi]]'s concentration and
    * `paretoShare`'s top-share: G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx)
    * over the ascending sort x_(1..n). Complements HHI because Gini sees
    * the whole distribution, not just the big members' squared shares.
    *
    * Determinism: ranks come from row_number over (v, tie) — but the
    * statistic doesn't need the tie order to be meaningful: swapping
    * equal values across adjacent ranks leaves Σ i·x_(i) unchanged, so
    * ANY total order on ties yields the same Gini; the `tie` column only
    * pins the engines to the same plan. Integer throughout (i·x products
    * summed as longs), one sealed division. Groups with Σx = 0 or n = 1
    * emit SQL-NULL via nullif.
    *
    * Scale: rank-window parallelism = group cardinality (the
    * [[keyDistribution]] note); nationwide single-group runs switch to
    * the bucketed-rank spelling proven by q201. */
  def gini(df: DataFrame, group: Column, v: Column, tie: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("g")
      .orderBy(col("v"), col("tie"))
    df.select(group.as("g"), v.cast("long").as("v"), tie.as("tie"))
      .where(col("v").isNotNull && col("v") >= 0)
      .withColumn("i", row_number().over(w))
      .groupBy("g")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"),
        sum(col("i") * col("v")).as("siv"))
      .select(col("g"), col("n"), col("sv").as("total"),
        round((lit(2.0) * col("siv").cast("double") -
          (col("n") + 1).cast("double") * col("sv").cast("double")) /
          (col("n").cast("double") * nullif(col("sv"), lit(0L)).cast("double")),
          4).as("gini"))
  }
}
