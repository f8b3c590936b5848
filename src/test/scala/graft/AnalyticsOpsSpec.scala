package graft

import org.apache.spark.sql.functions._

/** Round-8 analytics operators: Jaro-Winkler, CUSUM changepoint, Gini,
  * WOE/IV, Brier/log-loss, DP histogram — hand-computed pins plus the
  * family null/degenerate conventions. */
class AnalyticsOpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- Jaro-Winkler expression ---------------------------------------

  test("jaroWinkler matches the classic hand-computed values") {
    val got = Seq(
      ("MARTHA", "MARHTA"), ("DWAYNE", "DUANE"), ("DIXON", "DICKSONX"),
      ("abc", "abc"), ("", "abc"), ("", ""), ("ab", "ba"), ("x", "xyz"))
      .toDF("a", "b")
      .select(org.apache.spark.sql.graft.StringSimExprs
        .jaroWinkler(col("a"), col("b")).as("jw"))
      .collect().map(_.getDouble(0))
    // DIXON/DICKSONX: jaro 23/30, prefix 2 → 0.81333…; ''≡'' pins the
    // DuckDB convention (0, not 1)
    val want = Seq(0.9611111111111111, 0.84, 0.8133333333333332,
      1.0, 0.0, 0.0, 0.0, 0.8)
    got.zip(want).foreach { case (g, w) => assert(math.abs(g - w) < 1e-12) }
  }

  test("jaroWinkler nulls propagate and codegen agrees with interpreted") {
    val df = Seq((Some("abc"), None: Option[String]),
      (None: Option[String], Some("abc"))).toDF("a", "b")
    val out = df.select(org.apache.spark.sql.graft.StringSimExprs
      .jaroWinkler(col("a"), col("b"))).collect()
    assert(out.forall(_.isNullAt(0)))
    // interpreted path (nullSafeEval) — same kernel, but exercise it
    // explicitly so a codegen-only regression can't hide
    import org.apache.spark.unsafe.types.UTF8String
    assert(math.abs(org.apache.spark.sql.graft.StringSim.jaroWinkler(
      UTF8String.fromString("MARTHA"), UTF8String.fromString("MARHTA"))
      - 0.9611111111111111) < 1e-12)
  }

  test("jaroWinklerPairs blocks, thresholds, and counts frequencies") {
    val df = Seq(
      ("B1", "red widget"), ("B1", "red gadget"), ("B1", "red widget"),
      ("B1", "blue bolt"), ("B2", "red widget"), ("B2", "red widgets"),
      ("B1", null.asInstanceOf[String]), (null.asInstanceOf[String], "x"))
      .toDF("brand", "name")
    val out = FuzzyJoin.jaroWinklerPairs(df, col("brand"), col("name"), 0.85)
      .orderBy("blk", "name_a", "name_b").collect()
    // B1: widget/gadget pair (0.895 ≥ 0.85; blue bolt too far);
    // B2: widget/widgets (prefix-heavy, ~0.9818); nulls dropped
    assert(out.length === 2)
    assert(out(0).getString(0) === "B1" &&
      out(0).getString(1) === "red gadget" &&
      out(0).getString(2) === "red widget" &&
      math.abs(out(0).getDouble(3) - 0.895) < 1e-9 &&
      out(0).getLong(4) === 1L && out(0).getLong(5) === 2L)
    assert(out(1).getString(0) === "B2" &&
      math.abs(out(1).getDouble(3) - 0.9818) < 1e-4)
    // cross-block identical names must NOT pair
    assert(!out.exists(r => r.getString(1) == r.getString(2)))
  }

  // ---- CUSUM changepoint ---------------------------------------------

  test("cusumChangepoint finds a hand-planted level shift") {
    // 10 days at 100 then 10 days at 200 → |S| peaks at the boundary
    val days = (1 to 20).map(d =>
      (java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00"),
        if (d <= 10) 100L else 200L))
    val out = Timeseries.cusumChangepoint(days.toDF("day", "cents"),
      col("day"), col("cents")).collect()
    assert(out.length === 1)
    val r = out(0)
    assert(r.getTimestamp(0) ===
      java.sql.Timestamp.valueOf("2024-01-10 00:00:00"))
    // mean 150; S_10 = 10·(100−150) = −500 cents = −5.00 dollars
    assert(math.abs(r.getDouble(1) - 5.0) < 1e-9)
    assert(r.getString(2) === "down_then_up")
    assert(r.getLong(3) === 20L)
    assert(math.abs(r.getDouble(4) - 1.5) < 1e-9)
  }

  test("cusumChangepoint breaks argmax ties to the earliest day") {
    // symmetric square wave: |S| attains its max at multiple days
    val days = Seq(
      ("2024-01-01", 0L), ("2024-01-02", 100L),
      ("2024-01-03", 0L), ("2024-01-04", 100L))
      .map { case (d, v) => (java.sql.Timestamp.valueOf(d + " 00:00:00"), v) }
    val out = Timeseries.cusumChangepoint(days.toDF("day", "cents"),
      col("day"), col("cents")).collect()(0)
    // S scaled by n=4: day1 → 4·0−1·200=−200; day2 → 4·100−2·200=0;
    // day3 → 4·100−3·200=−200; earliest argmax = day 1
    assert(out.getTimestamp(0) ===
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
  }

  // ---- Gini ----------------------------------------------------------

  test("gini pins perfect equality, strong inequality, and NULL guards") {
    val df = Seq(
      ("eq", 10L, 1L), ("eq", 10L, 2L), ("eq", 10L, 3L), ("eq", 10L, 4L),
      ("uneq", 0L, 1L), ("uneq", 0L, 2L), ("uneq", 0L, 3L), ("uneq", 100L, 4L),
      ("zero", 0L, 1L), ("zero", 0L, 2L),
      ("neg", -5L, 1L), ("neg", 10L, 2L))
      .toDF("g", "v", "tie")
    val out = Skew.gini(df, col("g"), col("v"), col("tie"))
      .orderBy("g").collect()
    val byG = out.map(r => r.getString(0) -> r).toMap
    assert(byG("eq").getDouble(3) === 0.0)
    // uneq: sorted 0,0,0,100; G = (2·400 − 5·100)/(4·100) = 0.75
    assert(math.abs(byG("uneq").getDouble(3) - 0.75) < 1e-9)
    assert(byG("zero").isNullAt(3)) // Σx = 0 → NULL, not div-by-zero
    // negative values drop (documented domain), leaving n=1 → G = (2−2)/1 = 0
    assert(byG("neg").getLong(1) === 1L)
  }

  // ---- WOE / IV ------------------------------------------------------

  test("woeIv hand-computed two-bucket case, one-sided skip rule") {
    // bucket 1: 30 good, 10 bad; bucket 2: 10 good, 30 bad; bucket 3 all good
    val rows =
      Seq.fill(30)((1L, 0L)) ++ Seq.fill(10)((1L, 1L)) ++
      Seq.fill(10)((2L, 0L)) ++ Seq.fill(30)((2L, 1L)) ++
      Seq.fill(5)((3L, 0L))
    val df = rows.toDF("bin", "y")
    val out = RankEval.woeIv(df, col("bin"), col("y")).orderBy("bin").collect()
    assert(out.length === 3)
    val g = 45.0; val b = 40.0
    val woe1 = math.log((30 / g) / (10 / b))
    val woe2 = math.log((10 / g) / (30 / b))
    assert(math.abs(out(0).getDouble(4) - woe1) < 1e-4)
    assert(math.abs(out(1).getDouble(4) - woe2) < 1e-4)
    assert(out(2).isNullAt(4) && out(2).getLong(3) === 1L) // one-sided
    val iv = (30 / g - 10 / b) * woe1 + (10 / g - 30 / b) * woe2
    assert(math.abs(out(0).getDouble(5) - iv) < 1e-4)
    assert(out(0).getDouble(5) === out(2).getDouble(5)) // same IV all rows
  }

  // ---- Brier / log-loss ----------------------------------------------

  test("brierLogloss pins a hand case and clamps degenerate probabilities") {
    val df = Seq((0.9, 1L), (0.1, 0L), (1.0, 0L), (0.0, 1L))
      .toDF("p", "y")
    val out = RankEval.brierLogloss(df, col("p"), col("y")).collect()(0)
    assert(out.getLong(0) === 4L && out.getLong(1) === 2L)
    // brier = (0.01 + 0.01 + 1 + 1)/4 = 0.505
    assert(math.abs(out.getDouble(2) - 0.505) < 1e-6)
    // clamped: −ln(0.9)−ln(0.9)−ln(1e-6)−ln(1e-6) over 4
    val ll = (-math.log(0.9) * 2 - math.log(1e-6) * 2) / 4
    assert(math.abs(out.getDouble(3) - ll) < 1e-3)
  }

  // ---- Count-min sketch ----------------------------------------------

  test("countMin JVM cell function matches the xxhash64 expression twin") {
    val keys = Seq(0L, 1L, -1L, 42L, Long.MaxValue, Long.MinValue, 987654321L)
    val df = keys.toDF("k")
    for (d <- 0 until CountMin.Depth) {
      val got = df.select(pmod(xxhash64(col("k"), lit(d.toLong)),
        lit(CountMin.Width.toLong)).cast("int")).collect().map(_.getInt(0))
      val want = keys.map(k => CountMin.cell(k, d))
      assert(got.toSeq === want)
    }
  }

  test("countMin estimates are exact without collisions, >= truth always") {
    val df = (1 to 50).flatMap(k => Seq.fill(k)(k.toLong)).toDF("k")
    val cms = CountMin.sketch(df, col("k"))
    val keys = (1 to 50).map(_.toLong).toDF("k")
    val est = CountMin.estimates(keys, col("k"), cms)
      .orderBy("k").collect()
    // 50 keys in 4×16384 cells: collision-free in practice → exact
    est.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(1) === (i + 1).toLong)
    }
    // forced-collision regime: width cells shared by many keys still
    // never UNDER-estimate (CMS one-sided error) — emulate by querying
    // keys that were never inserted: estimate must be >= 0 and equals
    // the collision mass, never negative
    val ghost = Seq(1000001L, 1000002L).toDF("k")
    CountMin.estimates(ghost, col("k"), cms).collect()
      .foreach(r => assert(r.getLong(1) >= 0L))
  }

  test("countMin sketch merges across partitions associatively") {
    val one = (1 to 400).map(_.toLong).toDF("k").repartition(8)
    val cms = CountMin.sketch(one, col("k"))
    val est = CountMin.estimates(Seq(7L, 399L).toDF("k"), col("k"), cms)
      .orderBy("k").collect()
    assert(est.map(_.getLong(1)).toSeq === Seq(1L, 1L))
  }

  // ---- Interval overlap join -----------------------------------------

  test("overlapPairs matches the naive quadratic join, pairs meet once") {
    // deterministic synthetic: 3 keys, varied spans incl. multi-bucket
    val rows = for {
      k <- 1 to 3; i <- 1 to 25
    } yield (k.toLong, (k * 100 + i).toLong,
      (i * 7 % 40).toLong, (i * 7 % 40 + i % 13).toLong)
    val df = rows.toDF("k", "id", "s", "e")
    val got = IntervalJoin.overlapPairs(df, col("k"), col("id"), col("s"),
      col("e"), bucketDays = 5)
      .orderBy("k", "id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val naive = (for {
      (k1, i1, s1, e1) <- rows; (k2, i2, s2, e2) <- rows
      if k1 == k2 && i1 < i2 && s1 <= e2 && s2 <= e1
    } yield (k1, i1, i2, math.min(e1, e2) - math.max(s1, s2) + 1))
      .sortBy(t => (t._1, t._2, t._3))
    assert(got.toSeq === naive) // equality ⇒ no pair lost, none doubled
  }

  test("overlapPairs boundary semantics: closed intervals, inverted drop") {
    val df = Seq(
      (1L, 1L, 10L, 20L), (1L, 2L, 20L, 30L), // touch at 20 → overlap 1
      (1L, 3L, 31L, 40L),                     // adjacent, no touch
      (1L, 4L, 50L, 45L))                     // inverted → dropped
      .toDF("k", "id", "s", "e")
    val got = IntervalJoin.overlapPairs(df, col("k"), col("id"), col("s"),
      col("e"), bucketDays = 7).collect()
    assert(got.length === 1)
    assert(got(0).getLong(1) === 1L && got(0).getLong(2) === 2L &&
      got(0).getLong(3) === 1L)
  }

  // ---- Bigram logprob -------------------------------------------------

  test("bigramLogprob hand-computed two-doc corpus") {
    val df = Seq((1L, "a b a b"), (2L, "a b"), (3L, "x"))
      .toDF("doc_id", "text")
    val out = LanguageModel.bigramLogprob(df, col("doc_id"), col("text"))
      .orderBy("doc_id").collect()
    // corpus bigrams: doc1: ab, ba, ab; doc2: ab → c(ab)=3, c(ba)=1
    // starts: c(a·)=3, c(b·)=1; V = 3 (a, b, x); doc3 has no bigram
    assert(out.length === 2)
    val pAB = math.log(4.0 / 6.0) // (3+1)/(3+3)
    val pBA = math.log(2.0 / 4.0) // (1+1)/(1+3)
    val d1 = (2 * pAB + pBA) / 3.0
    assert(out(0).getLong(1) === 3L)
    assert(math.abs(out(0).getDouble(2) - d1) < 1e-4)
    assert(math.abs(out(0).getDouble(3) - math.exp(-d1)) < 1e-3)
    assert(out(1).getLong(1) === 1L)
    assert(math.abs(out(1).getDouble(2) - pAB) < 1e-4)
  }

  // ---- PCA ------------------------------------------------------------

  test("covarianceMatrix matches a hand covariance") {
    val df = Seq(
      Array(1.0f, 2.0f), Array(2.0f, 4.0f), Array(3.0f, 6.0f))
      .toDF("embedding")
    val out = Pca.covarianceMatrix(df, col("embedding"))
      .orderBy("i", "j").collect()
    // x = (1,2,3), y = 2x: var(x)=1, cov(x,y)=2, var(y)=4 (sample, n−1)
    assert(out.map(r => (r.getInt(0), r.getInt(1), r.getDouble(3))).toSeq ===
      Seq((0, 0, 1.0), (0, 1, 2.0), (1, 1, 4.0)))
  }

  test("covarianceMatrix seals .00005 boundaries in integer space") {
    // two 2-dim vectors quantizing to (0, 10000) / (10000, 0): every
    // covariance cell's exact quotient is ±1e8/2e12 = ±0.00005 — a value
    // no double represents, which is precisely where the old
    // round(double, 4) seal diverged between Spark and DuckDB (q219).
    // The integer-space seal must round half away from zero: ±0.0001.
    val df = Seq(Array(0.0f, 0.01f), Array(0.01f, 0.0f)).toDF("embedding")
    val out = Pca.covarianceMatrix(df, col("embedding"))
      .orderBy("i", "j").collect()
    assert(out.map(r => (r.getInt(0), r.getInt(1), r.getDouble(3))).toSeq ===
      Seq((0, 0, 0.0001), (0, 1, -0.0001), (1, 1, 0.0001)))
  }

  // ---- MRR ------------------------------------------------------------

  test("mrr hand case: first-relevant ranks, groups without relevant") {
    val df = Seq(
      // g1: scores 30,20,10 — relevant at rank 2
      ("g1", 30L, 0L, 1L), ("g1", 20L, 1L, 2L), ("g1", 10L, 1L, 3L),
      // g2: relevant at rank 1
      ("g2", 9L, 1L, 1L), ("g2", 5L, 0L, 2L),
      // g3: no relevant
      ("g3", 7L, 0L, 1L))
      .toDF("g", "s", "y", "id")
    val out = RankEval.mrr(df, col("g"), col("s"), col("y"), col("id"))
      .collect()(0)
    assert(out.getLong(0) === 3L && out.getLong(1) === 2L)
    assert(math.abs(out.getDouble(2) - 0.75) < 1e-9) // (1/2 + 1)/2
  }

  // ---- Poisson bootstrap ----------------------------------------------

  test("poissonBootstrap is seeded-deterministic and centered near truth") {
    val df = (1 to 500).map(i => (i.toLong, 1000L + (i % 7) * 10L))
      .toDF("id", "x")
    val a = Trend.poissonBootstrap(df, col("id"), col("x"), 32, "t1")
      .collect()(0)
    val b = Trend.poissonBootstrap(df, col("id"), col("x"), 32, "t1")
      .collect()(0)
    assert(a === b) // same salt → identical report
    // boot_mean stays in the metric's own units (cents here — the /1e4
    // in the operator is the fixed-point quantization scale, not a unit
    // conversion)
    val truth = df.agg(avg("x")).collect()(0).getDouble(0)
    assert(math.abs(a.getDouble(1) - truth) < 5.0) // cents, loose
    assert(a.getDouble(2) > 0) // SE positive
    assert(a.getDouble(3) <= a.getDouble(1) && a.getDouble(1) <= a.getDouble(4))
    assert(a.getLong(0) === 32L)
  }

  // ---- Diff-in-diff ---------------------------------------------------

  test("diffInDiff recovers a planted treatment effect exactly") {
    // arms are hash-assigned; find which arm key 1..40 lands in, then
    // plant +500 cents on treated-post rows only
    val ts0 = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    val ts1 = java.sql.Timestamp.valueOf("2024-01-20 00:00:00")
    val armOf = (1 to 40).map { k =>
      k.toLong -> Dedup.hash60(concat(lit(k.toString), lit("sx")))
    }
    val armDf = (1 to 40).map(k => Tuple1(k.toLong)).toDF("u")
      .select(col("u"), pmod(Dedup.hash60(concat(col("u").cast("string"),
        lit("sx"))), lit(2L)).as("h")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1) == 0L)).toMap
    val rows = (1 to 40).flatMap { k =>
      val treated = armDf(k.toLong)
      Seq((k.toLong, ts0, 1000L),
        (k.toLong, ts1, if (treated) 1500L else 1000L))
    }
    val out = Trend.diffInDiff(rows.toDF("u", "ts", "x"), col("u"),
      col("ts"), col("x"), "2024-01-16 00:00:00", "sx").collect()(0)
    assert(math.abs(out.getDouble(6) - 5.0) < 1e-9) // +$5 DiD exactly
    assert(math.abs(out.getDouble(4) - out.getDouble(5)) < 1e-9) // control flat
  }

  // ---- Qini bands ------------------------------------------------------

  test("qiniBands cumulative uplift hand case with empty-control guard") {
    val df = Seq(
      // band 2: 2T (1 conv), 2C (0 conv) → qini after band2 = 1 − 0 = 1
      (2L, 1L, 1L), (2L, 1L, 0L), (2L, 0L, 0L), (2L, 0L, 0L),
      // band 1: 1T (0 conv), 1C (1 conv) → cum: yt=1, yc=1, nt=3, nc=3
      (1L, 1L, 0L), (1L, 0L, 1L),
      // band 0: control empty in cum? no — keep a T-only band LAST so the
      // cumulative control is still populated; qini stays defined
      (0L, 1L, 1L))
      .toDF("band", "t", "y")
    val out = RankEval.qiniBands(df, col("band"), col("t"), col("y"))
      .orderBy(desc("band")).collect()
    assert(out.length === 3)
    assert(math.abs(out(0).getDouble(5) - 1.0) < 1e-9)
    assert(math.abs(out(1).getDouble(5) - 0.0) < 1e-9) // 1 − 1·3/3
    assert(math.abs(out(2).getDouble(5) - (2.0 - 1.0 * 4 / 3)) < 1e-4)
    // all-treated input → cumulative control 0 → NULL qini, no crash
    val solo = Seq((1L, 1L, 1L)).toDF("band", "t", "y")
    assert(RankEval.qiniBands(solo, col("band"), col("t"), col("y"))
      .collect()(0).isNullAt(5))
  }

  // ---- DP histogram --------------------------------------------------

  test("dpHistogram noise is seeded, bounded-ish, and epsilon-scaled") {
    val df = (1 to 100).map(i => s"cat${i % 4}").toDF("c")
    val a = Privacy.dpHistogram(df, col("c"), 0.5, "s1").orderBy("cell")
      .collect()
    val b = Privacy.dpHistogram(df, col("c"), 0.5, "s1").orderBy("cell")
      .collect()
    val c = Privacy.dpHistogram(df, col("c"), 0.5, "s2").orderBy("cell")
      .collect()
    // same salt → identical release; different salt → different noise
    assert(a.map(_.getDouble(1)).sameElements(b.map(_.getDouble(1))))
    assert(!a.map(_.getDouble(1)).sameElements(c.map(_.getDouble(1))))
    // noise centered on the true count 25: all draws within ±(1/ε)·ln(1e6)
    a.foreach { r =>
      assert(math.abs(r.getDouble(1) - 25.0) <= 2.0 * math.log(1e6) + 1e-9)
      assert(r.getDouble(2) === 0.5)
    }
  }

  // ---- HyperLogLog ----------------------------------------------------

  test("hllDistinct estimates within the p=6 error bound and ignores duplicates") {
    val df = (1 to 300).map(i => ("g", s"user_$i")).toDF("g", "v")
    val est = Sketches.hllDistinct(df, col("g"), col("v"))
      .collect().head.getDouble(4)
    // σ = 1.04/√64 ≈ 13%; 3σ ≈ 39%
    assert(math.abs(est - 300.0) / 300.0 < 0.39, s"est=$est")
    // duplicate-insensitivity: registers are maxes, so ×5 replication of
    // every value leaves the sketch (and estimate) bit-identical
    val dup = (1 to 300).flatMap(i => Seq.fill(5)(("g", s"user_$i")))
      .toDF("g", "v")
    val estDup = Sketches.hllDistinct(dup, col("g"), col("v"))
      .collect().head.getDouble(4)
    assert(est === estDup)
  }

  test("hllDistinct small range uses linear counting and stays near-exact") {
    val df = (1 to 5).map(i => ("g", s"v$i")).toDF("g", "v")
    val r = Sketches.hllDistinct(df, col("g"), col("v")).collect().head
    assert(r.getLong(2) >= 59) // ≥59 of 64 buckets empty with 5 values
    // 64·ln(64/V) with V ≥ 59 empty: linear counting is exact-ish here
    assert(math.abs(r.getDouble(4) - 5.0) < 1.0, s"est=${r.getDouble(4)}")
  }

  // ---- golden records -------------------------------------------------

  private def gr(rows: Seq[(Long, String, String, String, Option[Long])]) = {
    val df = rows.toDF("id", "text", "lang", "source", "nchars")
    Dedup.goldenRecords(df, col("id"), col("text"), col("lang"),
      col("source"), col("nchars"), col("source"))
  }

  test("goldenRecords applies anchor / mode / best rules per cluster") {
    val out = gr(Seq(
      (1L, "dup", "en", "s1", Some(10L)),
      (2L, "dup", "en", "s2", Some(50L)),
      (3L, "dup", "fr", "s3", Some(20L)),
      (9L, "uniq", "de", "s9", Some(7L))))
      .orderBy("golden_id").collect()
    val a = out(0)
    assert(a.getAs[Long]("golden_id") === 1L && a.getAs[Long]("n_members") === 3L)
    assert(a.getAs[String]("mode_val") === "en")     // majority lang
    assert(a.getAs[String]("anchor_val") === "s1")   // min-id row's source
    assert(a.getAs[String]("best_val") === "s2")     // max-nchars row's source
    assert(a.getAs[Long]("best_metric") === 50L)
    val u = out(1)
    assert(u.getAs[Long]("golden_id") === 9L && u.getAs[Long]("n_members") === 1L)
  }

  test("goldenRecords tie-breaks: mode → smallest value, best → smallest id") {
    val out = gr(Seq(
      (1L, "d", "fr", "s1", Some(5L)),
      (2L, "d", "en", "s2", Some(5L)))) // lang tie 1–1, metric tie 5–5
      .collect().head
    assert(out.getAs[String]("mode_val") === "en") // smallest value wins tie
    assert(out.getAs[String]("best_val") === "s1") // smallest id wins tie
  }

  test("goldenRecords null conventions: abstaining mode votes, null metrics rank last") {
    val df = Seq(
      (1L, "d", null: String, "s1", None: Option[Long]),
      (2L, "d", null: String, "s2", Some(3L)),
      (3L, "d", "en", "s3", None: Option[Long]),
      (7L, "allnull", null: String, "s7", None: Option[Long]))
      .toDF("id", "text", "lang", "source", "nchars")
    val out = Dedup.goldenRecords(df, col("id"), col("text"), col("lang"),
      col("source"), col("nchars"), col("source"))
      .orderBy("golden_id").collect()
    val d = out(0)
    assert(d.getAs[String]("mode_val") === "en")  // nulls abstain
    assert(d.getAs[String]("best_val") === "s2")  // only non-null metric wins
    assert(d.getAs[Long]("best_metric") === 3L)
    val an = out(1) // all-null cluster: NULL mode, min-id best, NULL metric
    assert(an.isNullAt(an.fieldIndex("mode_val")))
    assert(an.getAs[String]("best_val") === "s7")
    assert(an.isNullAt(an.fieldIndex("best_metric")))
  }

  // ---- target encoding ------------------------------------------------

  test("targetEncodingLoo hand-computed map (m=1)") {
    val df = Seq(("A", 1L), ("A", 0L), ("A", 0L), ("B", 1L), ("B", 1L))
      .toDF("cat", "y")
    val out = Encode.targetEncodingLoo(df, col("cat"), col("y"), m = 1L)
      .collect()
    val a = out(0) // gn=5, gs=3: pos (0·5+3)/15=0.2; neg (5+3)/15; avg 19/45
    assert(a.getAs[Double]("enc_pos") === 0.2)
    assert(a.getAs[Double]("enc_neg") === 0.5333)
    assert(a.getAs[Double]("avg_enc") === 0.4222)
    val b = out(1) // all-positive: enc_neg NULL; pos (5+3)/10
    assert(b.getAs[Double]("enc_pos") === 0.8)
    assert(b.isNullAt(b.fieldIndex("enc_neg")))
    assert(b.getAs[Double]("avg_enc") === 0.8)
  }

  test("targetEncodingLoo: singleton category falls back to the prior; m=0 rejected") {
    val df = Seq(("A", 1L), ("B", 0L), ("B", 1L), ("B", 0L)).toDF("c", "y")
    val a = Encode.targetEncodingLoo(df, col("c"), col("y"), m = 1L)
      .collect()(0)
    // n=1, m=1: enc(y) = (0·gn + 1·gs)/(1·gn) = prior = 2/4
    assert(a.getAs[Double]("enc_pos") === 0.5)
    intercept[IllegalArgumentException] {
      Encode.targetEncodingLoo(df, col("c"), col("y"), m = 0L)
    }
  }

  // ---- stratified ATE -------------------------------------------------

  test("stratifiedAte matches a hand-replicated estimate and trims single-arm strata") {
    val units = (1 to 400).map(i => (i.toLong, if (i % 2 == 0) "s_even" else "s_odd",
      (i % 5 == 0).toString)) // y ≈ 20% everywhere; arm is hash-assigned
    val df = units.toDF("u", "st", "ys")
      .withColumn("y", (col("ys") === "true").cast("long"))
    val got = Trend.stratifiedAte(df, col("u"), col("st"), col("y"), "t1")
      .collect().head
    // replicate: same hash arm per unit, exact per-stratum algebra
    val arm = df.select(col("st"), col("y"),
        when(pmod(Dedup.hash60(concat(col("u").cast("string"), lit("t1"))),
          lit(2L)) === 0, 1L).otherwise(0L).as("t"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val cells = arm.groupBy(_._1).map { case (s, rs) =>
      val nt = rs.count(_._3 == 1L); val nc = rs.size - nt
      val syt = rs.filter(_._3 == 1L).map(_._2).sum
      val syc = rs.filter(_._3 == 0L).map(_._2).sum
      (s, nt.toLong, nc.toLong, syt, syc)
    }.filter(c => c._2 > 0 && c._3 > 0).toSeq
    val nUsed = cells.map(c => c._2 + c._3).sum
    // HALF_UP at both rounding sites, matching Spark's round()
    val st6 = cells.map { case (_, nt, nc, syt, syc) =>
      BigDecimal((nt + nc).toDouble * (syt * nc - syc * nt).toDouble * 1e6 /
        (nt * nc).toDouble).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }.sum
    val want = BigDecimal(st6.toDouble / (1e6 * nUsed))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(got.getAs[Double]("ate") - want) < 1e-9)
    assert(got.getAs[Long]("n_strata") === 2L &&
      got.getAs[Long]("n_strata_used") === 2L)
    // a single-unit stratum has one arm only → excluded from the estimate
    val df2 = df.union(Seq((9999L, "s_solo", "false")).toDF("u", "st", "ys")
      .withColumn("y", lit(0L)))
    val g2 = Trend.stratifiedAte(df2, col("u"), col("st"), col("y"), "t1")
      .collect().head
    assert(g2.getAs[Long]("n_strata") === 3L &&
      g2.getAs[Long]("n_strata_used") === 2L)
  }

  // ---- Theil-Sen ------------------------------------------------------

  test("theilSen hand-computed slope/intercept and outlier robustness") {
    val df = (Seq((1L, 10L), (2L, 20L), (3L, 50L)).map(p => ("a", p._1, p._2))
      ++ (1 to 9).map(t => ("b", t.toLong, 10L * t))
      :+ ("b", 10L, 100000L)) // one wild outlier
      .toDF("g", "t", "y")
    val out = Timeseries.theilSen(df, col("g"), col("t"), col("y"))
      .collect()
    val a = out(0) // slopes 10,20,30 → median 20; residuals −10,−20,−10 → −10
    assert(a.getAs[Long]("n_points") === 3L && a.getAs[Long]("n_pairs") === 3L)
    assert(a.getAs[Double]("slope") === 20.0)
    assert(a.getAs[Double]("intercept") === -10.0)
    // OLS would be dragged far above 10 by the 100000 outlier; the pair
    // median barely moves (≤9 of 45 pairs touch the outlier)
    val b = out(1)
    assert(b.getAs[Double]("slope") === 10.0)
    assert(b.getAs[Double]("intercept") === 0.0)
  }

  // ---- Adamic-Adar ----------------------------------------------------

  test("adamicAdar weights shared baskets by 1/ln size, deterministic top-k ties") {
    val df = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (2L, 3L),
      (3L, 2L), (3L, 3L), (4L, 9L)) // basket 4 is a singleton → no pairs
      .toDF("b", "it")
    val w2 = math.round(1e6 / math.log(2)) // 1442695
    val w3 = math.round(1e6 / math.log(3)) // 910239
    val all = Cooccur.adamicAdar(df, col("b"), col("it"), k = 10).collect()
    assert(all.length === 3)
    val top2 = Cooccur.adamicAdar(df, col("b"), col("it"), k = 2).collect()
    // (1,2) and (2,3) tie at w2+w3; tie-break is (item_a, item_b) asc
    assert(top2.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 2L), (2L, 3L)))
    assert(top2.forall(_.getAs[Double]("score") ===
      math.rint((w2 + w3).toDouble / 100.0) / 10000.0))
    assert(top2.head.getAs[Long]("n_shared") === 2L)
  }

  // ---- Kendall τ-b ----------------------------------------------------

  test("kendallTauB hand-computed, tie-corrected, NULL on constant margin") {
    val df = (Seq((1L, 1L, 1L), (2L, 2L, 3L), (3L, 3L, 2L), (4L, 4L, 4L))
      .map(p => ("plain", p._1, p._2, p._3))
      ++ Seq(("ties", 1L, 1L, 1L), ("ties", 2L, 1L, 2L), ("ties", 3L, 2L, 2L))
      ++ Seq(("const", 1L, 7L, 1L), ("const", 2L, 7L, 2L)))
      .toDF("g", "id", "x", "y")
    val out = Trend.kendallTauB(df, col("g"), col("id"), col("x"), col("y"))
      .collect()
    val c = out(0) // constant x: denominator 0 → NULL
    assert(c.getAs[Long]("ties_x") === 1L && c.isNullAt(c.fieldIndex("tau_b")))
    val p = out(1) // C=5, D=1 → 4/6
    assert(p.getAs[Long]("c") === 5L && p.getAs[Long]("d") === 1L)
    assert(p.getAs[Double]("tau_b") === 0.6667)
    val t = out(2) // C=1, tx=ty=1 → 1/√(2·2) = 0.5
    assert(t.getAs[Long]("c") === 1L && t.getAs[Double]("tau_b") === 0.5)
  }

  // ---- Flesch parts ---------------------------------------------------

  test("fleschParts counts words, clamped sentences, vowel-group syllables") {
    val out = Seq("The cat. It ran!", "xyz").toDF("t")
      .select(TextAnalysis.fleschParts(col("t")).as("p"))
      .select("p.words", "p.sentences", "p.syllables").collect()
    assert(out(0).getLong(0) === 4L) // whitespace tokens
    assert(out(0).getLong(1) === 2L) // '.' + '!'
    assert(out(0).getLong(2) === 4L) // e, a, i, a
    assert(out(1).getLong(0) === 1L)
    assert(out(1).getLong(1) === 1L) // clamped: no terminator
    assert(out(1).getLong(2) === 1L) // 'y' counts as a vowel group
  }

  // ---- Mann-Whitney U -------------------------------------------------

  test("mannWhitneyU hand-computed: clean, tied, and degenerate cases") {
    val clean = Seq(("A", 1L), ("A", 2L), ("B", 3L), ("B", 4L)).toDF("g", "v")
    val r1 = Trend.mannWhitneyU(clean, col("g"), col("v"), "A", "B")
      .collect().head
    // ranks 1..4: U₁ = 0; z = −4/(2·√(4·5/12)) = −1.5492
    assert(r1.getAs[Double]("u1") === 0.0)
    assert(r1.getAs[Double]("z") === -1.5492)
    val tied = Seq(("A", 1L), ("A", 1L), ("B", 1L), ("B", 2L)).toDF("g", "v")
    val r2 = Trend.mannWhitneyU(tied, col("g"), col("v"), "A", "B")
      .collect().head
    // avg rank of the 3-tie = 2 → U₁ = 1; T = 24 → σ² = 1, z = −1
    assert(r2.getAs[Double]("u1") === 1.0)
    assert(r2.getAs[Double]("z") === -1.0)
    val const = Seq(("A", 5L), ("B", 5L)).toDF("g", "v")
    val r3 = Trend.mannWhitneyU(const, col("g"), col("v"), "A", "B")
      .collect().head
    assert(r3.isNullAt(r3.fieldIndex("z"))) // all tied → σ = 0 → NULL
  }

  // ---- McNemar --------------------------------------------------------

  test("mcnemar counts discordant pairs; NULL when none; event rows collapse per unit") {
    val df = Seq((1L, 1L, 0L), (1L, 0L, 0L), // unit 1 collapses to (1,0)
      (2L, 0L, 1L), (3L, 0L, 1L), (4L, 1L, 1L), (5L, 0L, 0L))
      .toDF("u", "pre", "post")
    val r = Trend.mcnemar(df, col("u"), col("pre"), col("post"))
      .collect().head
    assert(r.getAs[Long]("n_units") === 5L && r.getAs[Long]("b") === 1L &&
      r.getAs[Long]("c") === 2L && r.getAs[Long]("both") === 1L)
    assert(r.getAs[Double]("chi2") === 0.3333) // (1−2)²/3
    assert(r.getAs[Double]("chi2_cc") === 0.0) // (|−1|−1)²/3
    val conc = Seq((1L, 1L, 1L), (2L, 0L, 0L)).toDF("u", "pre", "post")
    val r2 = Trend.mcnemar(conc, col("u"), col("pre"), col("post"))
      .collect().head
    assert(r2.isNullAt(r2.fieldIndex("chi2"))) // b+c = 0
  }

  // ---- IPF raking -----------------------------------------------------

  test("rake2d hand-traced two-round fixed-point weights") {
    val pop = (Seq.fill(4)(("A", "X")) ++ Seq.fill(4)(("A", "Y")) ++
      Seq.fill(2)(("B", "X")) ++ Seq.fill(2)(("B", "Y"))).toDF("r", "c")
    val smp = (Seq.fill(2)(("A", "X")) ++ Seq(("B", "Y"))).toDF("r", "c")
    val out = Raking.rake2d(smp, pop, col("r"), col("c"), iters = 2)
      .collect()
    // trace: row→4e6 both; col→3e6/6e6; row→4e6/4e6; col→3e6/6e6
    assert(out.length === 2)
    assert(out(0).getAs[Long]("w6") === 3000000L) // (A,X), n=2 → covers X=6
    assert(out(1).getAs[Long]("w6") === 6000000L) // (B,Y) → covers Y=6
    assert(out(0).getAs[Double]("weight") === 3.0)
  }

  // ---- feature hashing ------------------------------------------------

  test("featureHashing buckets token counts, drops empty tokens, ranks deterministically") {
    val df = Seq(("s1", "a  b a")).toDF("src", "t") // double space → empty tok
    val buckets = spark.range(1)
      .select(pmod(Dedup.hash28(lit("a")), lit(64L)).as("ba"),
        pmod(Dedup.hash28(lit("b")), lit(64L)).as("bb"))
      .collect().head
    assert(buckets.getLong(0) !== buckets.getLong(1)) // fixture sanity
    val out = Encode.featureHashing(df, col("src"), col("t"), 64, k = 2)
      .collect()
    assert(out.length === 2)
    assert(out(0).getAs[Long]("weight") === 2L &&
      out(0).getAs[Long]("bucket") === buckets.getLong(0))
    assert(out(1).getAs[Long]("weight") === 1L &&
      out(1).getAs[Long]("rn") === 2L)
  }

  test("stratifiedAte empty input: zero counts, NULL ate") {
    val df = Seq.empty[(Long, String, Long)].toDF("u", "st", "y")
    val r = Trend.stratifiedAte(df, col("u"), col("st"), col("y"), "x")
      .collect().head
    assert(r.getAs[Long]("n_strata") === 0L && r.getAs[Long]("n_treat") === 0L)
    assert(r.isNullAt(r.fieldIndex("ate")))
  }
}
