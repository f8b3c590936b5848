package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._

/** Hand-computed pins for the growth/product-analytics operators
  * (q307–q314). */
class GrowthOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("ordered3 funnel: strict ordering, conversions, median gap") {
    // u1 completes all three (gaps 10s, 20s); u2 signs up and views;
    // u3 views BEFORE signup (must not count as step 2); u4 only signs up
    val df = Seq(
      (1L, ts("2024-01-01 00:00:00"), "signup"),
      (1L, ts("2024-01-01 00:00:10"), "view"),
      (1L, ts("2024-01-01 00:00:30"), "purchase"),
      (2L, ts("2024-01-01 00:00:00"), "signup"),
      (2L, ts("2024-01-01 00:01:00"), "view"),
      (3L, ts("2024-01-01 00:00:00"), "view"),
      (3L, ts("2024-01-01 00:00:05"), "signup"),
      (4L, ts("2024-01-01 00:00:00"), "signup"))
      .toDF("u", "t", "l")
    val out = Funnel.ordered3(df, col("u"), col("t"), col("l"),
      "signup", "view", "purchase").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(2))).toSeq ===
      Seq((1L, 4L), (2L, 2L), (3L, 1L)))
    val s2 = out(1); val s3 = out(2)
    assert(s2.getDouble(3) === 0.5)    // 2/4 from prev
    assert(s2.getDouble(4) === 0.5)    // 2/4 from first
    assert(s2.getDouble(5) === 35.0)   // median of (10s, 60s) = 35s
    assert(s3.getDouble(3) === 0.5)    // 1/2
    assert(s3.getDouble(4) === 0.25)   // 1/4
    assert(s3.getDouble(5) === 20.0)
  }

  test("cohortRetention: week-0 retention 1.0, later weeks counted") {
    val df = Seq(
      (1L, ts("2024-01-01 12:00:00")), // cohort week 0
      (1L, ts("2024-01-09 12:00:00")), // week 1
      (2L, ts("2024-01-02 12:00:00")), // cohort week 0, never returns
      (3L, ts("2024-01-08 12:00:00"))) // cohort week 1
      .toDF("u", "t")
    val out = Funnel.cohortRetention(df, col("u"), col("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(out === Seq((0L, 0L, 2L, 2L, 1.0), (0L, 1L, 1L, 2L, 0.5),
      (1L, 0L, 1L, 1L, 1.0)))
  }

  test("logRank: identical arms give chi2 ~ 0") {
    // same durations/events in both arms → O = E exactly
    val rows = Seq((5L, 1, "A"), (5L, 1, "B"), (8L, 0, "A"), (8L, 0, "B"),
      (10L, 1, "A"), (10L, 1, "B"))
    val df = rows.toDF("dur", "ev", "g")
    val r = Survival.logRank(df, col("dur"), col("ev"), col("g"),
      "A", "B").collect().head
    assert(r.getLong(0) === 2L)          // observed_a
    assert(r.getDouble(1) === 2.0)       // expected_a
    assert(r.getDouble(2) === 0.0)       // chi2
  }

  test("fdViolations: counts and sealed rate") {
    val df = Seq((1L, "x"), (1L, "x"), (1L, "y"),   // key 1: 1 violation
      (2L, "z"), (2L, "z"),                          // key 2: clean
      (3L, "w")).toDF("a", "b")
    val r = Profile.fdViolations(df, col("a"), col("b")).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((3L, 6L, 1L, 1L)))
    assert(r.getDouble(4) === 0.1667)
  }

  test("designEffect: uniform weights give deff 1, n_eff n") {
    val df = Seq(("g", 5L), ("g", 5L), ("g", 5L), ("g", 5L))
      .toDF("g", "w")
    val r = Sampling.designEffect(df, col("g"), col("w")).collect().head
    assert(r.getLong(1) === 4L)
    assert(r.getDouble(3) === 1.0)
    assert(r.getDouble(4) === 4.0)
  }

  test("wilcoxonSignedRank: hand case with a tie group") {
    // diffs: +1, -1, +2 → |d| ranks: {1,1} avg 1.5 each, {2} rank 3
    // W+ = 1.5 + 3 = 4.5; n = 3
    val df = Seq((10L, 11L), (10L, 9L), (10L, 12L), (7L, 7L))
      .toDF("pre", "post")
    val r = Inference.wilcoxonSignedRank(df, col("pre"), col("post"))
      .collect().head
    assert(r.getLong(0) === 3L)
    assert(r.getDouble(1) === 4.5)
    // z = (4.5 − 3·4/4)/√(3·4·7/24 − (2³−2)/48) = 1.5/√3.375
    assert(math.abs(r.getDouble(2) - 1.5 / math.sqrt(3.375)) < 1e-3)
  }

  test("silhouetteByLabel: well-separated clusters score near 1") {
    val df = Seq(
      (1L, Array(0.0f, 0.0f), 0), (2L, Array(0.1f, 0.0f), 0),
      (3L, Array(10.0f, 10.0f), 1), (4L, Array(10.1f, 10.0f), 1))
      .toDF("id", "emb", "lb")
    val out = Similarity.silhouetteByLabel(df, col("id"), col("emb"),
      col("lb")).collect()
    assert(out.length === 2)
    out.foreach(r => assert(r.getDouble(2) > 0.99))
  }

  test("neymanAllocation: equal strata get equal shares") {
    val df = Seq(("a", 1L), ("a", 3L), ("b", 11L), ("b", 13L))
      .toDF("h", "x")
    val out = Sampling.neymanAllocation(df, col("h"), col("x"), 100L)
      .collect()
    assert(out.map(_.getDouble(3)).toSeq === Seq(0.5, 0.5))
    assert(out.map(_.getLong(4)).toSeq === Seq(50L, 50L))
  }

  test("kruskalWallis: perfectly separated groups, no ties") {
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L),
      ("b", 4L), ("b", 5L), ("b", 6L)).toDF("g", "x")
    val r = Inference.kruskalWallis(df, col("g"), col("x"))
      .collect().head
    // H = 12/(6·7)·(6²/3 + 15²/3) − 3·7 = 3.8571; no ties → same
    assert(math.abs(r.getDouble(2) - 3.8571) < 1e-9)
    assert(math.abs(r.getDouble(3) - 3.8571) < 1e-9)
  }

  test("moodsMedian: clean split gives chi2 4 on 2x2") {
    val df = Seq(("g1", 1L), ("g1", 2L), ("g2", 3L), ("g2", 4L))
      .toDF("g", "x")
    val r = Inference.moodsMedian(df, col("g"), col("x")).collect().head
    assert(r.getLong(0) === 4L)
    assert(r.getDouble(2) === 4.0)
  }

  test("cliffsDelta: total dominance 1.0, identical groups 0.0") {
    val d1 = Seq(("R", 3L), ("R", 4L), ("N", 1L), ("N", 2L))
      .toDF("g", "x")
    assert(Inference.cliffsDelta(d1, col("g"), col("x"), "R", "N")
      .collect().head.getDouble(2) === 1.0)
    val d2 = Seq(("R", 1L), ("R", 2L), ("N", 1L), ("N", 2L))
      .toDF("g", "x")
    assert(Inference.cliffsDelta(d2, col("g"), col("x"), "R", "N")
      .collect().head.getDouble(2) === 0.0)
  }

  test("friedman: perfectly consistent blocks give the textbook Q") {
    val df = Seq((1L, "t1", 1L), (1L, "t2", 2L), (1L, "t3", 3L),
      (2L, "t1", 10L), (2L, "t2", 20L), (2L, "t3", 30L))
      .toDF("u", "j", "x")
    val r = Inference.friedman(df, col("u"), col("j"), col("x"))
      .collect().head
    assert((r.getLong(0), r.getLong(1)) === ((2L, 3L)))
    assert(r.getDouble(2) === 4.0) // n=2, k=3, full agreement
  }

  test("tokenBudgetPlan: equal parts and tokens split the budget evenly") {
    val df = Seq(("a", 100L), ("a", 100L), ("b", 200L)).toDF("src", "nt")
    val out = Sampling.tokenBudgetPlan(df, col("src"), col("nt"),
      Seq("a" -> 1L, "b" -> 1L), budget = 800L).collect()
    // den = 1·200 + 1·200 = 400; epochs = 800/400 = 2 for both
    assert(out.map(_.getDouble(4)).toSeq === Seq(2.0, 2.0))
    assert(out.map(_.getDouble(5)).toSeq === Seq(400.0, 400.0))
  }

  test("fdHistogram: integer cube root correction and full coverage") {
    val df27 = (1L to 27L).toDF("x")
    val out = Profile.fdHistogram(df27, col("x")).collect()
    assert(out.map(_.getLong(2)).sum === 27L) // every row binned
    // n = 27 → c = 3 exactly; IQR = 20.75−7.25 = 13.5 → iqr4 = 54;
    // nb = ceil(26·6/54) = 3
    assert(out.head.getLong(1) === 3L)
    val df26 = (1L to 26L).toDF("x")
    val out26 = Profile.fdHistogram(df26, col("x")).collect()
    assert(out26.map(_.getLong(2)).sum === 26L)
  }

  test("paddingWaste: slot counts, padding, sealed efficiency") {
    val df = Seq(100L, 600L).toDF("nt")
    val out = Packing.paddingWaste(df, col("nt"), maxLen = 512L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    // 100 → band 1, 1 slot, 412 pad; 600 → band 10 (capped), 2 slots,
    // 424 pad
    assert(out === Seq((1L, 100L, 1L, 412L, 0.1953),
      (10L, 600L, 2L, 424L, 0.5859)))
  }

  test("jaccardThresholdCurve: identical pair survives every threshold") {
    val df = Seq((1L, "blk", "a b"), (2L, "blk", "a b"),
      (3L, "blk", "x y z")).toDF("id", "blk", "tx")
    val out = Dedup.jaccardThresholdCurve(df, col("tx"), col("id"),
      col("blk")).collect()
    assert(out.map(r => (r.getDouble(0), r.getLong(1))).toSeq ===
      Seq((0.6, 1L), (0.7, 1L), (0.8, 1L), (0.9, 1L)))
  }

  test("bagFingerprintDups: order-shuffled twin clusters, singleton row") {
    val df = Seq((1L, "a b c"), (2L, "c b a"), (3L, "x y"))
      .toDF("id", "tx")
    val out = Dedup.bagFingerprintDups(df, col("id"), col("tx"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(out === Seq((1L, 1L, 0L, 0L), (2L, 1L, 1L, 5L)))
  }

  test("prefixBoilerplate: shared 8-token header surfaces") {
    val hdr = "h1 h2 h3 h4 h5 h6 h7 h8"
    val df = Seq((1L, s"$hdr tail one"), (2L, s"$hdr other tail"),
      (3L, "unique doc")).toDF("id", "tx")
    val out = Dedup.prefixBoilerplate(df, col("id"), col("tx"))
      .collect()
    assert(out.length === 1)
    assert(out.head.getString(0) === hdr)
    assert(out.head.getLong(1) === 2L)
  }

  test("repeatedSpans: shared window marks both docs, overlaps merge") {
    val df = Seq(
      (1L, "a b c d e f g h"),  // shares window "a b c d e" with doc 2
      (2L, "a b c d e x y z"),
      (3L, "q r s t u"),        // single unique window -> zero row
      (4L, "j k l m n o"),      // identical to doc 5: both windows
      (5L, "j k l m n o"))      //   repeat, spans [1,6)+[2,7) merge
      .toDF("id", "tx")
    val out = Dedup.repeatedSpans(df, col("tx"), col("id"), w = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(out === Seq(
      (1L, 8L, 1L, 5L, 0.625), (2L, 8L, 1L, 5L, 0.625),
      (3L, 5L, 0L, 0L, 0.0),
      (4L, 6L, 1L, 6L, 1.0), (5L, 6L, 1L, 6L, 1.0)))
  }

  test("scrubRepeatedSpans: first occurrence survives, later ones go") {
    val df = Seq(
      (4L, "j k l m n o"),   // canonical copy: keeps everything
      (5L, "j k l m n o"),   // full duplicate: fully scrubbed
      (6L, "p q r s t u v"), // canonical prefix owner
      (7L, "p q r s t x y")) // loses the shared 5-token prefix
      .toDF("id", "tx")
    val out = Dedup.scrubRepeatedSpans(df, col("tx"), col("id"), w = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    def h(s: String): Long = spark.range(1)
      .select(Dedup.hash60(lit(s))).head().getLong(0)
    assert(out === Seq(
      (4L, 6L, 6L, 0L, h("j k l m n o")),
      (5L, 6L, 0L, 6L, h("")),
      (6L, 7L, 7L, 0L, h("p q r s t u v")),
      (7L, 7L, 2L, 5L, h("x y"))))
  }

  test("scrubRepeatedSpans: in-doc repetition keeps only the min position") {
    // every 5-token window of "j j j j j j j j j j" has the same
    // fingerprint (p = 1..6); keep-first = global min (doc, p) = (8, 1),
    // removal windows p = 2..6 merge into one span [2, 11) -> only the
    // first token survives. This is the heavy-hitter shape the
    // min-struct selection must handle without a rank window.
    val df = Seq((8L, ("j " * 10).trim)).toDF("id", "tx")
    val out = Dedup.scrubRepeatedSpans(df, col("tx"), col("id"), w = 5)
      .collect().head
    def h(s: String): Long = spark.range(1)
      .select(Dedup.hash60(lit(s))).head().getLong(0)
    assert(out.getLong(1) === 10L && out.getLong(2) === 1L &&
      out.getLong(3) === 9L && out.getLong(4) === h("j"))
  }

  test("scrubRepeatedSpans: plan has no rank window over the fingerprint") {
    // the keep-first selection must be the min-struct aggregation, not a
    // window partitioned by the fingerprint (whose partition size equals
    // a boilerplate window's corpus-wide duplication count)
    val df = Seq((1L, "a b c d e f"), (2L, "a b c d e g")).toDF("id", "tx")
    val plan = Dedup.scrubRepeatedSpans(df, col("tx"), col("id"), w = 5)
      .queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    // the only windows left are the doc-bounded span-merge pair
    assert(windows.forall(_.partitionSpec.exists(
      _.references.exists(_.name == "doc_id"))),
      s"found a non-doc-partitioned window:\n$plan")
  }

  test("sortedIntersectCountLong pins size(array_intersect) on sorted sets") {
    import org.apache.spark.sql.graft.SparseExprs
    val df = Seq(
      (Seq(1L, 3L, 5L, 9L), Seq(3L, 4L, 5L, 10L)), // overlap {3,5}
      (Seq(1L, 2L), Seq(3L, 4L)),                  // disjoint
      (Seq.empty[Long], Seq(1L, 2L)),              // empty side
      (Seq(-5L, 0L, 7L), Seq(-5L, 7L, 8L)))        // negatives sort first
      .toDF("a", "b")
    val out = df.select(
      SparseExprs.sortedIntersectCountLong(col("a"), col("b")).as("k"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
      .collect()
    out.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    // null propagation
    val n = df.select(SparseExprs.sortedIntersectCountLong(
      lit(null).cast("array<bigint>"), col("b"))).head()
    assert(n.isNullAt(0))
  }

  test("sorted-merge kernels == plain Scala on random sparse vectors, codegen on and off") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.graft.SparseExprs
    import org.apache.spark.sql.types._
    import org.scalacheck.Gen
    // distinct sorted keys (negatives and the long extremes included),
    // one weight per key; empty and null arrays too
    val vecGen: Gen[Option[(Seq[Long], Seq[Long])]] = Gen.frequency(
      1 -> Gen.const(None),
      1 -> Gen.const(Some((Nil, Nil))),
      8 -> (for {
        keys <- Gen.containerOf[Set, Long](Gen.frequency(
          12 -> Gen.choose(-8L, 8L), 1 -> Gen.oneOf(Long.MinValue, Long.MaxValue)))
        ws <- Gen.listOfN(keys.size, Gen.choose(-20L, 20L))
      } yield Some((keys.toSeq.sorted, ws))))
    val pairs = Gen.listOfN(60, Gen.zip(vecGen, vecGen))
      .apply(Gen.Parameters.default, org.scalacheck.rng.Seed(7L)).get
    def nullable(v: Option[(Seq[Long], Seq[Long])], part: ((Seq[Long], Seq[Long])) => Seq[Long]) =
      v.map(part).orNull
    val arr = ArrayType(LongType, containsNull = false)
    val schema = StructType(Seq("ka", "wa", "kb", "wb").map(StructField(_, arr)))
    val input = spark.createDataFrame(spark.sparkContext.parallelize(
      pairs.map { case (a, b) => Row(nullable(a, _._1), nullable(a, _._2),
        nullable(b, _._1), nullable(b, _._2)) }, 2), schema)
    // per key: (weight a, weight b) of every key in both vectors
    def matched(a: (Seq[Long], Seq[Long]), b: (Seq[Long], Seq[Long])) = {
      val wb = b._1.zip(b._2).toMap
      a._1.zip(a._2).collect { case (k, w) if wb.contains(k) => (w, wb(k)) }
    }
    val want = pairs.map {
      case (Some(a), Some(b)) =>
        val m = matched(a, b)
        Seq[Any](m.map { case (x, y) => math.min(x, y) }.sum,
          m.map { case (x, y) => x * y }.sum, m.size.toLong)
      case _ => Seq[Any](null, null, null)
    }
    def run(codegen: Boolean): Seq[Seq[Any]] = {
      val out = input.select(
        SparseExprs.sparseMinSumLong(col("ka"), col("wa"), col("kb"), col("wb")),
        SparseExprs.sparseDotLong(col("ka"), col("wa"), col("kb"), col("wb")),
        SparseExprs.sortedIntersectCountLong(col("ka"), col("kb")))
      val stages = out.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w }
      assert(stages.nonEmpty == codegen, out.queryExecution.executedPlan)
      out.collect().toSeq.map(_.toSeq)
    }
    val wholeStage = "spark.sql.codegen.wholeStage"
    val factory = "spark.sql.codegen.factoryMode"
    val prev = Seq(wholeStage, factory).map(k => k -> spark.conf.getOption(k))
    try {
      assert(run(codegen = true) === want, "whole-stage codegen")
      spark.conf.set(wholeStage, "false")
      spark.conf.set(factory, "NO_CODEGEN")
      assert(run(codegen = false) === want, "interpreted")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bandPlanCapture: sampled truth == exact truth on the hash band") {
    // truthSample = r must equal exact mode run over the same
    // deterministic hashSample(id, r, "lshtruth") sub-corpus: the
    // sampled calibrator IS the exact calibrator on the band, which is
    // what makes its per-bin capture an unbiased estimate at 100 TB
    val docs = (1L to 40L).map { i =>
      val blk = if (i % 2 == 0) "b0" else "b1"
      val tx = if (i <= 20) s"w1 w2 w3 w4 w5 x$i" else s"z$i y$i v$i"
      (i, blk, tx)
    }
    val df = docs.toDF("id", "blk", "tx")
    val sampled = Dedup.bandPlanCapture(df, col("tx"), col("id"),
      col("blk"), shingleSize = 1, numPerm = 16, plans = Seq(4),
      minBin10 = 5, truthSample = 0.5)
    val band = Sampling.hashSample(df, col("id"), 0.5, "lshtruth")
    val exactOnBand = Dedup.bandPlanCapture(band, col("tx"), col("id"),
      col("blk"), shingleSize = 1, numPerm = 16, plans = Seq(4),
      minBin10 = 5)
    val a = sampled.orderBy("n_bands", "bin10").collect().toSeq
    val b = exactOnBand.orderBy("n_bands", "bin10").collect().toSeq
    assert(a === b)
    // and the band is a real sample, not everything
    assert(band.count() < 40L && band.count() > 0L)
  }

  test("lshPlanEval: sampled mode scores the sampled sub-corpus exactly") {
    val docs = (1L to 30L).map { i =>
      val tx = if (i % 3 == 0) "w1 w2 w3 w4 w5" else s"u$i t$i s$i"
      (i, "blk", tx)
    }
    val df = docs.toDF("id", "blk", "tx")
    val sampled = Dedup.lshPlanEval(df, col("tx"), col("id"), col("blk"),
      shingleSize = 1, numPerm = 16, bands = 4, minBin10 = 6,
      truthSample = 0.5).collect().head
    val band = Sampling.hashSample(df, col("id"), 0.5, "lshtruth")
    val exact = Dedup.lshPlanEval(band, col("tx"), col("id"), col("blk"),
      shingleSize = 1, numPerm = 16, bands = 4, minBin10 = 6)
      .collect().head
    assert(sampled === exact)
    // the sampled duplicate cluster still yields true pairs to score
    assert(sampled.getLong(0) > 0L)
  }

  test("bandPlanCapture: identical pair caught by every plan, spine " +
    "zero-fills empty bins") {
    val df = Seq((1L, "blk", "w1 w2 w3 w4 w5"),
      (2L, "blk", "w1 w2 w3 w4 w5"), (3L, "blk", "z1 z2 z3"))
      .toDF("id", "blk", "tx")
    val out = Dedup.bandPlanCapture(df, col("tx"), col("id"), col("blk"),
      shingleSize = 1, numPerm = 16, plans = Seq(2, 4, 8), minBin10 = 5)
      .orderBy("n_bands", "bin10").collect()
    assert(out.length === 18)
    val bin10 = out.filter(_.getLong(2) == 10L)
    assert(bin10.length === 3)
    bin10.foreach { r =>
      assert(r.getLong(3) === 1L && r.getLong(4) === 1L &&
        r.getDouble(5) === 1.0)
    }
    // empty bins: explicit zero rows with NULL capture
    val empty = out.filter(_.getLong(2) < 10L)
    assert(empty.forall(r => r.getLong(3) == 0L && r.getLong(4) == 0L &&
      r.isNullAt(5)))
  }

  test("lshPlanEval: exact duplicate yields perfect one-row scorecard") {
    val df = Seq((1L, "blk", "w1 w2 w3 w4 w5"),
      (2L, "blk", "w1 w2 w3 w4 w5"), (3L, "blk", "z1 z2 z3"))
      .toDF("id", "blk", "tx")
    val out = Dedup.lshPlanEval(df, col("tx"), col("id"), col("blk"),
      shingleSize = 1, numPerm = 16, bands = 4, minBin10 = 6).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getLong(0) === 1L && r.getLong(1) === 1L &&
      r.getLong(2) === 1L)
    assert(r.getDouble(3) === 1.0 && r.getDouble(4) === 1.0 &&
      r.getDouble(5) === 1.0)
  }

  test("sequentialMonitor: balanced identical arms never cross") {
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    val df = Seq(
      (d1, "A", 1L), (d1, "A", 0L), (d1, "B", 1L), (d1, "B", 0L),
      (d2, "A", 1L), (d2, "A", 0L), (d2, "B", 1L), (d2, "B", 0L))
      .toDF("d", "v", "c")
    val out = Trend.sequentialMonitor(df, col("d"), col("v"), col("c"),
      "A", "B").collect()
    assert(out.length === 2)
    out.foreach { r =>
      assert(r.getDouble(5) === 0.0)
      assert(r.getLong(6) === 0L)
    }
  }
}
