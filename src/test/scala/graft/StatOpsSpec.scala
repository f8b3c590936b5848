package graft

import org.apache.spark.sql.functions._

/** Unit pins for the q140+ batch: PageRank fixed-point iterations, Z-order
  * bit interleaving (Scala and SQL twins), and Welch's t-test — all on
  * crafted inputs with hand-computed answers.
  */
class StatOpsSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------- PageRank

  test("pageRank: 2-cycle is a fixed point at 1e6") {
    val e = Seq(("a", "b"), ("b", "a")).toDF("s", "d")
    val out = Graph.pageRank(e, col("s"), col("d"), iters = 3)
      .as[(String, Long)].collect().toSeq
    assert(out === Seq(("a", 1000000L), ("b", 1000000L)))
  }

  test("pageRank: out-degree split and dangling vertex, one iteration") {
    // a -> b, a -> c, b -> a; c is dangling (keeps base 150000 + 0.85*sum)
    val e = Seq(("a", "b"), ("a", "c"), ("b", "a")).toDF("s", "d")
    val out = Graph.pageRank(e, col("s"), col("d"), iters = 1)
      .as[(String, Long)].collect().toSeq
    // contribs: a sends 500000 to each of b,c; b sends 1000000 to a
    assert(out === Seq(("a", 1000000L), ("b", 575000L), ("c", 575000L)))
  }

  test("pageRank: duplicate and null edges are dropped before degrees") {
    val e = Seq(("a", "b"), ("a", "b"), (null, "b"), ("a", null), ("b", "a"))
      .toDF("s", "d")
    val out = Graph.pageRank(e, col("s"), col("d"), iters = 1)
      .as[(String, Long)].collect().toSeq
    assert(out === Seq(("a", 1000000L), ("b", 1000000L)))
  }

  test("triangleCount: hand graphs (one triangle + pendant; K4; triangle-free)") {
    def tc(edges: Seq[(String, String)]) =
      Graph.triangleCount(edges.toDF("u", "v"), col("u"), col("v"))
        .select("n_vertices", "n_edges", "n_triangles")
        .as[(Long, Long, Long)].head()
    // a-b-c triangle with a pendant edge c-d; duplicates/reversals dedup
    assert(tc(Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"),
      ("b", "a"))) === ((4L, 4L, 1L)))
    // K4 has C(4,3) = 4 triangles
    val k4 = for { x <- Seq("a", "b", "c", "d"); y <- Seq("a", "b", "c", "d")
                   if x < y } yield (x, y)
    assert(tc(k4) === ((4L, 6L, 4L)))
    // star graph: no triangles
    assert(tc(Seq(("hub", "s1"), ("hub", "s2"), ("hub", "s3"))) ===
      ((4L, 3L, 0L)))
  }

  test("pageRank: empty edge list fails loudly") {
    val e = Seq.empty[(String, String)].toDF("s", "d")
    intercept[IllegalArgumentException] {
      Graph.pageRank(e, col("s"), col("d"), iters = 1)
    }
  }

  // -------------------------------------------------------------- Z-order

  test("zorderKey: known interleavings") {
    // x=3 (011), y=5 (101), 3 bits: bits 0,1,2 from x0,y0,x1; bit5 from y2
    // -> 1 + 2 + 4 + 32 = 39.  (0,0)->0, (7,7)->63 (all six low bits set).
    val df = Seq((3L, 5L), (0L, 0L), (7L, 7L)).toDF("x", "y")
    val out = df.select(Layout.zorderKey(col("x"), col("y"), 3).as("z"))
      .as[Long].collect().toSeq
    assert(out === Seq(39L, 0L, 63L))
  }

  test("zorderKey masks inputs beyond `bits`; SQL twin agrees in Spark") {
    // 259 & 255 = 3, 261 & 255 = 5 -> same as (3, 5)
    val df = Seq((259L, 261L)).toDF("x", "y")
    val scalaZ = df.select(Layout.zorderKey(col("x"), col("y"), 3).as("z"))
      .as[Long].head()
    assert(scalaZ === 39L)
    // the generated oracle SQL is ANSI bit arithmetic Spark can parse too
    val sqlZ = df.select(expr(Layout.zorderSql("x", "y", 3)).cast("long"))
      .as[Long].head()
    assert(sqlZ === 39L)
  }

  test("graft_zorder SQL registration matches the column path") {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val z = spark.sql("SELECT graft_zorder(3, 5, 3) AS z").as[Long].head()
    assert(z === 39L)
  }

  test("zorderKey: adjacent z-values stay spatially adjacent (locality)") {
    // the first 4 z codes in a 2-bit space are the (0,0)(1,0)(0,1)(1,1)
    // quad — both coordinates within one step of each other
    val pts = for (x <- 0L to 3L; y <- 0L to 3L) yield (x, y)
    val z = pts.toDF("x", "y")
      .select(col("x"), col("y"), Layout.zorderKey(col("x"), col("y"), 2).as("z"))
      .orderBy("z").as[(Long, Long, Long)].collect()
    assert(z.map(_._3).toSeq === (0L to 15L)) // bijective onto 0..15
    val quad = z.take(4).map(p => (p._1, p._2)).toSet
    assert(quad === Set((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L)))
  }

  // ------------------------------------------------------- Welch's t-test

  test("welchTTest: hand-computed t and Welch-Satterthwaite df") {
    // a = [10,12,14]: n=3, mean 12, var 4 -> v/n = 4/3
    // b = [20,22,24,26]: n=4, mean 23, var 20/3 -> v/n = 5/3
    // t  = -11 / sqrt(3) = -6.3509
    // df = 9 / ((4/3)^2/2 + (5/3)^2/3) = 243/49 = 4.9592
    val rows = Seq(("a", 10L), ("a", 12L), ("a", 14L),
      ("b", 20L), ("b", 22L), ("b", 24L), ("b", 26L))
    val out = Trend.welchTTest(rows.toDF("l", "v"), col("l"), col("v"),
      "a", "b").collect().head
    assert(out.getLong(2) === 3L && out.getLong(3) === 4L)
    assert(out.getDouble(4) === 12.0 && out.getDouble(5) === 23.0)
    assert(out.getDouble(6) === -6.3509)
    assert(out.getDouble(7) === 4.9592)
  }

  test("welchTTest: zero variance on both sides yields null t/df") {
    val rows = Seq(("a", 5L), ("a", 5L), ("b", 9L), ("b", 9L))
    val out = Trend.welchTTest(rows.toDF("l", "v"), col("l"), col("v"),
      "a", "b").collect().head
    assert(out.isNullAt(6) && out.isNullAt(7))
  }

  test("welchTTest ignores labels outside the tested pair") {
    val rows = Seq(("a", 10L), ("a", 14L), ("b", 20L), ("b", 28L),
      ("zz", 999999L))
    val out = Trend.welchTTest(rows.toDF("l", "v"), col("l"), col("v"),
      "a", "b").collect().head
    assert(out.getLong(2) === 2L && out.getLong(3) === 2L)
    assert(out.getDouble(4) === 12.0 && out.getDouble(5) === 24.0)
  }

  // ------------------------------------------------------------------- KS

  test("ksTest: hand-computed D over a small pair of samples") {
    // a = [1,2,3], b = [3,4]: F_a = 1/3, 2/3, 1, 1; F_b = 0, 0, 1/2, 1
    // -> D = 2/3 at v=2
    val rows = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 3L), ("b", 4L))
    val out = Trend.ksTest(rows.toDF("l", "v"), col("l"), col("v"), "a", "b")
      .collect().head
    assert(out.getLong(2) === 3L && out.getLong(3) === 2L)
    assert(out.getDouble(4) === 0.6667)
  }

  test("ksTest: identical samples give D = 0") {
    val rows = Seq(("a", 5L), ("a", 9L), ("b", 5L), ("b", 9L))
    val out = Trend.ksTest(rows.toDF("l", "v"), col("l"), col("v"), "a", "b")
      .collect().head
    assert(out.getDouble(4) === 0.0)
  }

  // -------------------------------------------------------- skew/kurtosis

  test("skewKurtosis: symmetric [1,2,3] has skew 0, kurtosis -1.5") {
    val rows = Seq(("g", 1L), ("g", 2L), ("g", 3L))
    val out = Trend.skewKurtosis(rows.toDF("g", "x"), col("g"), col("x"))
      .collect().head
    assert(out.getDouble(2) === 2.0)
    assert(out.getDouble(3) === 0.0)
    assert(out.getDouble(4) === -1.5)
  }

  test("skewKurtosis: right-skewed group is positive; constant is null") {
    val rows = Seq.tabulate(9)(_ => ("sk", 1L)) :+ ("sk", 11L)
    val all = rows ++ Seq(("const", 4L), ("const", 4L))
    val out = Trend.skewKurtosis(all.toDF("g", "x"), col("g"), col("x"))
      .orderBy("g").collect()
    val const = out(0); val sk = out(1)
    assert(const.isNullAt(3) && const.isNullAt(4))
    assert(sk.getDouble(3) > 2.0) // single high outlier -> strong right skew
  }

  // ----------------------------------------------------------------- EWMA

  test("ewmaDaily: integer weights, missing days renormalize") {
    import java.sql.Date
    val daily = Seq((Date.valueOf("2024-01-01"), 100L),
      (Date.valueOf("2024-01-02"), 200L),
      (Date.valueOf("2024-01-04"), 400L)) // Jan 3 missing
      .toDF("day", "cents")
    val out = Trend.ewmaDaily(daily, col("day"), col("cents"),
        alpha = 0.5, horizon = 2)
      .as[(Date, Long, Double)].collect().toSeq
    // w = [1e6, 5e5, 2.5e5]
    // Jan1: only itself -> 100
    // Jan2: (1e6*200 + 5e5*100) / 1.5e6 = 166.6667
    // Jan4: lags 0 and 2 present -> (1e6*400 + 2.5e5*200) / 1.25e6 = 360
    assert(out.map(_._3) === Seq(100.0, 166.6667, 360.0))
  }

  test("ewmaWeights: quantized geometric decay") {
    assert(Trend.ewmaWeights(0.5, 2) === Seq(0 -> 1000000L, 1 -> 500000L,
      2 -> 250000L))
    assert(Trend.ewmaWeights(0.3, 1) === Seq(0 -> 1000000L, 1 -> 700000L))
  }

  // ------------------------------------------------------------------ RRF

  test("rrfFuse: hand-computed fusion of two candidate lists") {
    // id2 appears in both lists -> 1/62 + 1/61 = 0.032522; singles get
    // one term each (1/61 = 0.016393, 1/62 = 0.016129)
    val a = Seq((1L, 1L), (2L, 2L)).toDF("id", "rank")
    val b = Seq((2L, 1L), (3L, 2L)).toDF("id", "rank")
    val out = Similarity.rrfFuse(a, b, kConst = 60)
      .as[(Long, Double)].collect().toSeq
    assert(out === Seq((2L, 0.032522), (1L, 0.016393), (3L, 0.016129)))
  }

  test("rrfFuseGroupedTopK: per-query fusion, one-leg candidates keep " +
    "one term, k cuts per group") {
    // q1: id2 in both legs beats both singles; q2 exercises the
    // other-leg-null branch symmetric to q1's
    val a = Seq((1L, 10L, 1L), (1L, 11L, 2L), (2L, 20L, 1L))
      .toDF("qid", "id", "rank")
    val b = Seq((1L, 10L, 2L), (1L, 12L, 1L), (2L, 21L, 1L))
      .toDF("qid", "id", "rank")
    val out = Similarity.rrfFuseGroupedTopK(a, b, kConst = 60, k = 2)
      .as[(Long, Int, Long, Double, Option[Long], Option[Long])]
      .collect().toSeq
    assert(out.sortBy(r => (r._1, r._2)) === Seq(
      (1L, 1, 10L, 0.032522, Some(1L), Some(2L)),   // 1/61 + 1/62
      (1L, 2, 12L, 0.016393, None, Some(1L)),       // vec-only, 1/61
      (2L, 1, 20L, 0.016393, Some(1L), None),
      (2L, 2, 21L, 0.016393, None, Some(1L))))
  }

  test("bruteKnnJoin: per-query results equal bruteForceTopK; " +
    "excludeSelf drops the trivial rank-1 self hit") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val qids = Seq(0L, 7L)
    val joined = Similarity.bruteKnnJoin(e, col("embedding"), col("vec_id"),
      e.where(col("vec_id").isin(qids: _*)), col("embedding"),
      col("vec_id"), k = 5)
      .as[(Long, Int, Long, Double)].collect().toSeq
    for (q <- qids) {
      val single = Similarity.bruteForceTopK(e, col("embedding"),
          col("vec_id"), e.where(col("vec_id") === q), col("embedding"),
          k = 5)
        .as[(Long, Double)].collect().toSeq
      val grp = joined.filter(_._1 == q).sortBy(_._2)
      assert(grp.map(r => (r._3, r._4)) === single)
      // a corpus-drawn query's best hit is itself at cos 1.0
      assert(grp.head._3 === q)
    }
    val noSelf = Similarity.bruteKnnJoin(e, col("embedding"), col("vec_id"),
      e.where(col("vec_id").isin(qids: _*)), col("embedding"),
      col("vec_id"), k = 5, excludeSelf = true)
      .as[(Long, Int, Long, Double)].collect().toSeq
    for (q <- qids) {
      val grp = noSelf.filter(_._1 == q).sortBy(_._2)
      assert(!grp.exists(_._3 == q))
      // dropping the self row shifts everything up one rank and admits
      // one new tail candidate: the with-self top-5 minus self (4 ids)
      // must be a prefix of the no-self top-5
      val shifted = joined.filter(_._1 == q).sortBy(_._2)
        .map(_._3).filter(_ != q)
      assert(grp.map(_._3).take(shifted.size) === shifted)
      assert(grp.size === 5)
    }
  }

  test("tfidfQueryTopK: directed cosines equal the all-pairs op's on " +
    "shared pairs; self pairs excluded") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val directed = Curate.tfidfQueryTopK(docs, col("doc_id"), col("text"),
      col("doc_id") % 10 === 0, kLex = 1000)
    // all-pairs twin under one global block = the same corpus-wide df
    val pairs = Curate.tfidfCosinePairs(docs, col("doc_id"), col("text"),
        lit("g"), minCos = -1.0)
      .as[(Long, Long, Double)].collect()
      .flatMap { case (a, b, c) => Seq((a, b) -> c, (b, a) -> c) }.toMap
    // rebuild the directed scores (rank is the op's output; recompute
    // cos from the pair op for every ranked (qid, id))
    val ranked = directed.as[(Long, Long, Int)].collect().toSeq
    assert(ranked.nonEmpty)
    assert(!ranked.exists(r => r._1 == r._2))
    // ranks within each qid are dense from 1
    for ((_, grp) <- ranked.groupBy(_._1))
      assert(grp.map(_._3).sorted === (1 to grp.size))
    // ordering agrees with the symmetric cosine values: for consecutive
    // ranks, cos(rank i) >= cos(rank i+1)
    for ((_, grp) <- ranked.groupBy(_._1)) {
      val byRank = grp.sortBy(_._3)
      val cs = byRank.map(r => pairs((r._1, r._2)))
      assert(cs.zip(cs.tail).forall { case (x, y) => x >= y })
    }
  }

  test("hardNegativeMine: same-label rows never rank, the planted " +
    "mislabeled clone (cos ~ 1, other label) is screened, true hard " +
    "negative outranks the easy one") {
    val df = Seq(
      (0L, 0, Array(1.0, 0.0)),    // anchor
      (1L, 0, Array(0.9, 0.1)),    // same label — excluded by definition
      (2L, 1, Array(1.0, 0.001)),  // mislabeled clone — dup-screened
      (3L, 1, Array(0.8, 0.6)),    // hard negative, cos 0.8
      (4L, 1, Array(0.0, 1.0)))    // easy negative, cos 0
      .toDF("vec_id", "label", "embedding")
    val out = Similarity.hardNegativeMine(df, col("embedding"),
      col("vec_id"), col("label"), df.where(col("vec_id") === 0),
      col("embedding"), col("vec_id"), col("label"), k = 5)
      .select("qid", "rank", "id", "neg_label")
      .as[(Long, Int, Long, Int)].collect().toSeq.sortBy(_._2)
    assert(out === Seq((0L, 1, 3L, 1), (0L, 2, 4L, 1)))
  }

  test("contrastiveTriplets: positive = nearest same-label sibling, " +
    "negatives = the screened hard-negative ranks, flat per-negative rows; " +
    "anchors without a sibling drop") {
    val df = Seq(
      (0L, 0, Array(1.0, 0.0)),    // anchor with sibling
      (1L, 0, Array(0.9, 0.1)),    // its positive
      (2L, 1, Array(1.0, 0.001)),  // dup-screened
      (3L, 1, Array(0.8, 0.6)),
      (4L, 1, Array(0.0, 1.0)),
      (5L, 2, Array(0.5, 0.5)))    // anchor WITHOUT a same-label sibling
      .toDF("vec_id", "label", "embedding")
    val out = Similarity.contrastiveTriplets(df, col("embedding"),
      col("vec_id"), col("label"), col("vec_id") === 0 || col("vec_id") === 5,
      nNeg = 2)
      .select("qid", "anchor_label", "pos_id", "rank", "neg_id", "neg_label")
      .as[(Long, Int, Long, Int, Long, Int)].collect().toSeq.sortBy(_._4)
    // anchor 5 has no label=2 sibling: no triplet rows for it at all
    assert(out.forall(_._1 == 0L))
    // negatives by cos: id3 (0.8, label 1) then id5 (0.707, label 2)
    assert(out === Seq((0L, 0, 1L, 1, 3L, 1), (0L, 0, 1L, 2, 5L, 2)))
  }

  test("mmrDiversify: pick-1's exact clone is deferred behind the diverse " +
    "candidate; k beyond the candidate count stops gracefully") {
    val s3 = math.sqrt(0.19)
    // rel(id1)=rel(id2)=rel(id3)=0.9; sim(1,2)=1 (clone), sim(1,3)=0.62
    val cands = Seq(
      (7L, 1L, 0.9, Array(0.9, s3, 0.0)),
      (7L, 2L, 0.9, Array(0.9, s3, 0.0)),
      (7L, 3L, 0.9, Array(0.9, -s3, 0.0)))
      .toDF("qid", "id", "rel", "emb")
    val out = Similarity.mmrDiversify(cands, col("qid"), col("id"),
      col("rel"), col("emb"), k = 5, lambda = 0.7)
      .as[(Long, Int, Long, Double)].collect().toSeq.sortBy(_._2)
    assert(out.map(_._2) === Seq(1, 2, 3)) // only 3 candidates despite k=5
    assert(out.map(_._3) === Seq(1L, 3L, 2L)) // clone (id2) drops to last
    // scores: 0.7*0.9 - 0.3*{0, 0.62, 1.0}
    assert(out.map(_._4) === Seq(0.63, 0.444, 0.33))
  }

  // --------------------------------------------------- mutual information

  test("mutualInformation: identical columns give ln(2); independence 0") {
    val dep = Seq(("a", "a"), ("a", "a"), ("b", "b"), ("b", "b"))
      .toDF("x", "y")
    val r1 = Cooccur.mutualInformation(dep, col("x"), col("y"))
      .collect().head
    assert(r1.getLong(0) === 2L && r1.getDouble(1) === 0.6931)
    val ind = Seq(("a", "u"), ("a", "v"), ("b", "u"), ("b", "v"))
      .toDF("x", "y")
    val r2 = Cooccur.mutualInformation(ind, col("x"), col("y"))
      .collect().head
    assert(r2.getLong(0) === 4L && r2.getDouble(1) === 0.0)
  }

  test("mutualInformation: null-category rows are excluded from cells AND n") {
    // same dependent table as above plus null-x / null-y noise rows: the
    // statistic must be identical — nulls in n but not in cells would
    // deflate the summed p(x,y) mass and bias MI low
    val dep = Seq((Some("a"), Some("a")), (Some("a"), Some("a")),
      (Some("b"), Some("b")), (Some("b"), Some("b")),
      (None, Some("a")), (Some("b"), None), (None, None))
      .toDF("x", "y")
    val r = Cooccur.mutualInformation(dep, col("x"), col("y"))
      .collect().head
    assert(r.getLong(0) === 2L && r.getDouble(1) === 0.6931)
  }

  // ---------------------------------------------------- correlation matrix

  test("corrMatrix: upper triangle with perfect and inverse pairs") {
    val rows = (1L to 10L).map(i => (i, 2 * i, 100 - i))
    val out = Trend.corrMatrix(rows.toDF("a", "b", "c"),
        Seq("a" -> col("a"), "b" -> col("b"), "c" -> col("c")))
      .as[(String, String, Long, Double)].collect().toSeq
    assert(out === Seq(("a", "b", 10L, 1.0), ("a", "c", 10L, -1.0),
      ("b", "c", 10L, -1.0)))
  }

  test("corrMatrix: zero-variance column yields null r") {
    val rows = Seq((1L, 5L), (2L, 5L), (3L, 5L))
    val out = Trend.corrMatrix(rows.toDF("a", "b"),
      Seq("a" -> col("a"), "b" -> col("b"))).collect().head
    assert(out.isNullAt(3))
  }

  // ------------------------------------------------------ KMV intersection

  test("kmvIntersection: exact under k on both sides") {
    // A = {u1,u2,u3}, B = {u2,u3,u4} -> union 4, intersection 2
    val rows = Seq(("a", "u1"), ("a", "u2"), ("a", "u3"), ("a", "u2"),
      ("b", "u2"), ("b", "u3"), ("b", "u4"), ("zz", "u9"))
    val out = Sketches.kmvIntersection(rows.toDF("l", "v"), col("l"),
      "a", "b", col("v"), k = 64).collect().head
    assert(out.getDouble(2) === 3.0 && out.getDouble(3) === 3.0)
    assert(out.getDouble(4) === 4.0 && out.getDouble(5) === 2.0)
  }

  // --------------------------------------------------------------- gapfill

  test("gapFillDaily: spine, forward fill, interpolation, null edges") {
    import java.sql.Date
    // obs on Jan 1 (100) and Jan 4 (400): Jan 2/3 interpolate 200/300;
    // spine covers [min, max] only
    val daily = Seq((Date.valueOf("2024-01-01"), 100L),
      (Date.valueOf("2024-01-04"), 400L)).toDF("day", "cents")
    val out = Timeseries.gapFillDaily(daily, col("day"), col("cents"))
      .collect()
    assert(out.length === 4)
    val interp = out.map(r => r.getDouble(3))
    assert(interp.toSeq === Seq(100.0, 200.0, 300.0, 400.0))
    val ffill = out.map(r => r.getLong(2))
    assert(ffill.toSeq === Seq(100L, 100L, 100L, 400L))
  }

  test("rollingPearson: coupled series converge to r=1; short windows null") {
    import java.sql.Date
    val rows = (1 to 10).map(i =>
      (Date.valueOf(f"2024-01-$i%02d"), i.toLong, 2L * i))
    val out = Trend.rollingPearson(rows.toDF("day", "x", "y"),
        col("day"), col("x"), col("y"), frame = 5)
      .collect()
    assert(out.head.isNullAt(2)) // k=1: no variance
    assert(out.last.getDouble(2) === 1.0)
  }

  // ------------------------------------------------------------------ drift

  test("psi: identical slices score 0; a shifted slice scores positive") {
    val same = (1L to 100L).flatMap(i => Seq(("a", i), ("b", i)))
    val r0 = Drift.psi(same.toDF("l", "v"), col("l"), col("v"), "a", "b")
      .collect().head
    assert(r0.getDouble(4) === 0.0)
    val shifted = (1L to 100L).map(("a", _)) ++ (51L to 150L).map(("b", _))
    val r1 = Drift.psi(shifted.toDF("l", "v"), col("l"), col("v"), "a", "b")
      .collect().head
    assert(r1.getDouble(4) > 0.25) // half the mass moved: "action" range
  }

  test("emd1d: two point masses 10 apart over [0,10] in 10 bins -> 9.0") {
    // a at 0, b at 10: CDFs differ by 1 in bins 0..8, width 1 -> EMD 9
    val rows = Seq.fill(5)(("a", 0.0)) ++ Seq.fill(5)(("b", 10.0))
    val r = Drift.emd1d(rows.toDF("l", "v"), col("l"), col("v"), "a", "b",
      bins = 10).collect().head
    assert(r.getDouble(4) === 9.0)
    val same = (1L to 50L).flatMap(i => Seq(("a", i.toDouble), ("b", i.toDouble)))
    val r0 = Drift.emd1d(same.toDF("l", "v"), col("l"), col("v"), "a", "b")
      .collect().head
    assert(r0.getDouble(4) === 0.0)
  }

  // -------------------------------------------------- two-proportion z

  test("twoProportionZ: hand-computed z on small variants") {
    // A: 3/4 convert, B: 1/4 -> pool 1/2
    // z = 0.5 / sqrt(0.25 * (1/4 + 1/4)) = 0.5/sqrt(0.125) = 1.4142
    val rows = Seq(("A", 1L), ("A", 1L), ("A", 1L), ("A", 0L),
      ("B", 1L), ("B", 0L), ("B", 0L), ("B", 0L))
    val out = Trend.twoProportionZ(rows.toDF("l", "c"), col("l"), col("c"),
      "A", "B").collect().head
    assert(out.getDouble(6) === 0.75 && out.getDouble(7) === 0.25)
    assert(out.getDouble(8) === 1.4142)
  }

  test("twoProportionZ: all-converted pool yields null z") {
    val rows = Seq(("A", 1L), ("B", 1L))
    val out = Trend.twoProportionZ(rows.toDF("l", "c"), col("l"), col("c"),
      "A", "B").collect().head
    assert(out.isNullAt(8))
  }

  // ------------------------------------------------------------------ CUPED

  test("cuped: perfectly correlated covariate removes all variance") {
    val rows = (1L to 10L).map(i => (i, 3 * i + 7))
    val out = Trend.cuped(rows.toDF("x", "y"), col("x"), col("y"))
      .collect().head
    assert(out.getDouble(1) === 3.0) // theta = slope
    assert(out.getDouble(3) === 0.0) // var_cuped -> 0
    assert(out.getDouble(4) === 100.0)
  }

  test("cuped: independent covariate reduces nothing; constant x nulls theta") {
    val ind = Seq((1L, 5L), (2L, 5L), (1L, 9L), (2L, 9L))
    val o1 = Trend.cuped(ind.toDF("x", "y"), col("x"), col("y"))
      .collect().head
    assert(o1.getDouble(4) === 0.0)
    assert(o1.getDouble(2) === o1.getDouble(3)) // var unchanged
    val const = Seq((4L, 1L), (4L, 2L))
    val o2 = Trend.cuped(const.toDF("x", "y"), col("x"), col("y"))
      .collect().head
    assert(o2.isNullAt(1)) // zero covariate variance -> null theta
  }

  // ----------------------------------------------- degenerate-input guards

  test("welchTTest: a missing side yields SQL-NULL stats, never NaN") {
    val out = Trend.welchTTest(Seq(("a", 5L), ("a", 7L)).toDF("l", "v"),
      col("l"), col("v"), "a", "b").collect().head
    assert(out.getLong(3) === 0L) // n_b
    assert(out.isNullAt(5) && out.isNullAt(6) && out.isNullAt(7))
  }

  test("twoProportionZ: an empty variant yields SQL-NULL rates, never NaN") {
    val out = Trend.twoProportionZ(Seq(("a", 1L), ("a", 0L)).toDF("l", "c"),
      col("l"), col("c"), "a", "b").collect().head
    assert(out.isNullAt(7) && out.isNullAt(8)) // rate_b, z_stat
  }

  test("psi: NULL metric rows are excluded from bins AND totals") {
    val vals = (1 to 30).flatMap(i =>
      Seq(("a", Some(i.toDouble)), ("b", Some(i.toDouble)))) ++
      (1 to 10).map(_ => ("a", Option.empty[Double]))
    val out = Drift.psi(vals.toDF("l", "v"), col("l"), col("v"),
      "a", "b", bins = 10).collect().head
    assert(out.getLong(2) === 30L) // n_a counts only non-null rows
    assert(out.getDouble(4) === 0.0) // identical distributions -> 0
  }

  // ----------------------------------------------------------- JSD / SRM

  test("jsd: identical slices score 0; disjoint point masses approach ln 2") {
    val same = (1 to 50).flatMap(i => Seq(("a", i.toDouble), ("b", i.toDouble)))
    val o1 = Drift.jsd(same.toDF("l", "v"), col("l"), col("v"), "a", "b", bins = 10)
      .collect().head
    assert(o1.getDouble(4) === 0.0)
    // all of a at the low end, all of b at the high end: near-max divergence
    val split = (1 to 50).map(_ => ("a", 0.0)) ++ (1 to 50).map(_ => ("b", 10.0))
    val o2 = Drift.jsd(split.toDF("l", "v"), col("l"), col("v"), "a", "b", bins = 10)
      .collect().head
    assert(o2.getDouble(4) > 0.5 && o2.getDouble(4) <= math.log(2) + 1e-9)
  }

  test("srmCheck: a variant with ZERO observed rows still contributes its term") {
    // C completely starved: chi2 must include (0-20)^2/20 = 20, not drop it
    val bad = (1 to 70).map(_ => "A") ++ (1 to 30).map(_ => "B")
    val o = Trend.srmCheck(bad.toDF("v"), col("v"),
      Seq("A" -> 0.5, "B" -> 0.3, "C" -> 0.2)).collect().head
    val expected = 20.0 * 20.0 / 50 + 0.0 + 20.0 * 20.0 / 20
    assert(o.getLong(0) === 100L)
    assert(math.abs(o.getDouble(2) - expected) < 1e-3)
  }

  test("trimmedStats: a band too tight for any value emits null trim_mean") {
    val out = Skew.trimmedStats(Seq(("g", 10L), ("g", 20L)).toDF("g", "v"),
      col("g"), col("v")).collect().head
    // p05 = 10.5, p95 = 19.5: neither value is inside the band
    assert(out.getLong(5) === 0L && out.isNullAt(4))
    assert(out.getDouble(2) === 15.0) // mean still reports
  }

  test("mdeReadout: degenerate inputs emit null, not Infinity/NaN") {
    val zeroArm = Trend.mdeReadout(Seq(1L).toDF("c"), col("c")).collect().head
    assert(zeroArm.getLong(1) === 0L && zeroArm.isNullAt(3) &&
      zeroArm.isNullAt(4))
    val noConv = Trend.mdeReadout((1 to 10).map(_ => 0L).toDF("c"),
      col("c")).collect().head
    assert(noConv.isNullAt(3) && noConv.isNullAt(4))
  }

  test("srmCheck: on-design counts score ~0; a starved variant blows up") {
    val ok = (1 to 50).map(_ => "A") ++ (1 to 30).map(_ => "B") ++
      (1 to 20).map(_ => "C")
    val o1 = Trend.srmCheck(ok.toDF("v"), col("v"),
      Seq("A" -> 0.5, "B" -> 0.3, "C" -> 0.2)).collect().head
    assert(o1.getLong(0) === 100L && o1.getLong(1) === 2L)
    assert(o1.getDouble(2) === 0.0)
    // C starved to 2 of an expected 20 (n stays 100):
    // chi2 = 28²/50 + 10²/30 + 18²/20
    val bad = (1 to 78).map(_ => "A") ++ (1 to 20).map(_ => "B") ++
      (1 to 2).map(_ => "C")
    val o2 = Trend.srmCheck(bad.toDF("v"), col("v"),
      Seq("A" -> 0.5, "B" -> 0.3, "C" -> 0.2)).collect().head
    val expected = 28.0 * 28.0 / 50 + 10.0 * 10.0 / 30 + 18.0 * 18.0 / 20
    assert(math.abs(o2.getDouble(2) - expected) < 1e-3)
  }

  test("srmCheck: no left outer join asks to broadcast its preserved side") {
    // Spark cannot build the preserved side of a left join: such a hint is
    // dropped at planning with a HintErrorLogger warning on every call
    import org.apache.spark.sql.catalyst.plans.LeftOuter
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join}
    val plan = Trend.srmCheck(Seq("A", "B").toDF("v"), col("v"),
      Seq("A" -> 0.5, "B" -> 0.5)).queryExecution.optimizedPlan
    val leftOuter = plan.collect { case j: Join if j.joinType == LeftOuter => j }
    assert(leftOuter.nonEmpty)
    assert(!leftOuter.exists(_.hint.leftHint.exists(_.strategy.contains(BROADCAST))))
  }

  // ------------------------------------------------------------------ HHI

  test("hhi: monopoly scores 1, even split scores 1/k") {
    val df = Seq(("g1", "m1", 100L), ("g2", "m1", 25L), ("g2", "m2", 25L),
      ("g2", "m3", 25L), ("g2", "m4", 25L)).toDF("g", "m", "w")
    val out = Skew.hhi(df, col("g"), col("m"), col("w"))
      .orderBy("g").collect()
    assert(out(0).getString(0) === "g1" && out(0).getDouble(3) === 1.0)
    assert(out(1).getString(0) === "g2" && out(1).getDouble(3) === 0.25)
    assert(out(1).getLong(1) === 4L && out(1).getLong(2) === 100L)
  }

  test("hhi: members re-aggregate before shares (duplicate member rows)") {
    val df = Seq(("g", "m1", 30L), ("g", "m1", 30L), ("g", "m2", 40L))
      .toDF("g", "m", "w")
    val out = Skew.hhi(df, col("g"), col("m"), col("w")).collect().head
    // shares 0.6/0.4 -> 0.36 + 0.16 = 0.52
    assert(out.getLong(1) === 2L && out.getDouble(3) === 0.52)
  }

  // ------------------------------------------------- survival / seasonal

  test("kaplanMeier: textbook product-limit curve with censoring") {
    // durations (ev=1 observed, 0 censored): 1e 2e 3c 4e 5c
    val df = Seq((1L, 1), (2L, 1), (3L, 0), (4L, 1), (5L, 0))
      .toDF("t", "ev")
    val out = Survival.kaplanMeier(df, col("t"), col("ev")).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getDouble(3))).toSeq ===
      Seq((1L, 5L, 1L, 0.8), (2L, 4L, 1L, 0.6), (4L, 2L, 1L, 0.3)))
  }

  test("kaplanMeier: everyone dying at once pins survival to literal 0") {
    val df = Seq((1L, 1), (1L, 1)).toDF("t", "ev")
    val out = Survival.kaplanMeier(df, col("t"), col("ev")).collect()
    assert(out.length === 1 && out.head.getDouble(3) === 0.0)
  }

  test("seasonalDecompose: pure weekly signal has zero residual") {
    // v = 7000 + 100*epoch_dow over 14 dense days: trend is constant
    // 7300, seasonal absorbs the rest, residual identically 0
    val days = (1 to 14).map(i => (java.sql.Date.valueOf(
      java.time.LocalDate.of(2024, 1, i)), 0L))
    val df = days.toDF("day", "z").select(col("day"),
      (lit(7000L) + lit(100L) *
        (datediff(col("day"), to_date(lit("1970-01-01"))) % 7)).as("v"))
    val out = Trend.seasonalDecompose(df, col("day"), col("v"), period = 7)
      .collect()
    assert(out.length === 8) // days 4..11 have a full centered window
    out.foreach { r =>
      assert(r.getDouble(2) === 7300.0) // trend
      assert(r.getDouble(4) === 0.0) // residual
      assert(r.getLong(1) === Math.round(7300.0 + r.getDouble(3))) // v = t+s
    }
  }

  // ---------------------------------------------- kcore / robust / delta

  test("kcore: pendant vertex peels, the triangle survives at k=2") {
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L))
    val sym = (und ++ und.map(_.swap)).toDF("a", "b")
    val out = Graph.kcore(sym, col("a"), col("b"), k = 2, rounds = 3)
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 2L), (2L, 2L), (3L, 2L)))
  }

  test("trimmedStats: winsorized and trimmed means on a whale-tailed group") {
    val df = Seq.tabulate(4)(i => ("g", (i + 1).toLong)) :+ (("g", 100L))
    val out = Skew.trimmedStats(df.toDF("g", "v"), col("g"), col("v"))
      .collect().head
    // p05 = 1.2, p95 = 80.8 (linear interpolation over 1,2,3,4,100)
    assert(out.getLong(1) === 5L)
    assert(out.getDouble(2) === 22.0) // mean
    assert(out.getDouble(3) === 18.2) // winsorized: 1.2+2+3+4+80.8 over 5
    assert(out.getDouble(4) === 3.0) // trimmed keeps 2,3,4
    assert(out.getLong(5) === 3L)
  }

  test("ratioMetricDelta: hand-computed delta-method se") {
    val df = Seq(("A", 1L, 2L), ("A", 2L, 2L), ("A", 3L, 4L))
      .toDF("variant", "y", "d")
    val out = Trend.ratioMetricDelta(df, col("variant"), col("y"),
      col("d")).collect().head
    assert(out.getLong(1) === 3L)
    assert(out.getDouble(2) === 0.75)
    // vy=1, vd=4/3, cov=1 -> var = (1 + .5625*4/3 - 1.5) / (3*(8/3)^2)
    assert(out.getDouble(3) === 0.108253)
  }

  test("mdeReadout: closed-form two-arm MDE at the 0.05/0.80 point") {
    val df = ((1 to 20).map(_ => 1L) ++ (1 to 80).map(_ => 0L)).toDF("c")
    val out = Trend.mdeReadout(df, col("c")).collect().head
    assert(out.getLong(0) === 100L && out.getLong(1) === 50L)
    assert(out.getDouble(2) === 0.2)
    assert(out.getDouble(3) === 0.2241) // 2.8016 * sqrt(2*.2*.8/50)
    assert(out.getDouble(4) === 1.1206)
  }

  // --------------------------------------------------- MOE / weighted pctl

  test("moeRollup: sqrt-sum-of-squares MOE; proportion MOE with fallback") {
    val df = Seq(("A", 100L, 3L), ("A", 200L, 4L), ("B", 700L, 24L))
      .toDF("g", "e", "m")
    val out = Agg.moeRollup(df, col("g"), col("e"), col("m"))
      .orderBy("g").collect()
    val a = out(0); val b = out(1)
    assert(a.getLong(2) === 300L && a.getDouble(3) === 5.0) // sqrt(9+16)
    assert(a.getDouble(4) === 0.3)
    // diff = 25 - 0.09*601 < 0 -> ratio fallback sqrt(25 + 54.09)/1000
    assert(a.getDouble(5) === 0.0089)
    assert(b.getLong(2) === 700L && b.getDouble(3) === 24.0)
    // diff = 576 - 0.49*601 = 281.51 -> sqrt/1000
    assert(b.getDouble(5) === 0.0168)
  }

  test("weightedPercentile: heavy weight drags the median; q is honored") {
    val df = Seq(("g", 1L, 1L), ("g", 2L, 1L), ("g", 3L, 8L))
      .toDF("g", "v", "w")
    val med = Agg.weightedPercentile(df, col("g"), col("v"), col("w"))
      .collect().head
    assert(med.getLong(1) === 3L && med.getLong(2) === 10L)
    val p20 = Agg.weightedPercentile(df, col("g"), col("v"), col("w"),
      q = 0.2).collect().head
    assert(p20.getLong(1) === 2L) // cum 2 of 10 reaches the 0.2 threshold
  }

  test("weightedPercentileBucketed: bit-identical to the window form " +
      "across widths, quantiles, negatives and bucket boundaries") {
    // values straddle bucket boundaries (incl. negatives, where floor vs
    // truncate-toward-zero division would misorder buckets) and carry
    // skewed weights so thresholds land both mid-bucket and on edges
    val rows = Seq(("a", -25L, 3L), ("a", -10L, 2L), ("a", 0L, 1L),
      ("a", 9L, 4L), ("a", 10L, 5L), ("a", 37L, 1L),
      ("b", 5L, 10L), ("b", 6L, 1L), ("c", 100L, 7L))
    val df = rows.toDF("g", "v", "w")
    for (q <- Seq(0.1, 0.5, 0.9, 1.0); w <- Seq(1L, 7L, 10L, 1000L)) {
      val plain = Agg.weightedPercentile(df, col("g"), col("v"), col("w"), q)
        .orderBy("g").collect().toSeq
      val bucketed = Agg.weightedPercentileBucketed(df, col("g"), col("v"),
        col("w"), q, bucketWidth = w).orderBy("g").collect().toSeq
      assert(bucketed === plain, s"q=$q bucketWidth=$w")
    }
  }

  test("weightedPercentile: null values and non-positive weights are dropped") {
    // the clean rows alone give median 3 / total weight 10; a null value,
    // a zero weight and a negative weight must not shift either (Spark
    // sorts NULL first, DuckDB last — keeping them would diverge engines)
    val df = Seq((Some(1L), Some(1L)), (Some(2L), Some(1L)),
      (Some(3L), Some(8L)), (None, Some(5L)), (Some(2L), Some(0L)),
      (Some(1L), Some(-10L)), (Some(2L), None))
      .toDF("v", "w").select(lit("g").as("g"), col("v"), col("w"))
    val med = Agg.weightedPercentile(df, col("g"), col("v"), col("w"))
      .collect().head
    assert(med.getLong(1) === 3L && med.getLong(2) === 10L)
  }

  // ----------------------------------------------------- incremental agg

  test("mergeAggState: folded state equals full recompute; new keys insert") {
    val state = Seq(("a", 2L, 30L), ("b", 1L, 10L)).toDF("k", "n", "s")
    val delta = Seq(("a", 1L, 5L), ("c", 4L, 40L)).toDF("k", "n", "s")
    val out = Mutations.mergeAggState(state, delta, Seq("k"), Seq("n", "s"))
      .orderBy("k").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq === Seq(("a", 3L, 35L), ("b", 1L, 10L), ("c", 4L, 40L)))
  }

  // ------------------------------------------------------------ BPE pairs

  test("bpePairCounts: adjacent pair counts with deterministic tie-break") {
    val df = Seq("aab aab bc", "x").toDF("text") // "x" and "bc": 1-char token dropped
    val out = LanguageModel.bpePairCounts(df, col("text"), k = 10)
      .as[(String, Long)].collect().toSeq
    assert(out === Seq(("aa", 2L), ("ab", 2L), ("bc", 1L)))
  }

  test("bpeTrain: left-greedy runs (aaaa -> [aa,aa], never [aa,a,a]) and " +
       "merged symbols re-enter later rounds") {
    // word freqs: aaaa ×3, ab ×2. Round 1 pairs: (a,a) = 3·3 = 9 wins
    // over (a,b) = 2. GREEDY apply leaves aaaa = [aa, aa] — so round 2
    // sees (aa, aa) = 3 (the merged symbol re-entering), beating
    // (a, b) = 2. A non-greedy apply ([aa, a, a]) would emit
    // (aa, a) = 3 instead — the assertion separates the two.
    val df = Seq("aaaa ab aaaa", "aaaa ab").toDF("text")
    val got = LanguageModel.bpeTrain(df, col("text"), merges = 3)
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(got === Seq(
      (1, "a", "a", "aa", 9L),
      (2, "aa", "aa", "aaaa", 3L),
      (3, "a", "b", "ab", 2L)))
  }
}
