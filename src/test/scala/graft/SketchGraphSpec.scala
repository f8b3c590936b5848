package graft

import org.apache.spark.sql.functions._

/** Unit pins for the sketch/LM/graph operators wired as q107–q111: KMV
  * distinct estimation, unigram-LM scoring, PMI collocations, bounded HITS,
  * hash-sample quantiles. Each test crafts inputs where the expected answer
  * is hand-checkable or a driver-side reference recomputes it exactly.
  */
class SketchGraphSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------ KMV sketch

  test("kmvDistinct: small group is exact; large group estimates within 2/sqrt(k)") {
    val small = (1 to 10).map(i => ("small", s"v$i"))
    val big = (1 to 5000).map(i => ("big", s"w$i"))
    val df = (small ++ big).toDF("g", "v")
    val out = Sketches.kmvDistinct(df, col("g"), col("v"), k = 64)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getLong(2), r.getLong(3)))).toMap
    val (smallEst, smallSeen, smallExact) = out("small")
    assert(smallEst === 10.0 && smallSeen === 10L && smallExact === 1L)
    val (bigEst, bigSeen, bigExact) = out("big")
    assert(bigSeen === 64L && bigExact === 0L)
    // KMV standard error is ~1/sqrt(k-2) ≈ 12.7%; 2σ bound
    assert(math.abs(bigEst - 5000.0) / 5000.0 < 0.26,
      s"estimate $bigEst too far from 5000")
  }

  test("kmvRolling: empty input fails loudly, not with a bare NPE") {
    val empty = Seq.empty[(Long, String)].toDF("u", "v")
    val e = intercept[IllegalArgumentException] {
      Sketches.kmvRolling(empty, col("u"), col("v"), span = 7)
    }
    assert(e.getMessage.contains("empty input"))
  }

  test("kmvDistinct: duplicate values do not change the estimate") {
    val once = (1 to 500).map(i => ("g", s"v$i"))
    val thrice = once ++ once ++ once
    val a = Sketches.kmvDistinct(once.toDF("g", "v"), col("g"), col("v"), 32)
      .collect().head
    val b = Sketches.kmvDistinct(thrice.toDF("g", "v"), col("g"), col("v"), 32)
      .collect().head
    assert(a === b)
  }

  test("KmvAgg path equals the window kmvDistinct path (incl. below-k groups)") {
    val data = (1 to 3000).map(i => (s"g${i % 3}", s"v${i % 997}")) ++
      (1 to 10).map(i => ("tiny", s"t$i"))
    val df = data.toDF("g", "v")
    val a = Sketches.kmvDistinct(df, col("g"), col("v"), 64)
      .orderBy("grp").collect().toSeq
    val b = Sketches.kmvAggDistinct(df, col("g"), col("v"), 64)
      .orderBy("grp").collect().toSeq
    assert(a === b)
  }

  test("streaming KMV equals the batch KMV on windowed events") {
    val batch = Sketches.kmvDistinct(
      Tables.t(spark, sf, "events").select(
        concat(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss"),
          lit("|"), col("event_type")).as("g"),
        col("user_id").cast("string").as("v")),
      col("g"), col("v"), k = 32)
      .orderBy("grp").collect().toSeq
    val stream = EventStreams.runKmvDistinct(spark, sf, k = 32,
      name = "kmv_spec_stream")
      .select(concat(col("hour_ts"), lit("|"), col("event_type")).as("grp"),
        col("est_distinct"), col("n_seen"), col("exact"))
      .orderBy("grp").collect().toSeq
    assert(stream === batch)
  }

  // ------------------------------------------------------- unigram logprob

  test("unigramLogprob matches a driver-side reference on a tiny corpus") {
    val docs = Seq((1L, "a a b"), (2L, "a c"), (3L, "b b c d")).toDF("id", "t")
    val out = LanguageModel.unigramLogprob(docs, col("id"), col("t"))
      .orderBy("doc_id")
      .as[(Long, Long, Double)].collect().toSeq
    // corpus: a=3, b=3, c=2, d=1, N=9
    val p = Map("a" -> 3.0, "b" -> 3.0, "c" -> 2.0, "d" -> 1.0)
    def ref(toks: Seq[String]): Double = {
      val s = toks.map(t => math.round(math.log(p(t) / 9.0) * 1e6)).sum
      BigDecimal(s.toDouble / (1e6 * toks.size))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(out === Seq(
      (1L, 3L, ref(Seq("a", "a", "b"))),
      (2L, 2L, ref(Seq("a", "c"))),
      (3L, 4L, ref(Seq("b", "b", "c", "d")))))
  }

  test("unigramLogprob: all-same-token corpus scores ln(1)=0") {
    val docs = Seq((1L, "x x x"), (2L, "x")).toDF("id", "t")
    val out = LanguageModel.unigramLogprob(docs, col("id"), col("t"))
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    assert(out === Seq((1L, 3L, 0.0), (2L, 1L, 0.0)))
  }

  // ------------------------------------------------------------------- PMI

  test("pmiCollocations: glued pair tops free pairs; minCount filters") {
    // "new york" always adjacent (8×); filler tokens independent
    val line = "new york " + (1 to 8).map(i => s"w${i % 3}").mkString(" ")
    val docs = Seq.tabulate(8)(i => (i.toLong, line)).toDF("id", "t")
    val out = LanguageModel.pmiCollocations(docs, col("t"), minCount = 5, k = 5)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    assert(out.head._1 === "new" && out.head._2 === "york")
    assert(out.head._3 === 8L) // c_ab
    // every emitted pair respects minCount
    assert(out.forall(_._3 >= 5L))
    // PMI of the glued pair beats every other pair
    assert(out.tail.forall(_._6 < out.head._6))
  }

  // ------------------------------------------------------------------ HITS

  test("hitsBipartite: star hub dominates; scores are fixed-point normalized") {
    // s1 supplies p1..p4 (star hub), s2 supplies p1 only, s3 supplies p2,p3
    val edges = Seq((1L, 101L), (1L, 102L), (1L, 103L), (1L, 104L),
      (2L, 101L), (3L, 102L), (3L, 103L)).toDF("s", "d")
    val out = Graph.hitsBipartite(edges, col("s"), col("d"), iters = 3)
      .as[(Long, Long)].collect().toSeq
    assert(out.map(_._1) === Seq(1L, 3L, 2L)) // hub order: degree-4, 2, 1
    assert(out.head._2 === 1000000L) // max-normalized fixed point
    assert(out.forall(x => x._2 > 0L && x._2 <= 1000000L))
  }

  test("hitsBipartite: empty / all-null-key edge list is rejected, not NPE") {
    val empty = Seq.empty[(Long, Long)].toDF("s", "d")
    val e1 = intercept[IllegalArgumentException] {
      Graph.hitsBipartite(empty, col("s"), col("d"), 2)
    }
    assert(e1.getMessage.contains("non-empty edge list"))
    // null-keyed edges never match the equi-joins — equally undefined
    val nulls = Seq((Some(1L), Option.empty[Long]),
      (Option.empty[Long], Some(10L))).toDF("s", "d")
    val e2 = intercept[IllegalArgumentException] {
      Graph.hitsBipartite(nulls, col("s"), col("d"), 2)
    }
    assert(e2.getMessage.contains("non-empty edge list"))
  }

  test("hitsBipartite: duplicate edges are collapsed before iteration") {
    val once = Seq((1L, 10L), (2L, 10L), (2L, 11L)).toDF("s", "d")
    val dup = Seq((1L, 10L), (1L, 10L), (1L, 10L), (2L, 10L), (2L, 11L),
      (2L, 11L)).toDF("s", "d")
    val a = Graph.hitsBipartite(once, col("s"), col("d"), 2).collect().toSeq
    val b = Graph.hitsBipartite(dup, col("s"), col("d"), 2).collect().toSeq
    assert(a === b)
  }

  test("runCdcApply: streamed merge onto pre-seeded state is (ts, event_id)-wins") {
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_cdc").toString + "/state"
    // pre-seed: a key the stream never touches (must survive), a stale row
    // for a streamed key (must be replaced), and a FUTURE row (newer than
    // every streamed event — must survive: version-wins, not batch-order)
    val seed = Seq(
      (-999L, -1L, java.sql.Timestamp.valueOf("1990-01-01 00:00:00"), 1.5),
      (1L, -1L, java.sql.Timestamp.valueOf("1990-01-01 00:00:00"), -1.0),
      (2L, -2L, java.sql.Timestamp.valueOf("2099-01-01 00:00:00"), 99.0))
      .toDF("k", "event_id", "ts", "value")
    seed.write.parquet(statePath)
    val got = EventStreams.runCdcApply(spark, sf, statePath,
      name = "cdc_spec_stream")
      .select("k", "ts", "event_id", "value")
      .orderBy("k").collect().toSeq
    // batch reference: latest-wins over the union of seed and all events
    val expected = Dedup.latestSnapshot(
      Tables.t(spark, sf, "events")
        .select(col("user_id").as("k"), col("event_id"), col("ts"), col("value"))
        .unionByName(seed),
      Seq("k"), "ts", "event_id")
      .select("k", "ts", "event_id", "value").orderBy("k").collect().toSeq
    assert(got.size === expected.size && got === expected)
    // untouched seed key survived; stale streamed key was replaced; the
    // future-dated seed row beat any streamed event for its key
    assert(got.exists(_.getLong(0) == -999L))
    assert(!got.exists(r => r.getLong(0) == 1L && r.getDouble(3) == -1.0))
    assert(got.exists(r => r.getLong(0) == 2L && r.getDouble(3) == 99.0))
  }

  // ----------------------------------------------------------------- funnel

  test("funnel stages respect order and step windows (crafted event logs)") {
    import org.apache.spark.sql.expressions.Window
    val day = 86400000000L
    // u1: full ordered funnel; u2: click BEFORE view (not counted) -> stage 1;
    // u3: purchase 2 days after click (outside window) -> stage 2;
    // u4: no view at all -> stage 0 even though click+purchase exist
    val events = Seq(
      (1L, "view", 0L), (1L, "click", 1000L), (1L, "purchase", 2000L),
      (2L, "click", 0L), (2L, "view", 1000L), (2L, "purchase", day * 3),
      (3L, "view", 0L), (3L, "click", 500L), (3L, "purchase", 500L + 2 * day),
      (4L, "click", 0L), (4L, "purchase", 100L)
    ).toDF("user_id", "event_type", "us")
    val w = Window.partitionBy("user_id")
    val staged = events
      .withColumn("tv", min(when(col("event_type") === "view", col("us"))).over(w))
      .withColumn("tc", min(when(col("event_type") === "click" &&
        col("us") >= col("tv") && col("us") < col("tv") + lit(day), col("us"))).over(w))
      .withColumn("tp", min(when(col("event_type") === "purchase" &&
        col("us") >= col("tc") && col("us") < col("tc") + lit(day), col("us"))).over(w))
      .groupBy("user_id")
      .agg(max("tv").as("tv"), max("tc").as("tc"), max("tp").as("tp"))
      .select(col("user_id"),
        when(col("tp").isNotNull, 3L).when(col("tc").isNotNull, 2L)
          .when(col("tv").isNotNull, 1L).otherwise(0L).as("stage"))
      .orderBy("user_id").as[(Long, Long)].collect().toSeq
    assert(staged === Seq((1L, 3L), (2L, 1L), (3L, 2L), (4L, 0L)))
  }

  // -------------------------------------------------- mutations & negatives

  test("upsert: changes win, unmatched base survives, inserts append") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "v", "x")
    val changes = Seq((2L, "B", 99.0), (9L, "new", 1.0)).toDF("k", "v", "x")
    val merged = Mutations.upsert(base, changes, Seq("k"))
      .orderBy("k").as[(Long, String, Double)].collect().toSeq
    assert(merged === Seq((1L, "a", 10.0), (2L, "B", 99.0), (3L, "c", 30.0),
      (9L, "new", 1.0)))
  }

  test("negativeSample: k draws per anchor, no self-pairs, negatives from corpus, deterministic") {
    val corpus = (1L to 200L).map(Tuple1(_)).toDF("id")
    val anchors = (1L to 200L by 20).map(Tuple1(_)).toDF("id")
    val out = Sampling.negativeSample(corpus, col("id"), anchors, col("id"),
      k = 3, buckets = 16).orderBy("anchor_id", "draw")
      .as[(Long, Long, Long)].collect().toSeq
    // every (anchor, draw) emitted exactly once (16 populated buckets, so
    // every draw resolves), no self-pairs, negatives are corpus ids
    assert(out.map(x => (x._1, x._2)).toSet ===
      (1L to 200L by 20).flatMap(a => (1L to 3L).map(a -> _)).toSet)
    assert(out.forall(x => x._3 != x._1 && x._3 >= 1L && x._3 <= 200L))
    val again = Sampling.negativeSample(corpus, col("id"), anchors, col("id"),
      k = 3, buckets = 16).orderBy("anchor_id", "draw")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out === again)
  }

  // -------------------------------------------------- property references

  private def gen[T](g: org.scalacheck.Gen[T], seed: Long): T =
    g.apply(org.scalacheck.Gen.Parameters.default,
      org.scalacheck.rng.Seed(seed)).get

  /** Driver-side twin of Dedup.hash60: md5 of UTF-8 bytes, first 15 hex
    * chars as a long — must stay bit-equal to the Spark column. */
  private def refHash60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
  }

  private def roundHalfUp(x: Double, scale: Int): Double =
    BigDecimal.valueOf(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("property: kmvDistinct == driver-side bottom-k reference (random data)") {
    import org.scalacheck.Gen
    val rowGen = for {
      g <- Gen.oneOf("g1", "g2", "g3")
      v <- Gen.choose(0, 400)
    } yield (g, s"v$v")
    (0 until 3).foreach { round =>
      val rows = gen(Gen.listOfN(600, rowGen), 900L + round)
      val k = 16
      val expected = rows.groupBy(_._1).map { case (g, rs) =>
        val hs = rs.map(r => refHash60(r._2)).distinct.sorted.take(k)
        if (hs.size < k) (g, hs.size.toDouble, hs.size.toLong, 1L)
        else (g, roundHalfUp((k - 1).toDouble * math.pow(2, 60) / hs.last, 4),
          k.toLong, 0L)
      }.toSet
      val got = Sketches.kmvDistinct(rows.toDF("g", "v"), col("g"), col("v"), k)
        .as[(String, Double, Long, Long)].collect().toSet
      assert(got === expected, s"round $round")
    }
  }

  test("property: unigramLogprob == driver-side fixed-point reference (random corpora)") {
    import org.scalacheck.Gen
    val docGen = Gen.listOfN(8, Gen.oneOf("a", "b", "c", "d", "e"))
      .map(_.mkString(" "))
    (0 until 3).foreach { round =>
      val docs = gen(Gen.listOfN(30, docGen), 700L + round).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
      val toks = docs.flatMap(_._2.split(" "))
      val cnt = toks.groupBy(identity).view.mapValues(_.size).toMap
      val n = toks.size
      val expected = docs.map { case (id, t) =>
        val tk = t.split(" ").toSeq
        val s = tk.map { w =>
          BigDecimal.valueOf(math.log(cnt(w).toDouble / n) * 1e6)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        }.sum
        (id, tk.size.toLong, roundHalfUp(s.toDouble / (1e6 * tk.size), 4))
      }.toSet
      val got = LanguageModel.unigramLogprob(docs.toDF("id", "t"),
        col("id"), col("t")).as[(Long, Long, Double)].collect().toSet
      assert(got === expected, s"round $round")
    }
  }

  test("property: hitsBipartite == driver-side dense reference (random graphs)") {
    import org.scalacheck.Gen
    val edgeGen = for {
      s <- Gen.choose(1L, 8L)
      d <- Gen.choose(100L, 112L)
    } yield (s, d)
    (0 until 3).foreach { round =>
      val edges = gen(Gen.listOfN(40, edgeGen), 500L + round).distinct
      val iters = 1 + round % 3
      // dense reference: same fixed-point renormalization each half-step
      var auth = edges.map(_._2).distinct.map(_ -> 1000000L).toMap
      var hub = Map.empty[Long, Long]
      def renorm(raw: Map[Long, Long]): Map[Long, Long] = {
        val m = raw.values.max
        raw.map { case (v, x) =>
          v -> BigDecimal.valueOf(x.toDouble * 1e6 / m.toDouble)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        }
      }
      (1 to iters).foreach { _ =>
        hub = renorm(edges.groupBy(_._1).view
          .mapValues(_.map(e => auth(e._2)).sum).toMap)
        auth = renorm(edges.groupBy(_._2).view
          .mapValues(_.map(e => hub(e._1)).sum).toMap)
      }
      val got = Graph.hitsBipartite(edges.toDF("s", "d"), col("s"), col("d"),
        iters).as[(Long, Long)].collect().toSeq
      assert(got.toMap === hub, s"round $round (iters=$iters)")
      // emitted order: score desc, vertex asc
      assert(got === got.sortBy(x => (-x._2, x._1)), s"round $round order")
    }
  }

  test("property: pmiCollocations == driver-side reference (random corpora)") {
    import org.scalacheck.Gen
    val docGen = Gen.listOfN(6, Gen.oneOf("x", "y", "z", "w"))
      .map(_.mkString(" "))
    (0 until 3).foreach { round =>
      val docs = gen(Gen.listOfN(25, docGen), 1100L + round)
        .map(Tuple1(_))
      val toks = docs.map(_._1.split(" ").toSeq)
      val uni = toks.flatten.groupBy(identity).view.mapValues(_.size).toMap
      val nu = toks.map(_.size).sum
      val pairs = toks.flatMap(tk => tk.zip(tk.drop(1)))
      val nb = pairs.size
      val minCount = 3
      val expected = pairs.groupBy(identity).view.mapValues(_.size).toSeq
        .collect { case ((a, b), cab) if cab >= minCount =>
          val pmi = roundHalfUp(math.log(
            cab.toDouble * nu * nu / (nb.toDouble * uni(a) * uni(b))), 4)
          (a, b, cab.toLong, uni(a).toLong, uni(b).toLong, pmi)
        }
        .sortBy(x => (-x._6, x._1, x._2)).take(10)
      val got = LanguageModel.pmiCollocations(docs.toDF("t"), col("t"),
        minCount, 10).as[(String, String, Long, Long, Long, Double)]
        .collect().toSeq
      assert(got === expected, s"round $round")
    }
  }

  // ---------------------------------------------------- plan-shape pins

  private def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect() // force AQE final plan
    "(ShuffleQueryStage|ShuffleExchange)".r
      .findAllIn(df.queryExecution.executedPlan.toString).size
  }

  test("scale shapes: KmvAgg one shuffle (< window path); LM ops never shuffle-join the corpus") {
    val docs = Tables.t(spark, sf, "documents")
    val tok = docs.select(col("source"),
      explode(split(col("text"), " ")).as("term"))
    // the Aggregator path's only shuffle is the group agg (k-longs partials);
    // the window path pays distinct + window on top
    assert(shuffles(Sketches.kmvAggDistinct(tok, col("source"), col("term"), 16)) === 1)
    assert(shuffles(Sketches.kmvDistinct(tok, col("source"), col("term"), 16)) >= 2)
    // LM operators: vocabulary stats broadcast back onto the token stream —
    // a SortMergeJoin in these plans would mean the corpus itself shuffled
    // for the join, which must never happen
    val lp = LanguageModel.unigramLogprob(docs, col("doc_id"), col("text"))
    lp.collect()
    assert(!lp.queryExecution.executedPlan.toString.contains("SortMergeJoin"))
    val pmi = LanguageModel.pmiCollocations(docs, col("text"), 2, 10)
    pmi.collect()
    assert(!pmi.queryExecution.executedPlan.toString.contains("SortMergeJoin"))
  }

  // -------------------------------------------------- sampled quantiles

  test("sampledQuantiles: full-rate sample equals exact percentiles") {
    val df = (1 to 1000).map(i => ("g", i.toLong, i.toDouble)).toDF("g", "id", "v")
    val out = Sketches.sampledQuantiles(df, col("g"), col("id"), col("v"),
      rate = 1.0, qs = Seq(0.5, 0.9)).collect().head
    assert(out.getLong(1) === 1000L)
    assert(out.getDouble(2) === 500.5) // percentile(1..1000, .5)
    assert(out.getDouble(3) === 900.1)
  }

  test("sampledQuantiles: sample is a deterministic subset, estimates near truth") {
    val df = (1 to 20000).map(i => ("g", i.toLong, i.toDouble)).toDF("g", "id", "v")
    val r1 = Sketches.sampledQuantiles(df, col("g"), col("id"), col("v"),
      rate = 0.2, qs = Seq(0.5)).collect().head
    val r2 = Sketches.sampledQuantiles(df, col("g"), col("id"), col("v"),
      rate = 0.2, qs = Seq(0.5)).collect().head
    assert(r1 === r2) // deterministic across runs
    val n = r1.getLong(1).toDouble
    assert(math.abs(n - 4000.0) / 4000.0 < 0.1, s"sample size $n far from 20000*0.2")
    assert(math.abs(r1.getDouble(2) - 10000.5) < 500.0)
  }
}
