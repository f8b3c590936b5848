package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Dedup

/** Dedup scale-path crossover probe (dev tool, not a query).
  *
  * The sf0.1 documents fixture is the prefix/banded paths' WORST case:
  * ~57% of in-block pairs are true near-dups over a 31-word vocabulary, so
  * candidate pruning can't beat the quadratic form there (VERDICT r3). This
  * probe synthesizes the regime those paths exist for — large blocks, large
  * vocabulary, a dup rate ≪ block² — and times quadratic vs. pruned shapes
  * on identical data, checking they emit the IDENTICAL pair set.
  *
  * Corpus: N docs (env SPARK_GRAFT_XOVER_DOCS, default 40000) in
  * N/2/blocks-sized blocks; doc tokens are drawn per-doc from a V-token
  * vocabulary via xxhash64, so unrelated docs share ~L²/V ≈ 0 tokens; every
  * `dupEvery`-th (even, odd) id pair shares all but one token (a planted
  * near-dup, J = (L-1)/(L+1) ≈ 0.97). All knobs env-overridable. Numbers
  * land in PLANS.md §crossover.
  */
object CrossoverProbe {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_XOVER_DOCS", "40000").toInt
    val nBlocks = sys.env.getOrElse("SPARK_GRAFT_XOVER_BLOCKS", "16").toInt
    val L = 60; val V = 100000; val dupEvery = 10
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val planted = expr("id % 2 = 1 AND (id DIV 2) % " + dupEvery + " = 0")
    val seed = when(planted, col("id") - 1).otherwise(col("id"))
    val toks = transform(sequence(lit(0), lit(L - 1)),
      j => concat(lit("t"), pmod(xxhash64(concat_ws("_", seed, j)), lit(V))))
    // planted near-dup: drop the last token, append a unique one
    val toks2 = when(planted,
      concat(slice(toks, 1, L - 1), array(concat(lit("x"), col("id")))))
      .otherwise(toks)
    val docs = spark.range(n).select(
      col("id").as("doc_id"),
      expr(s"(id DIV 2) % $nBlocks").cast("string").as("source"),
      concat_ws(" ", toks2).as("text"))
      .cache()
    docs.count()
    val nPlanted = n / 2 / dupEvery
    println(s"[xover] corpus: n=$n blocks=$nBlocks (block size ${n / nBlocks}) " +
      s"L=$L V=$V planted_pairs=$nPlanted " +
      s"quadratic_pairs=${nBlocks.toLong * (n / nBlocks).toLong * (n / nBlocks - 1) / 2}")

    def time(tag: String)(f: => DataFrame): Long = {
      // two passes, min: first pass absorbs Janino/JIT for this plan shape
      def one(): (Double, Long) = {
        val t0 = System.nanoTime(); val c = f.count()
        ((System.nanoTime() - t0) / 1e9, c)
      }
      val (ta, ca) = one(); val (tb, cb) = one()
      assert(ca == cb, s"$tag nondeterministic: $ca vs $cb")
      println(f"[xover] $tag%-28s ${math.min(ta, tb)}%8.2f s   pairs=$ca")
      ca
    }

    // jaccard's per-pair cost (60-element intersect) crosses over at far
    // smaller blocks than simhash's (xor+popcount on a long), so each
    // family gets its own run config: SPARK_GRAFT_XOVER_WHICH=jaccard|simhash|both
    val which = sys.env.getOrElse("SPARK_GRAFT_XOVER_WHICH", "both")

    if (which == "both" || which == "jaccard" || which == "winnow") {
      val jq = time("jaccard quadratic (q27)")(Dedup.ngramJaccardPairs(
        docs, col("text"), col("doc_id"), col("source"), n = 1, minJ = 0.6))
      val jp = time("jaccard prefix (q61)")(Dedup.ngramJaccardPairsPrefix(
        docs, col("text"), col("doc_id"), col("source"), n = 1, minJ = 0.6))
      assert(jq == jp, s"jaccard paths disagree: $jq vs $jp")
    }
    // weighted-Jaccard: per-document vector block self-join (q285: one
    // SparseMinSumLong merge per same-block pair that passes the length
    // filter) vs the prefix-filter + merge-verify banded twin (q305).
    // Here the first `nStop` tokens of every doc come from a 20-word
    // stopword set, a ZIPFIAN head: the rare-first prefix skips those
    // df≈block-size posting lists, so q305's candidates stay near the
    // planted pairs while q285 still merges every same-block pair.
    // Planted pairs still share all non-stop tokens (wj ≥ 0.96).
    if (which == "wjaccard") {
      val nStop = 10
      val planted2 = expr(
        "doc_id % 2 = 1 AND (doc_id DIV 2) % " + dupEvery + " = 0")
      val seed2 = when(planted2, col("doc_id") - 1).otherwise(col("doc_id"))
      val stopTok = (j: Int) =>
        concat(lit("s"), pmod(xxhash64(concat_ws("_", seed2, lit(j))),
          lit(20)))
      val stops = array((0 until nStop).map(stopTok): _*)
      val wdocs = docs.select(col("doc_id"), col("source"),
        concat_ws(" ", concat(stops, slice(split(col("text"), " "),
          nStop + 1, L - nStop))).as("text"))
        .cache()
      wdocs.count()
      val wq = time("wjaccard block pairs (q285)")(Dedup.weightedJaccardPairs(
        wdocs, col("text"), col("doc_id"), col("source"), minW = 0.6))
      val wb = time("wjaccard banded (q305)")(Dedup.weightedJaccardPairsBanded(
        wdocs, col("text"), col("doc_id"), col("source"), minW = 0.6))
      assert(wq == wb, s"wjaccard paths disagree: $wq vs $wb")
      // count equality is necessary, not sufficient — gate the full
      // (id_a, id_b, wjaccard) answer set both ways
      def full(f: => DataFrame) = f.select("id_a", "id_b", "wjaccard")
      val d = full(Dedup.weightedJaccardPairs(wdocs, col("text"),
          col("doc_id"), col("source"), minW = 0.6))
        .exceptAll(full(Dedup.weightedJaccardPairsBanded(wdocs, col("text"),
          col("doc_id"), col("source"), minW = 0.6))).count()
      assert(d == 0, s"wjaccard answers differ on $d rows")
      println("[xover] wjaccard outputs verified identical on both paths")
    }
    // containment: every-same-block-pair intersection (q255) vs the
    // rare-first min-side-prefix banded twin (q326). The planted pair
    // drops one of L tokens → containment (L−1)/L ≈ 0.983 ≥ 0.9; the
    // uniform large-V vocabulary is the regime the prefixes prune
    // (unrelated docs share ~L²/V ≈ 0 tokens).
    if (which == "containment") {
      val cq = time("containment quadratic (q255)")(
        Dedup.ngramContainmentPairs(
          docs, col("text"), col("doc_id"), col("source"), n = 1,
          minC = 0.9))
      val cb = time("containment banded (q326)")(
        Dedup.ngramContainmentPairsBanded(
          docs, col("text"), col("doc_id"), col("source"), n = 1,
          minC = 0.9))
      assert(cq == cb, s"containment paths disagree: $cq vs $cb")
      def cfull(f: => DataFrame) =
        f.select("id_a", "id_b", "n_a", "n_b", "containment")
      val cd = cfull(Dedup.ngramContainmentPairs(docs, col("text"),
          col("doc_id"), col("source"), n = 1, minC = 0.9))
        .exceptAll(cfull(Dedup.ngramContainmentPairsBanded(docs, col("text"),
          col("doc_id"), col("source"), n = 1, minC = 0.9))).count()
      assert(cd == 0, s"containment answers differ on $cd rows")
      println("[xover] containment outputs verified identical on both paths")
    }
    if (which == "both" || which == "simhash") {
      val sq = time("simhash quadratic (q26)")(Dedup.simhashNearDup(
        docs, col("text"), col("doc_id"), col("source"), maxDist = 12))
      val sb = time("simhash banded (q60)")(Dedup.simhashNearDupBanded(
        docs, col("text"), col("doc_id"), col("source"), maxDist = 12))
      assert(sq == sb, s"simhash paths disagree: $sq vs $sb")
    }
    // winnowing as BLOCK-FREE candidate generation + exact verification:
    // the planted pairs share a 59-token contiguous run >= w+k-1, so the
    // winnowing guarantee finds every one without any blocking key; chance
    // fingerprint collisions are removed by the exact Jaccard check, so
    // the verified set must equal the quadratic within-block answer
    if (which == "winnow") {
      val jq = time("jaccard quadratic (q27)")(Dedup.ngramJaccardPairs(
        docs, col("text"), col("doc_id"), col("source"), n = 1, minJ = 0.6))
      val tokset = docs.select(col("doc_id"),
        array_distinct(split(col("text"), " ")).as("__g"))
      val wv = time("winnow cand + verify (q84)") {
        Dedup.winnowingPairs(docs, col("text"), col("doc_id"),
          k = 4, w = 4, minShared = 1)
          .select("id_a", "id_b")
          .join(tokset.select(col("doc_id").as("id_a"), col("__g").as("g_a")), Seq("id_a"))
          .join(tokset.select(col("doc_id").as("id_b"), col("__g").as("g_b")), Seq("id_b"))
          .where(Dedup.jaccard(col("g_a"), col("g_b")) >= 0.6)
      }
      assert(jq == wv, s"winnowing path disagrees: $jq vs $wv")
    }

    // spatial: grid-partitioned join (q204) vs the naive BETWEEN join —
    // the naive form plans as a BroadcastNestedLoopJoin, i.e. points ×
    // boxes containment probes; the grid form touches only co-located
    // candidates. Knobs: SPARK_GRAFT_XOVER_POINTS / _BOXES (default
    // 2,000,000 × 2,000 on a 1e6² plane, 2001²-unit boxes, cell 4000 —
    // boxes span ≤2 cells/dim, candidates ≈ points·(boxes·area share)).
    if (which == "spatial") {
      val nP = sys.env.getOrElse("SPARK_GRAFT_XOVER_POINTS", "2000000").toLong
      val nB = sys.env.getOrElse("SPARK_GRAFT_XOVER_BOXES", "2000").toLong
      val side = 1000000L; val half = 1000L; val cell = 4000L
      val pts = spark.range(nP).select(col("id"),
          pmod(xxhash64(concat(lit("px"), col("id"))), lit(side)).as("x"),
          pmod(xxhash64(concat(lit("py"), col("id"))), lit(side)).as("y"))
        .cache()
      val boxes = spark.range(nB).select(col("id"),
          pmod(xxhash64(concat(lit("bx"), col("id"))), lit(side)).as("cx"),
          pmod(xxhash64(concat(lit("by"), col("id"))), lit(side)).as("cy"))
        .select(col("id"), (col("cx") - half).as("xlo"),
          (col("cx") + half).as("xhi"), (col("cy") - half).as("ylo"),
          (col("cy") + half).as("yhi"))
        .cache()
      pts.count(); boxes.count()
      println(s"[xover] spatial: points=$nP boxes=$nB plane=$side² " +
        s"box=${2 * half + 1}² cell=$cell " +
        s"naive_probes=${nP * nB}")
      def naive(): DataFrame =
        boxes.as("b").join(pts.as("p"),
            col("p.x") >= col("b.xlo") && col("p.x") <= col("b.xhi") &&
            col("p.y") >= col("b.ylo") && col("p.y") <= col("b.yhi"))
          .groupBy(col("b.id").as("bid")).agg(count(lit(1)).as("n_points"))
      def grid(): DataFrame =
        graft.Spatial.gridJoinCount(
          pts.select(col("id"), col("x"), col("y")), boxes, cell)
          .where(col("n_points") > 0)
      val ng = time("spatial naive BETWEEN")(naive())
      val gg = time("spatial grid join (q204)")(grid())
      assert(ng == gg, s"spatial paths disagree: $ng vs $gg")
      // row-count equality alone only proves the same boxes are
      // non-empty; gate the FULL (box, count) answer set both ways
      val diff = naive().exceptAll(grid()).count() +
        grid().exceptAll(naive()).count()
      assert(diff == 0, s"spatial per-box counts differ on $diff rows")
      println("[xover] spatial per-box counts verified identical")
    }

    // rank/percentile bucketing: the round-7 scale twins (q191 vs q201,
    // q188's window vs bucketed two-phase) — a global cumulative pass
    // serializes the whole distinct-value spine through ONE window task,
    // the bucketed decomposition runs it bucket-parallel with the SAME
    // bit-exact answer. Knob: SPARK_GRAFT_XOVER_UNITS (default 10M
    // units, ~10M distinct scores, 3 percentile groups).
    if (which == "rank") {
      val nU = sys.env.getOrElse("SPARK_GRAFT_XOVER_UNITS", "10000000").toLong
      val units = spark.range(nU).select(col("id"),
          pmod(xxhash64(concat(lit("s"), col("id"))), lit(nU * 4)).as("s"),
          (pmod(xxhash64(concat(lit("y"), col("id"))), lit(10)) < 3)
            .cast("long").as("y"),
          pmod(col("id"), lit(3)).cast("string").as("g"),
          (pmod(xxhash64(concat(lit("w"), col("id"))), lit(9)) + 1)
            .as("w"))
        .cache()
      units.count()
      println(s"[xover] rank: units=$nU distinct_scores~$nU groups=3")
      def one(tag: String)(f: => DataFrame): Seq[String] = {
        def pass(): (Double, Seq[String]) = {
          val t0 = System.nanoTime()
          val rows = f.collect().map(_.toString).toSeq.sorted
          ((System.nanoTime() - t0) / 1e9, rows)
        }
        val (ta, ra) = pass(); val (tb, rb) = pass()
        assert(ra == rb, s"$tag nondeterministic")
        println(f"[xover] $tag%-28s ${math.min(ta, tb)}%8.2f s")
        ra
      }
      val a1 = one("auc global window (q191)")(
        graft.RankEval.aucRoc(units, col("s"), col("y")))
      val a2 = one("auc bucketed (q201)")(
        graft.RankEval.aucRocBucketed(units, col("s"), col("y"), 65536L))
      assert(a1 == a2, s"auc paths disagree: $a1 vs $a2")
      val p1 = one("wpctl window (q188 form)")(
        graft.Agg.weightedPercentile(units, col("g"), col("s"), col("w")))
      val p2 = one("wpctl bucketed two-phase")(
        graft.Agg.weightedPercentileBucketed(units, col("g"), col("s"),
          col("w"), bucketWidth = 65536L))
      assert(p1 == p2, s"percentile paths disagree: $p1 vs $p2")
      println("[xover] rank outputs verified identical on both paths")
    }

    // sketch: the q288 histogram-quantile thesis at scale — the exact
    // percentile serializes every value through one sort buffer while
    // the sketch is a bins-longs aggregation; AND the sketch is
    // MERGEABLE: bin counts from disjoint shards sum to the whole-corpus
    // bins, so the merged estimate is bit-identical to the single-pass
    // one (the property an exact percentile fundamentally lacks).
    // Knob: SPARK_GRAFT_XOVER_VALUES (default 50M).
    if (which == "sketch") {
      val nV = sys.env.getOrElse("SPARK_GRAFT_XOVER_VALUES", "50000000")
        .toLong
      val lo = 0L; val hi = 10000000L; val bins = 1000
      val vals = spark.range(nV).select(col("id"),
          pmod(xxhash64(concat(lit("v"), col("id"))), lit(hi)).as("v"))
        .cache()
      vals.count()
      println(s"[xover] sketch: values=$nV range=[$lo,$hi) bins=$bins")
      def sketch(df: DataFrame) = graft.Sketches.histogramQuantiles(
        df, col("v"), lo, hi, bins, Seq(0.5, 0.9, 0.99))
      def timeRows(tag: String)(f: => Array[String]): Array[String] = {
        def pass(): (Double, Array[String]) = {
          val t0 = System.nanoTime(); val r = f
          ((System.nanoTime() - t0) / 1e9, r)
        }
        val (ta, ra) = pass(); val (tb, rb) = pass()
        assert(ra.sameElements(rb), s"$tag nondeterministic")
        println(f"[xover] $tag%-28s ${math.min(ta, tb)}%8.2f s")
        ra
      }
      val exact = timeRows("exact percentile (sorted)")(
        vals.agg(percentile(col("v"), expr("array(0.5, 0.9, 0.99)")))
          .collect().map(_.toString))
      // the q288 operator recomputes the exact answer as its honesty
      // rider — time the SKETCH-ONLY bins+interp path here
      val skOnly = timeRows("histogram sketch (bins only)") {
        val bin = least(floor(greatest((col("v") - lo) * bins /
          lit(hi - lo), lit(0L))).cast("long"), lit(bins - 1L))
        vals.select(bin.as("b")).groupBy("b").agg(count(lit(1)).as("c"))
          .collect().map(_.toString).sortBy(identity)
      }
      require(exact.nonEmpty && skOnly.nonEmpty)
      // mergeability: shard the corpus in two, sum bin counts, and the
      // merged histogram must equal the single-pass histogram exactly
      val binExpr = least(floor(greatest((col("v") - lo) * bins /
        lit(hi - lo), lit(0L))).cast("long"), lit(bins - 1L))
      def binsOf(df: DataFrame) = df.select(binExpr.as("b"))
        .groupBy("b").agg(count(lit(1)).as("c"))
      val whole = binsOf(vals)
      val merged = binsOf(vals.where(pmod(col("id"), lit(2)) === 0))
        .unionByName(binsOf(vals.where(pmod(col("id"), lit(2)) === 1)))
        .groupBy("b").agg(sum("c").as("c"))
      val mergeDiff = whole.exceptAll(merged).count() +
        merged.exceptAll(whole).count()
      assert(mergeDiff == 0, s"merged bins differ on $mergeDiff rows")
      println("[xover] sketch shard-merge verified bin-identical")
      sketch(vals).show(truncate = false)
    }

    spark.stop()
  }
}
