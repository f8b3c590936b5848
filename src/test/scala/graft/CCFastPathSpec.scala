package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Equality pin for [[Dedup.connectedComponents]]' r13 small-graph
  * fast path: the driver union-find must produce exactly the iterative
  * min-label loop's fixpoint — same endpoint set, same comp = min
  * reachable id — on star, chain, cycle, and fixture-derived graphs.
  * The threshold conf (spark.graft.cc.localEdgeLimit) switches paths,
  * so the pin drives BOTH implementations explicitly. A random-graph
  * property checks both paths of connectedComponents, ccIncremental and
  * ccIncrementalPatch against a plain-Scala union-find. */
class CCFastPathSpec extends SparkSpec {
  import spark.implicits._

  /** `run` evaluated on the driver path, then on the distributed path. */
  private def onBothPaths[T](run: => T): (T, T) = {
    val key = "spark.graft.cc.localEdgeLimit"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1000000")
    val local = run
    spark.conf.set(key, "0") // force the distributed loop
    val dist = try run finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
    (local, dist)
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    rows(df.orderBy(df.columns.map(col): _*))
      .map(r => (r.getLong(0), r.getLong(1)))

  private def both(edges: org.apache.spark.sql.DataFrame)
      : (Seq[(Long, Long)], Seq[(Long, Long)]) =
    onBothPaths(pairs(Dedup.connectedComponents(edges)))

  test("local union-find == distributed min-label loop (star, chain, cycle, merge)") {
    val edges = Seq(
      // star rooted above its min (root 5, leaves incl. 1: comp must be 1)
      (5L, 7L), (5L, 9L), (5L, 1L),
      // chain 10-11-12-13 (diameter > 1: pointer-jumping territory)
      (10L, 11L), (11L, 12L), (12L, 13L),
      // cycle 20-21-22-20
      (20L, 21L), (21L, 22L), (22L, 20L),
      // two stars merged by a bridge (30..33 + 40..43, bridge 33-40)
      (30L, 31L), (30L, 32L), (30L, 33L), (40L, 41L), (40L, 42L),
      (40L, 43L), (33L, 40L),
      // duplicate + reversed edges (must be inert)
      (5L, 7L), (7L, 5L)
    ).toDF("id_a", "id_b")
    val (local, dist) = both(edges)
    assert(local === dist)
    // spot semantics: the 5-star labels to 1, the bridge merges to 30
    val m = local.toMap
    assert(m(5L) == 1L && m(9L) == 1L && m(43L) == 30L && m(22L) == 20L)
  }

  test("local union-find == distributed loop on fixture star edges") {
    val docs = Tables.t(spark, sf, "documents")
    val edges = Dedup.minhashStarEdges(docs, col("text"), col("doc_id"),
      shingleSize = 3, numPerm = 16, bands = 4)
    val (local, dist) = both(edges)
    assert(local === dist)
    assert(local.nonEmpty)
  }

  test("empty edge list -> empty labels on both paths") {
    val edges = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val (local, dist) = both(edges)
    assert(local.isEmpty && dist.isEmpty)
  }

  test("connectedComponents: a null-endpoint edge is inert on both paths") {
    val edges = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (null, 3L), (4L, null), (null, null), (2L, 5L), (6L, 7L))
      .toDF("id_a", "id_b")
    val (local, dist) = onBothPaths(
      rows(Dedup.connectedComponents(edges).orderBy("id"))
        .map(r => (Option(r.get(0)), Option(r.get(1)))))
    assert(local === dist)
    assert(local.forall { case (id, comp) => id.isDefined && comp.isDefined },
      "no null id or label")
    // 3 and 4 touch only null edges, so they get no label
    assert(local.map { case (id, comp) => (id.get, comp.get) } ===
      Seq((1L, 1L), (2L, 1L), (5L, 1L), (6L, 6L), (7L, 6L)))
  }

  test("ccIncremental / ccIncrementalPatch: a null-endpoint edge is inert on both paths") {
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L)).toDF("id", "comp")
    val edges = Seq[(java.lang.Long, java.lang.Long)](
      (2L, 3L), (null, 4L), (5L, null), (null, null), (6L, 7L))
      .toDF("id_a", "id_b")
    val (local, dist) = onBothPaths(pairs(Dedup.ccIncremental(labels, edges)))
    assert(local === dist)
    // 4 keeps its own label and 5 gets none: the null edges touch nothing
    assert(local === Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (6L, 6L), (7L, 6L)))
    val (pLocal, pDist) = onBothPaths {
      val (patch, fresh) = Dedup.ccIncrementalPatch(labels, edges)
      (pairs(patch), pairs(fresh))
    }
    assert(pLocal === pDist)
    assert(pLocal === (Seq((3L, 1L), (7L, 6L)), Seq((6L, 6L), (7L, 6L))))
  }

  type Edge = (Option[Long], Option[Long])

  // ids 1..12 so edges collide, duplicate and reverse; null endpoints,
  // self-loops, and an isolated pair far from the rest
  private val edgeGen: Gen[Edge] = {
    val end = Gen.frequency(10 -> Gen.choose(1L, 12L).map(Option(_)),
      1 -> Gen.const(None))
    Gen.frequency(
      12 -> Gen.zip(end, end),
      2 -> Gen.choose(1L, 12L).map(v => (Some(v), Some(v))),
      1 -> Gen.choose(0L, 9L).map(k => (Some(100L + 2 * k), Some(101L + 2 * k))))
  }

  private def gen[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed)).get

  /** id → min id of its component, over `nodes` linked by `links`. */
  private def unionFind(nodes: Iterable[Long], links: Iterable[(Long, Long)])
      : Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    nodes.foreach(find)
    links.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  private def live(edges: Seq[Edge]): Seq[(Long, Long)] =
    edges.collect { case (Some(a), Some(b)) => (a, b) }

  private def edgeFrame(edges: Seq[Edge]) =
    edges.map { case (a, b) => (a.map(Long.box).orNull, b.map(Long.box).orNull) }
      .toDF("id_a", "id_b")

  /** `run` at the default localEdgeLimit, then forced distributed (0). */
  private def atDefaultAndZero[T](run: => T): (T, T) = {
    val key = "spark.graft.cc.localEdgeLimit"
    val prev = spark.conf.getOption(key)
    spark.conf.unset(key)
    try {
      val dflt = run
      spark.conf.set(key, "0")
      (dflt, run)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("random graphs: connectedComponents / ccIncremental / ccIncrementalPatch == union-find on both paths") {
    for (round <- 0 until 3) {
      val old = live(gen(Gen.listOfN(10, edgeGen), 3100L + round))
      val batch = gen(Gen.listOfN(10, edgeGen), 3200L + round)
      val oldEnds = old.flatMap { case (a, b) => Seq(a, b) }
      // day-0 labels: the old graph's components plus two isolated docs
      val labels = unionFind(oldEnds ++ Seq(50L, 51L), old)
      val ends = live(batch).flatMap { case (a, b) => Seq(a, b) }.distinct
      val merged = unionFind(labels.keys ++ ends, labels.toSeq ++ live(batch))
      // CC over the batch alone
      val ccWant = unionFind(ends, live(batch)).toSeq.sorted
      // full relabel over labels ∪ batch endpoints
      val incWant = merged.toSeq.sorted
      // patch: touched contracted nodes (an endpoint's old label, or
      // itself when unlabeled) whose minimum moved; fresh: unlabeled ends
      val patchWant = ends.map(x => labels.getOrElse(x, x)).distinct
        .collect { case n if merged(n) != n => (n, merged(n)) }.sorted
      val freshWant = ends.filterNot(labels.contains)
        .map(x => (x, merged(x))).sorted
      val labelDf = labels.toSeq.toDF("id", "comp")
      val edgeDf = edgeFrame(batch)
      val (cc0, cc1) = atDefaultAndZero(pairs(Dedup.connectedComponents(edgeDf)))
      assert(cc0 === ccWant, s"round $round: connectedComponents, default limit")
      assert(cc1 === ccWant, s"round $round: connectedComponents, limit 0")
      val (inc0, inc1) = atDefaultAndZero(pairs(Dedup.ccIncremental(labelDf, edgeDf)))
      assert(inc0 === incWant, s"round $round: ccIncremental, default limit")
      assert(inc1 === incWant, s"round $round: ccIncremental, limit 0")
      val (p0, p1) = atDefaultAndZero {
        val (patch, fresh) = Dedup.ccIncrementalPatch(labelDf, edgeDf)
        (pairs(patch), pairs(fresh))
      }
      assert(p0 === (patchWant, freshWant), s"round $round: ccIncrementalPatch, default limit")
      assert(p1 === (patchWant, freshWant), s"round $round: ccIncrementalPatch, limit 0")
    }
  }
}
