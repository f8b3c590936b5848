package graft

import org.apache.spark.sql.functions._

/** Equality pin for [[Dedup.connectedComponents]]' r13 small-graph
  * fast path: the driver union-find must produce exactly the iterative
  * min-label loop's fixpoint — same endpoint set, same comp = min
  * reachable id — on star, chain, cycle, and fixture-derived graphs.
  * The threshold conf (spark.graft.cc.localEdgeLimit) switches paths,
  * so the pin drives BOTH implementations explicitly. */
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
}
