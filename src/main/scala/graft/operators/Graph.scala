package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph ranking over an edge list — the join-agg-loop pattern
  * that complements [[Dedup.connectedComponents]]' label propagation.
  * HITS on a bipartite graph (hubs = left vertices, authorities = right
  * vertices) is the shape of "rank suppliers by the importance of the
  * parts they supply / rank domains by the quality of the documents they
  * host": each iteration is two distributed join+agg passes over the edge
  * list, nothing driver-side.
  *
  * Contract: every vertex-sized table (degree tables, rank and score
  * tables, per-iteration sums) is broadcast onto the edge list, which
  * stays in place. A vertex set past the broadcast budget is out of
  * scope.
  */
object Graph {
  /** Fixed-iteration HITS (Kleinberg 1999) over the distinct bipartite
    * edge list (src, dst). Authorities start at 1; each iteration computes
    * hub(s) = Σ auth(d) over s's edges, then auth(d) = Σ hub(s) over d's
    * edges, each side max-normalized to fixed-point 1e6 integers.
    *
    * Scale shape: per iteration, two shuffles of the edge list keyed by
    * src resp. dst (map-side combinable sums) plus a 1-row max broadcast —
    * the score tables are vertex-sized and broadcast onto the edges (at
    * 100 TB the edge list dwarfs the vertex sets, so edges stay in place
    * and only vertex scores move). `iters` is bounded BY CONSTRUCTION like
    * the q105 recursion — HITS converges geometrically, and every extra
    * iteration is two more corpus-scale shuffles.
    *
    * Determinism: scores are re-quantized to longs after every
    * max-normalization (round(score·1e6/max)), so all cross-row sums are
    * integer sums — order-independent — and the one division per iteration
    * divides identical integers in both engines (FIXTURES.md convention).
    * Emits the hub side: (vertex, score) with score the final fixed-point
    * hub value, ordered for the gate by score desc, vertex asc. */
  def hitsBipartite(edges: DataFrame, src: Column, dst: Column,
                    iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 8,
      "iters must be in [1, 8]: each iteration is two edge-list shuffles")
    // null-keyed edges can never match the iteration equi-joins, so drop
    // them up front; an edge list with nothing left has no defined
    // max-normalizer — fail loudly instead of NPE on the null max
    val e = edges.select(src.as("s"), dst.as("d"))
      .where(col("s").isNotNull && col("d").isNotNull).distinct()
      .localCheckpoint() // one shuffle; every iteration re-reads this
    require(!e.isEmpty,
      "hitsBipartite needs a non-empty edge list (the per-iteration " +
        "max-normalizer is undefined over zero edges)")
    // auth_0 = 1e6 for every authority (fixed-point 1.0)
    var auth = e.select(col("d")).distinct()
      .select(col("d"), lit(1000000L).as("a"))
    var hub: DataFrame = null
    // Each side's raw-sum table is checkpointed before its max is taken:
    // without it the join+agg would execute TWICE per side per iteration
    // (once building the normalizer, once in the main path) — measured 2.5×
    // the whole query. The normalizer itself is a single long, so it rides
    // to the driver as a literal (bounded collect, like the IVF codebook)
    // instead of a 1-row broadcast join.
    for (_ <- 1 to iters) {
      val hRaw = e.join(broadcast(auth), "d")
        .groupBy("s").agg(sum("a").as("hr")).localCheckpoint()
      val hMax = hRaw.agg(max("hr")).head.getLong(0)
      hub = hRaw.select(col("s"),
        round(col("hr").cast("double") * lit(1e6) / lit(hMax).cast("double"), 0)
          .cast("long").as("h"))
      val aRaw = e.join(broadcast(hub), "s")
        .groupBy("d").agg(sum("h").as("ar")).localCheckpoint()
      val aMax = aRaw.agg(max("ar")).head.getLong(0)
      auth = aRaw.select(col("d"),
        round(col("ar").cast("double") * lit(1e6) / lit(aMax).cast("double"), 0)
          .cast("long").as("a"))
    }
    hub.select(col("s").as("vertex"), col("h").as("hub_score"))
      .orderBy(desc("hub_score"), col("vertex"))
  }

  /** Fixed-iteration PageRank (Brin & Page 1998, unnormalized per-node
    * form: pr = 0.15 + 0.85·Σ pr(u)/outdeg(u), so scores sum to ≈N not 1)
    * over the distinct directed edge list (src, dst). Dangling vertices
    * keep their base 0.15 and contribute nothing — the standard
    * leak-the-mass simplification; callers wanting the conservative
    * variant symmetrize the edge list first (as q140 does), which leaves
    * no dangling vertices at all.
    *
    * Scale shape: per iteration ONE shuffle of the edge list keyed by dst
    * (map-side-combinable long sums); the vertex-sized rank table is
    * broadcast onto the edges, and the out-degree table is joined once up
    * front and checkpointed with the edges. At 100 TB the edge list dwarfs
    * the vertex set, so edges never move after the initial distinct.
    *
    * Determinism: ranks are fixed-point 1e6 longs; each edge contribution
    * is round(pr/outdeg) — one double division of two identical longs per
    * edge, re-quantized BEFORE the sum — so all cross-row sums are exact
    * integer sums and no association order can move a bit (FIXTURES.md).
    */
  def pageRank(edges: DataFrame, src: Column, dst: Column,
               iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 8,
      "iters must be in [1, 8]: each iteration shuffles the edge list")
    // ONE shuffle dedups the edge list; everything vertex-sized below
    // (degrees, rank tables, per-iteration sums) is broadcast onto it.
    // The distinct sub-plan appears on both sides of the degree join
    // inside ONE job, so its exchange is built once and reused — the
    // degree-annotated edge table is the only corpus-scale
    // materialization (each iteration re-reads it).
    val e = edges.select(src.as("s"), dst.as("d"))
      .where(col("s").isNotNull && col("d").isNotNull).distinct()
    val eDeg = e.join(
        broadcast(e.groupBy("s").agg(count(lit(1)).as("deg"))), "s")
      .localCheckpoint()
    require(!eDeg.isEmpty,
      "pageRank needs a non-empty edge list after null filtering")
    val verts = eDeg.select(col("s").as("v"))
      .union(eDeg.select(col("d"))).distinct().localCheckpoint()
    var pr = verts.select(col("v"), lit(1000000L).as("p")) // fixed-point 1.0
    for (_ <- 1 to iters) {
      val sums = eDeg.join(broadcast(pr), col("s") === col("v"))
        .select(col("d"),
          round(col("p").cast("double") / col("deg").cast("double"), 0)
            .cast("long").as("c"))
        .groupBy("d").agg(sum("c").as("sc")) // map-side combinable
      pr = verts.join(broadcast(sums), col("v") === col("d"), "left")
        .select(col("v"), (lit(150000L) +
          round(lit(0.85) * coalesce(col("sc"), lit(0L)).cast("double"), 0)
            .cast("long")).as("p"))
    }
    pr.select(col("v").as("vertex"), col("p").as("pr_score"))
      .orderBy(desc("pr_score"), col("vertex"))
  }

  /** The undirected simple graph under an edge list: (u, v) with
    * u < v, distinct, null endpoints and self-loops dropped. */
  private def simpleEdges(edges: DataFrame, u: Column, v: Column): DataFrame =
    edges.select(least(u, v).as("u"), greatest(u, v).as("v"))
      .where(col("u").isNotNull && col("v").isNotNull &&
        col("u") =!= col("v"))
      .distinct()

  /** (vert, d): the degree of every vertex of [[simpleEdges]]' `e`. */
  private def degrees(e: DataFrame): DataFrame =
    e.select(col("u").as("vert")).union(e.select(col("v")))
      .groupBy("vert").agg(count(lit(1)).as("d"))

  /** `e` with each endpoint's degree (du, dv) joined on. */
  private def withDegrees(e: DataFrame, deg: DataFrame): DataFrame =
    e.join(broadcast(deg.select(col("vert").as("u"), col("d").as("du"))), "u")
      .join(broadcast(deg.select(col("vert").as("v"), col("d").as("dv"))), "v")

  /** The degree-ordered orientation over [[withDegrees]]: u comes first
    * when (du, u) < (dv, v). */
  private val uFirst = struct(col("du"), col("u")) < struct(col("dv"), col("v"))

  /** The oriented wedges of [[triangleCount]] and
    * [[clusteringCoefficient]], every frame checkpointed: `e` and `deg`
    * as above; `o` = each edge oriented s → t with t's degree `dt`;
    * `w` = every pair of out-edges of one source, ordered by (dt, t), as
    * wedge ends (y, z), led by the source `s` when `withApex`. */
  private def orientedWedges(edges: DataFrame, u: Column, v: Column,
                             withApex: Boolean)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val e = simpleEdges(edges, u, v).localCheckpoint()
    val deg = degrees(e).localCheckpoint()
    val o = withDegrees(e, deg).select(
        when(uFirst, col("u")).otherwise(col("v")).as("s"),
        when(uFirst, col("v")).otherwise(col("u")).as("t"),
        when(uFirst, col("dv")).otherwise(col("du")).as("dt"))
      .localCheckpoint()
    val ends = Seq(col("o1.t").as("y"), col("o2.t").as("z"))
    val w = o.as("o1").join(o.as("o2"), col("o1.s") === col("o2.s"))
      .where(struct(col("o1.dt"), col("o1.t")) <
        struct(col("o2.dt"), col("o2.t")))
      .select((if (withApex) col("o1.s").as("s") +: ends else ends): _*)
      .localCheckpoint()
    (e, deg, o, w)
  }

  /** Exact triangle count over an undirected edge list, via degree-ordered
    * orientation (Suri & Vassilvitskii 2011 / Schank-Wagner): orient every
    * edge from its (degree, key)-smaller endpoint to the larger, build
    * wedges by joining oriented edges on their source, and close each
    * wedge against the oriented edge set. Orientation bounds every
    * vertex's out-degree by O(√|E|) on any graph, so the wedge join
    * produces O(|E|^1.5) rows worst-case instead of Σ deg² — the
    * difference between finishing and not on power-law graphs at 100 TB.
    *
    * Returns a one-row report (n_vertices, n_edges, n_wedges,
    * n_triangles) — all exact integer counts; the degree tables are
    * vertex-sized broadcasts, the only corpus-scale shuffles are the edge
    * dedup and the two equi-joins. */
  def triangleCount(edges: DataFrame, u: Column, v: Column): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val (e, deg, o, w) = orientedWedges(edges, u, v, withApex = false)
    val tri = w.join(o.select(col("s").as("y"), col("t").as("z")), Seq("y", "z"))
    Seq((deg.count(), e.count(), w.count(), tri.count()))
      .toDF("n_vertices", "n_edges", "n_wedges", "n_triangles")
  }

  /** k-core peeling (Seidman 1983) over a SYMMETRIC edge list: each round
    * drops every vertex whose current degree is below k (and all its
    * edges), and `rounds` rounds are unrolled — the fixed-iteration
    * convention of [[hitsBipartite]]/[[pageRank]], with the oracle
    * running the identical unroll. Returns the surviving vertices that
    * still hold ≥ k edges, with their residual degree.
    *
    * Scale shape: per round, one degree aggregation (edge shuffle keyed
    * by src, map-side combinable) and two left-semi joins of the edge
    * list against the vertex-sized survivor set — edges stay put, only
    * survivor keys move. The edge list is re-checkpointed each round so
    * the lineage (and recomputation) stays one round deep; peeling
    * converges when a round removes nothing, making further rounds
    * degree-agg-only no-ops. */
  def kcore(edges: DataFrame, u: Column, v: Column, k: Int,
            rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, "k and rounds must be positive")
    var e = edges.select(u.as("a"), v.as("b"))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct().localCheckpoint()
    for (_ <- 1 to rounds) {
      val keep = e.groupBy("a").agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k).select("a")
      val prev = e
      e = e.join(keep, Seq("a"), "leftsemi")
        .join(keep.select(col("a").as("b")), Seq("b"), "leftsemi")
        .select("a", "b").localCheckpoint()
      // Dataset.unpersist is a no-op on checkpoint plans (see
      // CheckpointUtils) — free the superseded round's blocks directly
      org.apache.spark.sql.graft.CheckpointUtils.unpersistCheckpoint(prev)
    }
    e.groupBy("a").agg(count(lit(1)).as("degree"))
      .where(col("degree") >= k)
      .select(col("a").as("vertex"), col("degree"))
      .orderBy(desc("degree"), col("vertex"))
  }

  /** Clustering-coefficient report over an undirected edge list: global
    * wedge-closure rate under the degree-ordered orientation (each
    * triangle closes exactly ONE oriented wedge, so ntr/nw is the
    * closure probability of an oriented wedge — the [[triangleCount]]
    * orientation reused verbatim) plus the mean LOCAL coefficient
    * 2·t_v/(d_v·(d_v−1)) over vertices with degree ≥ 2.
    *
    * Per-vertex triangle counts come from exploding each found
    * triangle to its three corners — triangles are few relative to
    * wedges, so the explode is cheap. Each local coefficient is one
    * double division quantized to 1e-6 fixed-point before the exact
    * global sum (the chiSqTerm device); counts assemble via 1-row
    * broadcasts. Same O(|E|^1.5) wedge bound as [[triangleCount]]. */
  def clusteringCoefficient(edges: DataFrame, u: Column, v: Column)
      : DataFrame = {
    val (_, deg, o, w) = orientedWedges(edges, u, v, withApex = true)
    val tr = w
      .join(o.select(col("s").as("y"), col("t").as("z")), Seq("y", "z"))
      .select(col("s"), col("y"), col("z")).localCheckpoint()
    val pv = tr.select(col("s").as("vert"))
      .union(tr.select(col("y"))).union(tr.select(col("z")))
      .groupBy("vert").agg(count(lit(1)).as("t"))
    val cc = deg.where(col("d") >= 2)
      .join(pv, Seq("vert"), "left")
      .select(round((coalesce(col("t"), lit(0L)) * 2).cast("double") /
        (col("d") * (col("d") - 1)) * lit(1e6), 0).cast("long").as("c6"))
    val ccAgg = cc.agg(count(lit(1)).as("n_closable"),
      coalesce(sum("c6"), lit(0L)).as("s6"))
    val nv = deg.agg(count(lit(1)).as("n_vertices"))
    val nw = w.agg(count(lit(1)).as("n_wedges"))
    val ntr = tr.agg(count(lit(1)).as("n_triangles"))
    nv.crossJoin(broadcast(nw)).crossJoin(broadcast(ntr))
      .crossJoin(broadcast(ccAgg))
      .select(col("n_vertices"), col("n_wedges"), col("n_triangles"),
        col("n_closable"),
        round(col("n_triangles").cast("double") /
          nullif(col("n_wedges").cast("double"), lit(0.0)), 4)
          .as("oriented_wedge_closure"),
        round(col("s6").cast("double") / lit(1e6) /
          nullif(col("n_closable").cast("double"), lit(0.0)), 4)
          .as("avg_local_cc"))
  }

  /** Dependency-depth layering of the degree-ordered orientation: the
    * [[triangleCount]] (degree, id)-orientation is ACYCLIC by
    * construction, so longest-path-from-a-source levels are well
    * defined; `rounds` unrolled max-propagation steps compute
    * level(v) = max(level(u)+1 over in-edges), CAPPED at `rounds`
    * (stated semantics: "level ≥ rounds" collapses into the top
    * bucket — exact for any DAG whose depth ≤ rounds, a bounded-cost
    * contract like the pageRank/kcore fixed-iteration convention).
    * Output: vertices per level. Each round is one edge join against
    * the vertex-sized level table. */
  def dagLayers(edges: DataFrame, u: Column, v: Column,
                rounds: Int = 4): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val e = simpleEdges(edges, u, v)
    val deg = degrees(e)
    val o = withDegrees(e, deg)
      .select(when(uFirst, col("u")).otherwise(col("v")).as("s"),
        when(uFirst, col("v")).otherwise(col("u")).as("t"))
      .localCheckpoint()
    var lvl = deg.select(col("vert"), lit(0L).as("lv"))
    // per-round checkpoint (the A/B probe measured every-other-round
    // checkpointing 25% slower - recompute of the doubly-consumed lvl
    // beats job overhead) EXCEPT the last round, whose result has a
    // single consumer (the final histogram) and needs no pin (q284 trim)
    for (r <- 1 to rounds) {
      val prop = o.join(lvl.select(col("vert").as("s"), col("lv")), "s")
        .groupBy(col("t").as("vert"))
        .agg(max(col("lv") + 1).as("plv"))
      lvl = lvl.join(prop, Seq("vert"), "left")
        .select(col("vert"),
          greatest(col("lv"), coalesce(col("plv"), lit(0L))).as("lv"))
      if (r < rounds) lvl = lvl.localCheckpoint()
    }
    lvl.groupBy(col("lv").as("level"))
      .agg(count(lit(1)).as("n_vertices"))
      .orderBy("level")
  }

  /** Degree assortativity of an undirected edge list: the Pearson
    * correlation of endpoint degrees over both orientations of every
    * edge (the standard Newman 2002 definition). Degrees are exact
    * longs, the correlation is [[Trend.pearson]]'s integer power-sum
    * closed form — one edge-table pass after the degree aggregation.
    * r > 0: hubs attach to hubs; r < 0: hubs attach to leaves. */
  def degreeAssortativity(edges: DataFrame, u: Column, v: Column)
      : DataFrame = {
    val e = simpleEdges(edges, u, v)
    val ed = withDegrees(e, degrees(e))
    val pairs = ed.select(col("du").as("x"), col("dv").as("y"))
      .union(ed.select(col("dv"), col("du")))
    Trend.pearson(pairs.withColumn("g", lit("all")), col("g"),
        col("x"), col("y"))
      .select(col("n").as("n_endpoints"), col("r").as("assortativity"))
  }
}
