package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The training-run OUTPUT layer: once a corpus is curated, deduped and
  * split, a pretraining job still needs (a) a deterministic, seeded
  * global shuffle of the surviving documents, (b) token-balanced output
  * shards in that order, and (c) a deterministic interleave of sources
  * at mixture ratios — the actual byte order a data loader walks.
  * Extension beyond the reference surface (LLM-pipeline ops, SURVEY §2
  * extension block).
  *
  * Scale shapes (the reason this file exists — none of these may become
  * a single global sort or a one-partition window at 100 TB):
  *
  *  - [[shardAssign]] needs a GLOBAL running token sum over the shuffled
  *    order. The order key is a uniform hash, so its fixed-length prefix
  *    is a pre-computable range partitioning: running sums are computed
  *    WITHIN each prefix bucket (parallel windows over ~N/256 rows),
  *    bucket totals (≤ 16^prefixChars rows) get exclusive offsets on the
  *    tiny frame, and the global cumulative sum is offset + within — the
  *    classic two-phase distributed prefix sum, expressed entirely in
  *    DataFrame ops. One corpus shuffle (the bucket window), one
  *    bucket-spine broadcast.
  *  - [[strideInterleave]] computes each document's GLOBAL position in
  *    the interleaved order in CLOSED FORM — zero global sort: with
  *    integer strides L/w_s, the rank of (vt, s, rn) is 1 + (rn−1) +
  *    Σ_{s'≠s} #{rn' : rn'·L/w_{s'} < vt} + ties(s' < s), and each count
  *    is min(n_{s'}, ⌊(vt·w_{s'}−1)/L⌋) — per-row arithmetic against a
  *    one-row per-source-count broadcast. The oracle verifies it with
  *    the naive global-window rank.
  *  - [[cappedTokenBudgetPlan]] iterates on a per-SOURCE table bounded
  *    by the literal parts list (≤ |parts| rows, collected by contract —
  *    the bounded-collect convention of Dedup's split-name enum), never
  *    on corpus rows.
  */
object TrainOrder {

  /** Deterministic seeded permutation key: md5 of "seed:id". Uniform,
    * reproducible across engines (DuckDB md5 produces the identical
    * lowercase hex), and collision-free in practice; every consumer
    * still tie-breaks by id. */
  def orderKey(seed: String, id: Column): Column =
    md5(concat_ws(":", lit(seed), id.cast("string")))

  /** Token-balanced shard assignment in seeded-shuffle order: documents
    * are permuted by [[orderKey]], then cut into contiguous shards of
    * `shardTokens` tokens by the exclusive running token sum — the
    * "write the training data as ~equal shards in reproducible shuffled
    * order" step. Returns one row per document: (doc_id, n_tok,
    * global_pos, cum_tok, shard_id), totally ordered by global_pos.
    *
    * Distributed prefix sum, never a global window: the hash key's
    * `prefixChars`-char prefix buckets the corpus (uniform by
    * construction — 16^prefixChars buckets; 2 ⇒ 256, raise to 3–4 at
    * 100 TB so each bucket's window stays executor-sized); running sums
    * run per bucket, and the bucket-total frame (16^prefixChars rows,
    * BOUNDED BY CONSTRUCTION — the one unpartitioned window in this
    * file runs on that spine, never the corpus) yields exclusive
    * offsets broadcast back onto the bucketed rows. */
  def shardAssign(df: DataFrame, id: Column, tokens: Column, seed: String,
                  shardTokens: Long, prefixChars: Int = 2): DataFrame = {
    require(shardTokens > 0, "shardTokens must be positive")
    require(prefixChars >= 1 && prefixChars <= 8, "prefixChars in [1,8]")
    val base = df
      .select(id.cast("long").as("doc_id"), tokens.cast("long").as("n_tok"),
        orderKey(seed, id).as("__k"))
      .where(col("doc_id").isNotNull && col("n_tok").isNotNull)
      .withColumn("__b", substring(col("__k"), 1, prefixChars))
    // phase 1: running sums WITHIN each hash-prefix bucket (parallel)
    val wIn = Window.partitionBy("__b").orderBy("__k", "doc_id")
    val within = base
      .withColumn("__crow", row_number().over(wIn).cast("long"))
      .withColumn("__ctok", sum("n_tok").over(wIn))
    // phase 2: exclusive bucket offsets on the 16^prefixChars-row spine
    val wB = Window.orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = base.groupBy("__b")
      .agg(sum("n_tok").as("__btok"), count(lit(1)).as("__bn"))
      .select(col("__b"),
        coalesce(sum("__btok").over(wB), lit(0L)).as("__otok"),
        coalesce(sum("__bn").over(wB), lit(0L)).as("__orow"))
    within.join(broadcast(off), "__b")
      .select(col("doc_id"), col("n_tok"),
        (col("__crow") + col("__orow")).as("global_pos"),
        (col("__ctok") + col("__otok")).as("cum_tok"))
      // shard = exclusive-prefix token count / shardTokens (integer div:
      // a document straddling a boundary belongs to the shard its FIRST
      // token lands in — shards are ≥ shardTokens except the last)
      .withColumn("shard_id",
        expr(s"(cum_tok - n_tok) div ${shardTokens}L"))
      .orderBy("global_pos")
  }

  /** Per-shard balance report over [[shardAssign]]: how many documents
    * and tokens each shard actually carries. With maxDoc < shardTokens
    * every shard is non-empty and every fill but the last lands in
    * (shardTokens − maxDoc, shardTokens + maxDoc) — a shard's first doc
    * starts within maxDoc after its k·S boundary, so the fill (distance
    * between consecutive first-starts) deviates at most maxDoc each
    * way. The check that the balance claim holds before a 100 TB
    * write. */
  def shardStats(df: DataFrame, id: Column, tokens: Column, seed: String,
                 shardTokens: Long, prefixChars: Int = 2): DataFrame =
    shardAssign(df, id, tokens, seed, shardTokens, prefixChars)
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tokens"),
        min("global_pos").as("first_pos"), max("global_pos").as("last_pos"))
      .orderBy("shard_id")

  /** Deterministic proportional source interleave (stride scheduling):
    * source s with integer weight w_s emits its rn-th document (rn = its
    * seeded-shuffle rank within the source) at virtual time
    * vt = rn·(L/w_s), L = lcm(weights) — so every prefix of the global
    * vt-order carries the sources at ratio w, exactly the deterministic
    * mixing a data loader wants. Returns (doc_id, source, src_pos, vt,
    * global_pos), totally ordered by global_pos; ties in vt break by
    * (source, src_pos).
    *
    * global_pos is CLOSED-FORM (see object scaladoc): per-row integer
    * arithmetic against a one-row map of per-source counts — the
    * interleave order materializes with ONE keyed shuffle (the
    * per-source window) and zero global sorts; sources absent from
    * `weights` drop. */
  def strideInterleave(df: DataFrame, id: Column, source: Column,
                       weights: Seq[(String, Long)], seed: String)
      : DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      "weights must be positive")
    require(weights.map(_._1).distinct.size == weights.size,
      "duplicate source in weights")
    val L = weights.map(_._2).foldLeft(1L)((a, b) =>
      a / gcd(a, b) * b)
    val strideOf = weights.map { case (s, w) => s -> L / w }.toMap
    val base = df
      .select(id.cast("long").as("doc_id"), source.as("src"),
        orderKey(seed, id).as("__k"))
      .where(col("src").isin(weights.map(_._1): _*))
    val wS = Window.partitionBy("src").orderBy("__k", "doc_id")
    val stride = weights.foldRight(lit(null).cast("long")) {
      case ((s, _), other) => when(col("src") === s, lit(strideOf(s)))
        .otherwise(other)
    }
    val ranked = base
      .withColumn("src_pos", row_number().over(wS).cast("long"))
      .withColumn("vt", col("src_pos") * stride)
    // one-row per-source count map (groupless agg of a grouped agg —
    // source-cardinality-bounded, the 1-row broadcast convention)
    val counts = base.groupBy("src").agg(count(lit(1)).as("n"))
      .agg(map_from_entries(collect_list(struct(col("src"), col("n"))))
        .as("__nmap"))
    val withN = ranked.crossJoin(broadcast(counts))
    // rank(vt, s, rn) = 1 + (rn−1) + Σ_{s'≠s} min(n_{s'}, ⌊(vt·w_{s'}−1)/L⌋)
    //                 + Σ_{s'<s} [vt·w_{s'} ≡ 0 (mod L) ∧ vt·w_{s'}/L ≤ n_{s'}]
    val pos = weights.foldRight(lit(null).cast("long")) {
      case ((s, _), other) =>
        val earlier = weights.filter(_._1 != s).map { case (s2, w2) =>
          least(coalesce(element_at(col("__nmap"), lit(s2)), lit(0L)),
            expr(s"(vt * ${w2}L - 1) div ${L}L"))
        }.reduceOption(_ + _).getOrElse(lit(0L))
        val ties = weights.filter(t => t._1 < s).map { case (s2, w2) =>
          when(expr(s"(vt * ${w2}L) % ${L}L") === 0L &&
            expr(s"(vt * ${w2}L) div ${L}L") <=
              coalesce(element_at(col("__nmap"), lit(s2)), lit(0L)),
            lit(1L)).otherwise(lit(0L))
        }.reduceOption(_ + _).getOrElse(lit(0L))
        when(col("src") === s,
          col("src_pos") + earlier + ties).otherwise(other)
    }
    withN.select(col("doc_id"), col("src").as("source"), col("src_pos"),
        col("vt"), pos.as("global_pos"))
      .orderBy("global_pos")
  }

  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)

  /** Global rank (1..n) of each id in the seeded-shuffle order —
    * [[shardAssign]]'s two-phase prefix sum with unit weights (the
    * same no-global-window contract). */
  def globalRank(df: DataFrame, id: Column, seed: String,
                 prefixChars: Int = 2): DataFrame =
    shardAssign(df.select(id.as("__id")), col("__id"), lit(1L), seed,
      shardTokens = Long.MaxValue, prefixChars = prefixChars)
      .select(col("doc_id"), col("global_pos"))

  /** Data-loader checkpoint/resume plan: rank r of `ranks` starts its
    * pass at token offset ⌊T·r/ranks⌋ of the [[shardAssign]] order
    * (T = total tokens). For each rank, the INVERSE prefix-sum lookup:
    * the document containing its start offset, that document's shard,
    * and how many tokens of it to skip. Output one row per rank:
    * (rank, start_offset, doc_id, global_pos, shard_id, skip_tokens,
    * n_tok), ordered by rank.
    *
    * Zero corpus joins: each document computes IN CLOSED FORM which
    * ranks start inside it — offset_r ∈ [lo, lo+n_tok) ⟺
    * r ∈ [⌈lo·R/T⌉, ⌊(hi·R−1)/T⌋] — against a broadcast 1-row total,
    * then explodes that (almost always empty) range. Corpus-linear,
    * output rank-bounded. Long arithmetic holds to T·ranks < 2⁶³
    * (1e14 tokens × 1e4 ranks = 1e18 — fine; past that, scale T down
    * to coarser units before planning). */
  def rankResumePlan(df: DataFrame, id: Column, tokens: Column,
                     seed: String, shardTokens: Long, ranks: Int,
                     prefixChars: Int = 2): DataFrame = {
    require(ranks > 0, "ranks must be positive")
    val a = shardAssign(df, id, tokens, seed, shardTokens, prefixChars)
    val tot = a.agg(sum("n_tok").as("__T"))
    a.crossJoin(broadcast(tot))
      .withColumn("__lo", col("cum_tok") - col("n_tok"))
      .withColumn("__rmin", greatest(lit(0L),
        expr(s"(__lo * ${ranks}L + __T - 1L) div __T")))
      .withColumn("__rmax", least(lit(ranks - 1L),
        expr(s"(cum_tok * ${ranks}L - 1L) div __T")))
      .where(col("__rmin") <= col("__rmax"))
      .select(col("doc_id"), col("n_tok"), col("global_pos"),
        col("shard_id"), col("__lo"), col("__T"),
        explode(sequence(col("__rmin"), col("__rmax"))).as("rank"))
      .withColumn("start_offset", expr(s"(__T * rank) div ${ranks}L"))
      .select(col("rank"), col("start_offset"), col("doc_id"),
        col("global_pos"), col("shard_id"),
        (col("start_offset") - col("__lo")).as("skip_tokens"),
        col("n_tok"))
      .orderBy("rank")
  }

  /** Epoch-reshuffle decorrelation report: every epoch reshuffles with
    * its own seed, and this query PROVES the reshuffle decorrelates —
    * per decile of the epoch-A order, the mean and max absolute
    * position displacement under epoch B's order (independent uniform
    * permutations ⇒ mean |Δ| ≈ n/3 in every decile; a broken reseed
    * shows ~0). Output: (decile, n_docs, mean_abs_disp, max_disp),
    * mean sealed to 4 decimals (exact integer rational).
    *
    * Two [[globalRank]] passes + one id-keyed equi-join — no global
    * windows, no corpus broadcasts (the 1-row count rides a broadcast
    * cross join). */
  def epochDisplacement(df: DataFrame, id: Column, seedA: String,
                        seedB: String, deciles: Int = 10,
                        prefixChars: Int = 2): DataFrame = {
    require(deciles > 0, "deciles must be positive")
    val a = globalRank(df, id, seedA, prefixChars)
      .withColumnRenamed("global_pos", "pos_a")
    val b = globalRank(df, id, seedB, prefixChars)
      .withColumnRenamed("global_pos", "pos_b")
    val tot = a.agg(count(lit(1)).as("__n"))
    a.join(b, "doc_id")
      .crossJoin(broadcast(tot))
      .withColumn("decile",
        expr(s"((pos_a - 1L) * ${deciles}L) div __n"))
      .withColumn("__d", abs(col("pos_a") - col("pos_b")))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"), sum("__d").as("__sum"),
        max("__d").as("max_disp"))
      .withColumn("mean_abs_disp", Seal.ratio4("__sum", "n_docs"))
      .select(col("decile"), col("n_docs"), col("mean_abs_disp"),
        col("max_disp"))
      .orderBy("decile")
  }

  /** Curriculum training order: documents staged easy→hard by score
    * decile (equal-population stages — [[Ranked.ntileOf]] over the
    * score order), with a SEEDED SHUFFLE inside each stage (the
    * within-stage order must not leak the score ranking — adjacent
    * difficulty ≠ adjacent content). Returns (doc_id, score, stage,
    * stage_pos, global_pos, stage_tokens...) one row per doc, totally
    * ordered by global_pos = position in the (stage, md5 key) order.
    *
    * Three bounded passes, no single-partition window: score rank via
    * [[Ranked.withRowNumber]] (stage = closed-form ntile), global
    * position via a second device pass ordered by (stage, key), and
    * the within-stage position from a stage-partitioned window
    * (parallel across stages). */
  def curriculumOrder(df: DataFrame, id: Column, score: Column,
                      tokens: Column, stages: Int, seed: String)
      : DataFrame = {
    require(stages >= 2, "stages must be >= 2")
    val base = df.select(id.cast("long").as("doc_id"),
        score.as("score"), tokens.cast("long").as("n_tok"))
      .where(col("doc_id").isNotNull && col("score").isNotNull &&
        col("n_tok").isNotNull)
    val staged = Ranked
      .withRowNumber(base, Seq(col("score"), col("doc_id")), "__sr")
      .crossJoin(broadcast(base.agg(count(lit(1)).as("__n"))))
      .withColumn("stage", Ranked.ntileOf(col("__sr"), col("__n"), stages))
      .withColumn("__k", orderKey(seed, col("doc_id")))
    val wStage = Window.partitionBy("stage").orderBy("__k", "doc_id")
    Ranked.withRowNumber(staged, Seq(col("stage"), col("__k"),
        col("doc_id")), "global_pos")
      .withColumn("stage_pos", row_number().over(wStage).cast("long"))
      .select(col("doc_id"), col("score"), col("n_tok"), col("stage"),
        col("stage_pos"), col("global_pos"))
      .orderBy("global_pos")
  }

  /** The pacing report over [[curriculumOrder]]: per stage, how many
    * documents and tokens the loader consumes before difficulty steps
    * up, plus the stage's score envelope — the table a training run
    * reads to set its curriculum boundaries in steps. */
  def curriculumPacing(df: DataFrame, id: Column, score: Column,
                       tokens: Column, stages: Int, seed: String)
      : DataFrame =
    Ranked.withPrefix(
        curriculumOrder(df, id, score, tokens, stages, seed)
          .groupBy("stage")
          .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tokens"),
            min("score").as("min_score"), max("score").as("max_score")),
        Seq(col("stage")), Seq(col("tokens") -> "cum_tokens"))
      .select(col("stage"), col("n_docs"), col("tokens"),
        col("cum_tokens"), col("min_score"), col("max_score"))
      .orderBy("stage")

  /** [[Sampling.tokenBudgetPlan]] with per-source EPOCH CAPS — the
    * data-constrained refinement: a source may repeat at most
    * `maxEpochs` times, and budget it cannot absorb re-distributes over
    * the uncapped sources at their mixture parts (iterative
    * water-filling; converges in ≤ |parts| rounds since each non-final
    * round caps ≥ 1 source). Exact integer rationals throughout
    * (BigInt, sealed to 4 decimals by the Seal convention); the
    * per-source table is |parts|-bounded BY CONTRACT and collected —
    * the corpus contributes one keyed aggregation. Output: (source,
    * n_docs, tokens, mix_parts, capped, epochs, tokens_served). */
  def cappedTokenBudgetPlan(df: DataFrame, source: Column, tokens: Column,
                            parts: Seq[(String, Long)], budget: Long,
                            maxEpochs: Long): DataFrame = {
    require(parts.nonEmpty && parts.forall(_._2 >= 0), "parts must be >= 0")
    require(budget > 0 && maxEpochs > 0, "budget and maxEpochs positive")
    val pCol = parts.foldRight(lit(0L)) { case ((src, pv), other) =>
      when(source === src, lit(pv)).otherwise(other)
    }
    // the distributed leg: one source-keyed aggregation; the collect is
    // bounded by the literal parts list (sources not in `parts` drop)
    val per = df.select(source.as("src"), tokens.cast("long").as("tk"),
        pCol.as("p"))
      .where(col("src").isNotNull && col("tk").isNotNull && col("p") > 0)
      .groupBy("src", "p")
      .agg(count(lit(1)).as("n_docs"), sum("tk").as("tokens"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // exact water-fill in BigInt on the |parts|-bounded rows
    val maxE = BigInt(maxEpochs)
    var bRem = BigInt(budget)
    val capped = scala.collection.mutable.Set.empty[String]
    var stable = false
    while (!stable) {
      val den = per.filterNot(r => capped(r._1))
        .map(r => BigInt(r._2) * r._4).sum
      val newly = per.filterNot(r => capped(r._1))
        .filter(r => den > 0 && BigInt(r._2) * bRem > maxE * den)
      if (newly.isEmpty) stable = true
      else {
        newly.foreach(r => capped += r._1)
        bRem -= newly.map(r => maxE * r._4).sum
      }
    }
    val denF = per.filterNot(r => capped(r._1))
      .map(r => BigInt(r._2) * r._4).sum
    // Seal.ratio4's integer rounding, mirrored in BigInt
    def seal4(num: BigInt, den: BigInt): Double =
      if (den <= 0) Double.NaN
      else {
        val q = (num * 2 * 10000 + den) / (den * 2)
        q.toDouble / 1e4
      }
    val spark = df.sparkSession
    import scala.jdk.CollectionConverters._
    val rows = per.map { case (src, p, nDocs, tok) =>
      val isCap = capped(src)
      val epochs =
        if (isCap) maxEpochs.toDouble
        else seal4(BigInt(p) * bRem, denF)
      val served =
        if (isCap) (maxE * tok).toDouble
        else seal4(BigInt(p) * tok * bRem, denF)
      org.apache.spark.sql.Row(src, nDocs, tok, p, isCap, epochs, served)
    }
    spark.createDataFrame(rows.toSeq.asJava,
      org.apache.spark.sql.types.StructType.fromDDL(
        "source string, n_docs bigint, tokens bigint, mix_parts bigint, " +
          "capped boolean, epochs double, tokens_served double"))
      .orderBy("source")
  }
}
