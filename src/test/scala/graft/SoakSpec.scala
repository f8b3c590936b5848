package graft

import org.apache.spark.sql.functions._

import graft.streaming.{DurableState, IngestStreams}

/** The 10-DAY SOAK (r12 judge directive 2): every durable streaming
  * loop driven over ten spooled arrival days with kills at three
  * distinct points, at least one size-triggered FOLD and one index
  * COMPACTION mid-run — the long-horizon composition the two-day
  * durability pins cannot exercise (fold → merge → compact → kill →
  * merge → fold …). End state must equal the uninterrupted run, and
  * for the order-independent loops the from-scratch full recompute. */
class SoakSpec extends SparkSpec {

  private val docs = Tables.t(spark, sf, "documents")
  // MODULAR cuts (the 100× streaming measurements' drive shape,
  // PLANS.md §r12 streaming loops at 100×): arriving ids
  // interleave BELOW corpus ids, so merges move component minima —
  // without that, threshold cuts never produce a patch row (new ids
  // are always above the old minimum) and the fold pins would be
  // vacuous. This is also exactly the regime the r13 replay fix
  // (index self-exclusion) exists for.
  private val corpus =
    docs.where(col("doc_id") % 12 === 0 || col("doc_id") % 12 === 11)
  private val days = (1 to 10).map(i =>
    docs.where(col("doc_id") % 12 === i))

  private val kills = Set(2, 5, 8)

  /** Mid-run LSH index compaction (after day 5's segment): the VStage
    * generation swap, content-preserving for an LSH index, re-bucketing
    * the sized 1-bucket index into 8. */
  private def compactAt(name: String)(day: Int): Unit =
    if (day == 5) withBuckets(8) {
      VStage.compact(spark, name + "_idx", "lsh_key",
        _.dropDuplicates("lsh_key", "corpus_id"))
    }

  private def labelRows(df: org.apache.spark.sql.DataFrame) =
    df.select("id", "comp").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1))).sorted

  test("cluster soak: 10 days, kills after days 2/5/8, index compaction " +
      "after day 5, auto-folds firing — eager-killed AND patch-log runs " +
      "equal the uninterrupted run AND the from-scratch full recompute") {
    val base = labelRows(DurableState.load(spark,
      IngestStreams.clusterLoop(spark, corpus, days, "t_soak_c_u")))
    val eagerKilled = labelRows(DurableState.load(spark,
      IngestStreams.clusterLoop(spark, corpus, days, "t_soak_c_k",
        killAfterDays = kills, afterSegment = compactAt("t_soak_c_k"))))
    assert(eagerKilled === base)
    val patchPath = IngestStreams.clusterLoopDeferred(spark, corpus, days,
      "t_soak_c_p", foldFactor = 0.05,
      killAfterDays = kills, afterSegment = compactAt("t_soak_c_p"))
    assert(labelRows(IngestStreams.patchLogLabels(spark, patchPath))
      === base)
    // the soak must actually have folded and compacted mid-run
    assert(DurableState.committedBatch(patchPath + "_base") > -1L,
      "no fold fired — soak is vacuous on the fold axis")
    assert(VStage.currentGen(spark, "t_soak_c_p_idx") > 0L,
      "no index compaction ran — soak is vacuous on the compaction axis")
    // order-independent ⇒ ≡ from-scratch full recompute over ALL docs
    val full = labelRows(Dedup.connectedComponents(
      Dedup.starEdgesFromIndex(
        Dedup.lshIndexFrame(docs, col("text"), col("doc_id")))))
    assert(base === full,
      "10-day incremental composition must equal the full recompute")
    assert(base.nonEmpty)
  }

  test("split soak: 10 days, kills after days 2/5/8, index compaction " +
      "after day 5, auto-folds firing — the ORDER-DEPENDENT assignment " +
      "state (eager-killed and patch-log) equals the uninterrupted run " +
      "row for row") {
    def assignRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("split"),
          coalesce(col("comp"), col("id")).as("comp"))
        .collect().toSeq
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    val base = assignRows(DurableState.load(spark,
      IngestStreams.splitLoop(spark, corpus, days, "t_soak_s_u",
        salt = "soak")))
    val eagerKilled = assignRows(DurableState.load(spark,
      IngestStreams.splitLoop(spark, corpus, days, "t_soak_s_k",
        salt = "soak", killAfterDays = kills,
        afterSegment = compactAt("t_soak_s_k"))))
    assert(eagerKilled === base)
    val patchPath = IngestStreams.splitLoopDeferred(spark, corpus, days,
      "t_soak_s_p", salt = "soak", foldFactor = 0.05, killAfterDays = kills,
      afterSegment = compactAt("t_soak_s_p"))
    assert(assignRows(IngestStreams.patchLogAssign(spark, patchPath))
      === base)
    assert(DurableState.committedBatch(patchPath + "_base") > -1L,
      "no fold fired — soak is vacuous on the fold axis")
    assert(VStage.currentGen(spark, "t_soak_s_p_idx") > 0L,
      "no index compaction ran — soak is vacuous on the compaction axis")
    // day-10 docs must be present in the final assignment (the long
    // chain reached its last day)
    assert(base.count(_._1 % 12 == 10) > 0)
    assert(base.nonEmpty)
  }

  test("retrieval soak: BOTH hybrid legs (lexical postings + IVF) under " +
      "10-day ingest with kills after days 2/5/8, a postings compaction " +
      "and an IVF recluster after day 5 — the killed stack's hybrid " +
      "serving equals the uninterrupted stack's row for row, and the " +
      "lexical index equals the from-scratch rebuild") {
    val vecs = Tables.t(spark, sf, "embeddings")
    val vcorpus =
      vecs.where(col("vec_id") % 12 === 0 || col("vec_id") % 12 === 11)
    val vdays = (1 to 10).map(i => vecs.where(col("vec_id") % 12 === i))
    val panelDocs = col("id") % 50 === 0
    def serve(tag: String, kills: Set[Int]) = {
      IngestStreams.lexicalLoop(spark, corpus, days, s"t_soak_hl_$tag",
        maintainStats = false, killAfterDays = kills,
        compactAfterDay = Some(5))
      val cents = IngestStreams.annLoop(spark, vcorpus, vdays,
        s"t_soak_hv_$tag", killAfterDays = kills,
        reclusterAfterDay = Some(5))
      val lex = Curate.tfidfTopKFromPostings(
        IngestStreams.collapsePostings(
          VStage.load(spark, s"t_soak_hl_${tag}_idx", refresh = true)),
        panelDocs, kLex = 20)
      val vec = Similarity.ivfKnnJoinIndex(
          VStage.load(spark, s"t_soak_hv_${tag}_idx", refresh = true),
          vecs.where(col("vec_id") % 50 === 0), col("embedding"),
          col("vec_id"), k = 20, centroids = cents, nProbe = 4,
          dedupCandidates = true, excludeSelf = true)
        .select(col("qid"), col("id"), col("rank"))
      Similarity.rrfFuseGroupedTopK(lex, vec, kConst = 60, k = 10)
        .select("qid", "rank", "id").collect().toSeq
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    }
    val base = serve("u", Set.empty)
    val killed = serve("k", kills)
    assert(killed === base,
      "kills + replays must not change what the hybrid stack serves")
    // both killed-run indexes actually compacted mid-run
    assert(VStage.currentGen(spark, "t_soak_hl_k_idx") > 0L,
      "no postings compaction ran — soak is vacuous on the lex axis")
    assert(VStage.currentGen(spark, "t_soak_hv_k_idx") > 0L,
      "no IVF recluster ran — soak is vacuous on the vector axis")
    // the lexical leg's append ≡ rebuild contract held over 10 days +
    // kills + compaction: the collapsed index equals a from-scratch
    // tokenize of every document that ever arrived
    val rebuilt = Curate.tokenPostings(
        corpus.unionByName(days.reduce(_ unionByName _)),
        col("doc_id"), col("text"))
      .select("id", "term", "tf").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    val grown = IngestStreams.collapsePostings(
        VStage.load(spark, "t_soak_hl_k_idx", refresh = true))
      .select("id", "term", "tf").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    assert(grown === rebuilt)
    assert(base.nonEmpty)
  }
}
