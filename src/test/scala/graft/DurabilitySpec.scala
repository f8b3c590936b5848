package graft

import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

import graft.streaming.{DurableState, IngestStreams}

/** Durability pins for the streaming ingest loops (r12 directive 1):
  * the cross-batch state lives in [[DurableState]] (the q327 crash-safe
  * parquet swap), so a driver restart between micro-batches resumes from
  * the last committed state — kill-and-resume must equal the
  * uninterrupted run for BOTH the order-independent (q364) and
  * order-dependent (q365) loops — and a re-delivered micro-batch must
  * apply exactly once. */
class DurabilitySpec extends SparkSpec {
  import spark.implicits._

  private def got(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("DurableState: commit/load round-trips, the marker gates replays, " +
      "and every crash point of the three-step swap recovers") {
    val path = "target/t_dstate"
    DurableState.destroy(path)
    assert(!DurableState.exists(path))
    assert(DurableState.committedBatch(path) === -1L)
    DurableState.commit(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), path, -1L)
    assert(DurableState.exists(path))
    assert(DurableState.committedBatch(path) === -1L)
    // a successor state whose plan READS the live dir (the reason the
    // device writes .tmp first)
    DurableState.commit(
      DurableState.load(spark, path).withColumn("v", col("v") + 1), path, 0L)
    assert(DurableState.committedBatch(path) === 0L)
    def content(): Seq[(Long, Long)] = DurableState.load(spark, path)
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1))).sorted
    val committed = content()
    assert(committed === Seq((1L, 11L), (2L, 21L)))
    // crash point A: leftover .tmp (incomplete write) — discarded
    val tmp = new java.io.File(path + ".tmp")
    tmp.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(tmp, "junk").toPath, "x")
    DurableState.recover(path)
    assert(!tmp.exists() && content() === committed)
    // crash point B: crash between rename-aside and move-in (.old holds
    // the only copy) — restored
    java.nio.file.Files.move(
      java.nio.file.Paths.get(path), java.nio.file.Paths.get(path + ".old"))
    DurableState.recover(path)
    assert(content() === committed)
    assert(DurableState.committedBatch(path) === 0L)
    // crash point C: crash before the final cleanup (.old beside a live
    // dir) — the stale copy drops, the live dir wins
    val old = new java.io.File(path + ".old")
    old.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(old, "junk").toPath, "x")
    DurableState.recover(path)
    assert(!old.exists() && content() === committed)
  }

  test("q364 kill-and-resume: restarting the stream from its checkpoint " +
      "after every day yields the same cluster census as the " +
      "uninterrupted run (state resumes from the durable swap)") {
    val uninterrupted = got(IngestStreams.runClusterMaintenance(
      spark, sf, "t_kr364_u", cut0 = 200, cut1 = 350))
    val resumed = got(IngestStreams.runClusterMaintenance(
      spark, sf, "t_kr364_k", cut0 = 200, cut1 = 350,
      killAfterDays = Set(1, 2)))
    assert(resumed === uninterrupted)
    assert(uninterrupted.nonEmpty)
  }

  test("q365 kill-and-resume: the ORDER-DEPENDENT split-stable state " +
      "(day-2 inheritance depends on day-1 merges) survives a restart " +
      "between days — census equals the uninterrupted run") {
    val uninterrupted = got(IngestStreams.runSplitStableIngest(
      spark, sf, "t_kr365_u", cut0 = 200, cut1 = 350, salt = "krs"))
    val resumed = got(IngestStreams.runSplitStableIngest(
      spark, sf, "t_kr365_k", cut0 = 200, cut1 = 350, salt = "krs",
      killAfterDays = Set(1, 2)))
    assert(resumed === uninterrupted)
    // the pin is only meaningful if day 2 actually inherited through
    // day-1 state: some new docs must exist in the census
    assert(uninterrupted.map(_(1).asInstanceOf[Long]).sum > 200)
  }

  test("q358 kill-and-resume: the dedup loop's per-batch-directory " +
      "output and index appends survive a restart between days") {
    val uninterrupted = got(IngestStreams.runIngestDedup(
      spark, sf, "t_kr358_u", cut0 = 200, cut1 = 350))
    val resumed = got(IngestStreams.runIngestDedup(
      spark, sf, "t_kr358_k", cut0 = 200, cut1 = 350,
      killAfterDays = Set(1, 2)))
    assert(resumed === uninterrupted)
    assert(uninterrupted.count(_.head == 2) > 0)
  }

  test("q368 patch-log state: census equals the eager-swap loop (same " +
      "oracle semantics), kill-and-resume equals uninterrupted, and " +
      "fold-into-base compaction leaves resolved reads identical") {
    val eager = got(IngestStreams.runClusterMaintenance(
      spark, sf, "t_pl_eager", cut0 = 200, cut1 = 350))
    val deferred = got(IngestStreams.runClusterPatchLog(
      spark, sf, "t_pl_def", cut0 = 200, cut1 = 350))
    assert(deferred === eager)
    val resumed = got(IngestStreams.runClusterPatchLog(
      spark, sf, "t_pl_kr", cut0 = 200, cut1 = 350,
      killAfterDays = Set(1, 2)))
    assert(resumed === eager)
    // the patch map must actually be in play for these pins to mean
    // anything: some label moved after day 0
    val statePath = "target/ingest_state_t_pl_def"
    assert(graft.streaming.DurableState
      .load(spark, statePath + "_patch").count() > 0,
      "fixture produced no cross-batch merges — patch pins are vacuous")
    // fold-into-base compaction: resolved reads identical, appends
    // subsumed (marker-filtered), patch reset
    val before = IngestStreams.patchLogLabels(spark, statePath)
      .orderBy("id").collect().toSeq
    IngestStreams.foldPatchLog(spark, statePath)
    val after = IngestStreams.patchLogLabels(spark, statePath)
      .orderBy("id").collect().toSeq
    assert(after === before)
    assert(graft.streaming.DurableState
      .load(spark, statePath + "_patch").count() === 0)
  }

  test("q369 split patch-log: census equals the eager q365 loop, " +
      "kill-and-resume equals uninterrupted (order-dependent state on " +
      "batch-bounded durable writes), fold compaction read-invariant") {
    val eager = got(IngestStreams.runSplitStableIngest(
      spark, sf, "t_sp_eager", cut0 = 200, cut1 = 350, salt = "spp"))
    val deferred = got(IngestStreams.runSplitStablePatchLog(
      spark, sf, "t_sp_def", cut0 = 200, cut1 = 350, salt = "spp"))
    assert(deferred === eager)
    val resumed = got(IngestStreams.runSplitStablePatchLog(
      spark, sf, "t_sp_kr", cut0 = 200, cut1 = 350, salt = "spp",
      killAfterDays = Set(1, 2)))
    assert(resumed === eager)
    val statePath = "target/ingest_state_t_sp_def"
    assert(graft.streaming.DurableState
      .load(spark, statePath + "_patch").count() > 0,
      "fixture produced no cross-batch merges — patch pins are vacuous")
    val before = IngestStreams.patchLogAssign(spark, statePath)
      .orderBy("id").collect().toSeq
    IngestStreams.foldPatchAssign(spark, statePath)
    val after = IngestStreams.patchLogAssign(spark, statePath)
      .orderBy("id").collect().toSeq
    assert(after === before)
  }

  test("patch-log replay window: an UNCOMMITTED append (crashed attempt " +
      "that died before its patch commit) is invisible to resolved " +
      "reads — the replay recomputes from the exact pre-batch view") {
    got(IngestStreams.runClusterPatchLog(
      spark, sf, "t_pl_rw", cut0 = 200, cut1 = 350))
    val statePath = "target/ingest_state_t_pl_rw"
    val before = IngestStreams.patchLogLabels(spark, statePath)
      .orderBy("id").collect().toSeq
    // simulate the crash: a leftover label append one PAST the last
    // committed batch, carrying rows that would corrupt a replay
    val committed = graft.streaming.DurableState
      .committedBatch(statePath + "_patch")
    Seq((-777L, -777L)).toDF("id", "comp").write.mode("overwrite")
      .parquet(s"${statePath}_labels/ingest_batch=${committed + 1}")
    val after = IngestStreams.patchLogLabels(spark, statePath)
      .orderBy("id").collect().toSeq
    assert(after === before,
      "uncommitted appends must be marker-filtered out of resolved reads")
  }

  test("q377 mid-stream compaction non-vacuity: the dedup loop's output " +
      "equals the un-compacted run, the index generation advanced, and " +
      "the compacted generation is back to one file per bucket") {
    val plain = got(IngestStreams.runIngestDedup(
      spark, sf, "t_sdc_plain", cut0 = 200, cut1 = 350))
    val compacted = got(IngestStreams.runIngestDedupCompact(
      spark, sf, "t_sdc_cmp", cut0 = 200, cut1 = 350))
    assert(compacted === plain)
    assert(plain.nonEmpty)
    val gen = VStage.currentGen(spark, "t_sdc_cmp_idx")
    assert(gen > 0L, "compaction never ran — the pin is vacuous")
    assert(plain.exists(_.head == 2), "day 2 must append survivors")
    val wh = new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath
    val liveTable = VStage.genTable("t_sdc_cmp_idx", gen)
    val numBuckets = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(liveTable)).bucketSpec.get.numBuckets
    // day 2 appended AFTER the compaction, so the live generation holds
    // the files of two write jobs, told apart by the job UUID in every
    // file name (part-<task>-<uuid>_<bucket>…): the compaction's, one
    // file per bucket, then day 2's append
    val live = new java.io.File(wh, liveTable).listFiles()
      .filter(_.getName.endsWith(".parquet")).toSeq
    val byJob = live.groupBy(_.getName.split("-", 3)(2).take(36)).values
      .toSeq.sortBy(_.map(_.lastModified).min)
    assert(byJob.size === 2, live.map(_.getName))
    val (compactionFiles, day2Files) = (byJob.head, byJob(1))
    assert(compactionFiles.map(f => f.getName.split("_")(1).take(5).toInt)
      .sorted === (0 until numBuckets), "one compacted file per bucket")
    assert(live.size === numBuckets + day2Files.size)
    val plainFiles = new java.io.File(wh,
        VStage.genTable("t_sdc_plain_idx",
          VStage.currentGen(spark, "t_sdc_plain_idx")))
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(live.size < plainFiles,
      s"compaction must re-bound the file count (${live.size} vs $plainFiles)")
  }

  test("q379 decon-gated prep: kill-and-resume equals uninterrupted, no " +
      "contaminated doc survives, and the gate is non-vacuous (q370's " +
      "loop DOES pass contaminated docs on this fixture)") {
    val plain = got(IngestStreams.runIngestPrep(
      spark, sf, "t_dec_plain", cut0 = 200, cut1 = 350))
    val decon = got(IngestStreams.runIngestPrepDecon(
      spark, sf, "t_dec_u", cut0 = 200, cut1 = 350))
    val resumed = got(IngestStreams.runIngestPrepDecon(
      spark, sf, "t_dec_k", cut0 = 200, cut1 = 350,
      killAfterDays = Set(1, 2)))
    assert(resumed === decon)
    assert(decon.nonEmpty)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val gated = docs.where(
      graft.TextAnalysis.langId(col("text")) === lit("en") &&
        round(graft.TextAnalysis.qualityScore(col("text")), 4) >= 0.5)
    val contam = Decontaminate.overlaps(gated, col("text"), col("doc_id"),
        docs.where(col("doc_id") % 25 === 0), col("text"), n = 5)
      .select("doc_id").as[Long].collect().toSet
    val plainIds = plain.map(_(1).asInstanceOf[Long]).toSet
    val deconIds = decon.map(_(1).asInstanceOf[Long]).toSet
    assert(plainIds.exists(contam),
      "fixture has no contaminated prep survivors — the decon pin is vacuous")
    assert(deconIds.intersect(contam).isEmpty,
      "a benchmark-contaminated doc reached the training output")
  }

  test("q388 lexical ingest: kill-and-resume equals uninterrupted; " +
      "duplicated replay rows are NOT inert for tf-idf and the " +
      "serving collapse makes them so, with zero extra Exchange") {
    val plain = got(IngestStreams.runLexicalIngest(
      spark, sf, "t_lex_u", cut0 = 200, cut1 = 350))
    val resumed = got(IngestStreams.runLexicalIngest(
      spark, sf, "t_lex_k", cut0 = 200, cut1 = 350,
      killAfterDays = Set(1, 2)))
    assert(resumed === plain)
    assert(plain.nonEmpty)
    // the replay hazard pinned both ways on a hand-duplicated index
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val posts = Curate.tokenPostings(docs, col("doc_id"), col("text"))
    val day = Curate.tokenPostings(docs.where(col("doc_id") >= 350),
      col("doc_id"), col("text"))
    def serve(p: org.apache.spark.sql.DataFrame) =
      Curate.tfidfTopKFromPostings(p, col("id") % 50 === 0, kLex = 10)
        .orderBy("qid", "rank").collect().toSeq
    val clean = serve(posts)
    assert(serve(posts.unionByName(day)) !== clean,
      "duplicate posting rows must NOT be inert — this pin is vacuous")
    assert(serve(IngestStreams.collapsePostings(posts.unionByName(day)))
      === clean)
    // the collapse's grouping keys contain the bucket key, so over the
    // term-bucketed scan it must add NO Exchange
    Staging.stageBucketed(posts, "t_lex_plan", "term", 4)
    val collapsed = IngestStreams.collapsePostings(
      Staging.load(spark, "t_lex_plan"))
    val plan = collapsed.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"), plan)
    assert(!plan.contains("Exchange"),
      s"postings collapse must not reshuffle the bucketed index:\n$plan")
  }

  test("q389 stats-maintained lexical ingest: maintained stats serve " +
      "exactly as recomputed (q388), kill-and-resume equals " +
      "uninterrupted, and the day tag separates replayed deltas " +
      "(collapse) from identical legitimate days (count twice)") {
    val recomputed = got(IngestStreams.runLexicalIngest(
      spark, sf, "t_lexst_r", cut0 = 200, cut1 = 350))
    val plain = got(IngestStreams.runLexicalIngestStats(
      spark, sf, "t_lexst_u", cut0 = 200, cut1 = 350))
    val resumed = got(IngestStreams.runLexicalIngestStats(
      spark, sf, "t_lexst_k", cut0 = 200, cut1 = 350,
      killAfterDays = Set(1, 2)))
    assert(plain === recomputed) // the q386 staleness tension, resolved
    assert(resumed === plain)
    assert(plain.nonEmpty)
    // replay-vs-legitimate disambiguation on a hand-built delta log
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = Curate.tokenPostings(docs.where(col("doc_id") < 100),
      col("doc_id"), col("text"))
    val d5 = IngestStreams.statsDelta(p, 5L).localCheckpoint()
    def totals(log: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val (dfT, nd) = IngestStreams.readStats(log)
      (dfT.agg(sum("df")).as[Long].head, nd.as[Long].head)
    }
    val single = totals(d5)
    // a crashed-and-replayed append re-writes the SAME day: collapses
    assert(totals(d5.unionByName(d5)) === single)
    // identical delta content arriving as a NEW day is legitimate
    // corpus growth and must count twice — (term, df) rows alone are
    // ambiguous; the day tag is what disambiguates
    assert(totals(d5.unionByName(IngestStreams.statsDelta(p, 6L)))
      === ((single._1 * 2, single._2 * 2)))
  }

  test("q374 auto-fold: the size-triggered fold FIRES mid-stream on a " +
      "4-day chain (base marker advances past the bootstrap) and the " +
      "census equals the never-folding run — fold → merge → fold " +
      "composes to the same resolved state") {
    val cuts = Seq(150L, 250L, 350L, 450L)
    val folded = got(IngestStreams.runClusterPatchLogMulti(
      spark, sf, "t_af_on", cuts, foldFactor = 0.05))
    val unfolded = got(IngestStreams.runClusterPatchLogMulti(
      spark, sf, "t_af_off", cuts, foldFactor = Double.PositiveInfinity))
    assert(folded === unfolded)
    assert(folded.nonEmpty)
    // the fold must actually have run mid-stream: a fold re-commits the
    // base with the patch's then-committed batch id as its marker
    assert(DurableState.committedBatch(
      "target/ingest_state_t_af_on_base") > -1L,
      "size trigger never fired — the auto-fold pin is vacuous")
    assert(DurableState.committedBatch(
      "target/ingest_state_t_af_off_base") === -1L,
      "the ∞-factor baseline must never fold")
    // and the fold is a real compaction: the on-run's patch is smaller
    // than the off-run's accumulated one at end of stream
    val pOn = DurableState.load(spark,
      "target/ingest_state_t_af_on_patch").count()
    val pOff = DurableState.load(spark,
      "target/ingest_state_t_af_off_patch").count()
    assert(pOn < pOff,
      "folding must leave a smaller live patch than never folding")
  }

  test("multi-day micro-batch (order-INDEPENDENT loop): with " +
      "maxFilesPerTrigger unset, both spooled days arrive in ONE " +
      "micro-batch — the cluster census must equal the per-day run " +
      "(CC over the union of discovered edges is batching-insensitive)") {
    val docs = Tables.t(spark, sf, "documents")
    val corpus = docs.where(col("doc_id") < 200)
    val days = Seq(
      docs.where(col("doc_id") >= 200 && col("doc_id") < 350),
      docs.where(col("doc_id") >= 350))
    def census(statePath: String) = DurableState.load(spark, statePath)
      .groupBy("comp").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .orderBy("comp").collect().toSeq.map(_.toSeq)
    val perDay = census(IngestStreams.clusterLoop(spark, corpus, days,
      "t_mfb_perday"))
    val oneBatch = census(IngestStreams.clusterLoop(spark, corpus, days,
      "t_mfb_onebatch", maxFilesPerTrigger = None))
    assert(oneBatch === perDay)
    assert(perDay.nonEmpty)
  }

  test("one-day-per-trigger contract (order-DEPENDENT loop): a " +
      "micro-batch carrying two spooled days must be REFUSED — the " +
      "sequential inheritance semantics would be coarsened silently") {
    val docs = Tables.t(spark, sf, "documents")
    val ex = intercept[Exception] {
      IngestStreams.splitLoop(spark, docs.where(col("doc_id") < 200),
        Seq(docs.where(col("doc_id") >= 200 && col("doc_id") < 350),
          docs.where(col("doc_id") >= 350)),
        "t_odc", salt = "odc", maxFilesPerTrigger = None)
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: chain(e.getCause))
    assert(chain(ex).exists(m =>
      m != null && m.contains("one spooled day per micro-batch")),
      s"expected the contract assertion, got: ${chain(ex).mkString(" | ")}")
  }

  test("CDC resume: the commit marker must NOT gate this temp-checkpoint " +
      "query — batch ids restart at 0 per invocation, so a stale high " +
      "marker would silently skip every batch of a resumed run") {
    val statePath = "target/t_cdc_resume_state"
    graft.streaming.DurableState.destroy(statePath)
    // pre-seeded stale state (the documented resume semantics) PLUS a
    // marker claiming batch 99 already committed — the incarnation that
    // wrote it is gone, and the new run's ids restart at 0
    val oneUser = Tables.t(spark, sf, "events")
      .agg(org.apache.spark.sql.functions.min("user_id"))
      .collect()(0).getLong(0)
    Seq((oneUser, -1L, java.sql.Timestamp.valueOf("1990-01-01 00:00:00"),
        -99.0))
      .toDF("k", "event_id", "ts", "value")
      .write.mode("overwrite").parquet(statePath)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(statePath, "_graft_commit"),
      "99".getBytes("UTF-8"))
    val got2 = EventStreams.runCdcApply(spark, sf, statePath)
      .where(org.apache.spark.sql.functions.col("k") === oneUser)
      .select("event_id").collect()
    assert(got2.length === 1)
    assert(got2(0).getLong(0) !== -1L,
      "the resumed run must merge the streamed events over the stale " +
        "seed — a marker gate would have skipped every batch")
  }

  test("q372 streaming ANN ingest: kill-and-resume equals uninterrupted, " +
      "and a replayed (duplicate) index append leaves the served top-k " +
      "unchanged — dedupCandidates tolerance, proven against the hazard") {
    val eTbl = Tables.t(spark, sf, "embeddings")
    val uninterrupted = got(IngestStreams.runAnnIngest(
      spark, sf, "t_ann_u", cut0 = 200, cut1 = 350))
    val resumed = got(IngestStreams.runAnnIngest(
      spark, sf, "t_ann_k", cut0 = 200, cut1 = 350,
      killAfterDays = Set(1, 2)))
    assert(resumed === uninterrupted)
    assert(uninterrupted.nonEmpty)
    // simulate the crashed replay: day-2's rows append a second time
    // (serving codebook = the day-0 slice the loop itself trains on)
    val cents = Similarity.kmeansCentroids(
      eTbl.where(col("vec_id") < 200), col("embedding"),
      col("vec_id"), c = 16, iters = 2)
    VStage.append(
      Similarity.ivfIndexFrame(eTbl.where(col("vec_id") >= 350),
        col("embedding"), col("vec_id"), cents),
      "t_ann_u_idx")
    def serve(dedup: Boolean) = Similarity.ivfKnnJoinIndex(
        VStage.load(spark, "t_ann_u_idx", refresh = true),
        eTbl.filter(col("label") === 1), col("embedding"), col("vec_id"),
        k = 3, centroids = cents, nProbe = 4, dedupCandidates = dedup)
      .select(col("qid"), col("rank"), col("id"),
        round(col("cos_sim"), 4).as("cos_sim"))
      .orderBy("qid", "rank").collect().toSeq.map(_.toSeq)
    assert(serve(dedup = true) === uninterrupted,
      "duplicate index rows must not change the served top-k")
    assert(serve(dedup = false) !== uninterrupted,
      "without the candidate collapse the duplicates must skew ranks — " +
        "otherwise this pin isn't exercising the hazard")
  }

  test("batchIngestEdges replay under MODULAR cuts (batch ids undercut " +
      "corpus ids): after a surviving append, the raw index probe lets " +
      "the batch's own rows win the cross-edge representative " +
      "min(corpus_id) — self-exclusion restores the pre-batch edges") {
    val docs = Tables.t(spark, sf, "documents")
    // modular cuts: the batch's ids interleave BELOW most corpus ids,
    // the SoakSpec drive shape the threshold-cut queries mask
    val corpus = docs.where(col("doc_id") % 10 < 8)
    val batch = docs.where(col("doc_id") % 10 === 8)
    Staging.stageBucketed(
      Dedup.lshIndexFrame(corpus, col("text"), col("doc_id")),
      "t_replay_mod_idx", "lsh_key", 4)
    def edges(excludeSelf: Boolean): Seq[(Long, Long)] = {
      val idx0 = Staging.load(spark, "t_replay_mod_idx")
      val idx = if (excludeSelf)
        Dedup.indexWithoutIds(idx0, batch.select(col("doc_id").as("id")))
      else idx0
      Dedup.batchIngestEdges(batch, idx, col("text"), col("doc_id"))
        .collect().toSeq.map(r => (r.getLong(0), r.getLong(1))).sorted
    }
    val firstDelivery = edges(excludeSelf = true)
    assert(firstDelivery === edges(excludeSelf = false),
      "first delivery: the exclusion must be a semantic no-op")
    // the crashed attempt's append reached the index; the batch replays
    Staging.appendBucketed(
      Dedup.lshIndexFrame(batch, col("text"), col("doc_id")),
      "t_replay_mod_idx")
    spark.catalog.refreshTable("t_replay_mod_idx")
    assert(edges(excludeSelf = true) === firstDelivery,
      "replay with self-exclusion must reproduce the pre-batch edges")
    assert(edges(excludeSelf = false) !== firstDelivery,
      "without exclusion the batch's own low ids must displace corpus " +
        "representatives — otherwise this pin isn't exercising the hazard")
  }

  test("indexWithoutIds: a replayed batch whose index append survived " +
      "the crash still computes the original survivor set (and WITHOUT " +
      "the exclusion it would wrongly dedup against itself)") {
    val docs = Tables.t(spark, sf, "documents")
    val corpus = docs.where(col("doc_id") < 200)
    val batch = docs.where(col("doc_id") >= 200 && col("doc_id") < 350)
    Staging.stageBucketed(
      Dedup.lshIndexFrame(corpus, col("text"), col("doc_id")),
      "t_replay_idx", "lsh_key", 4)
    def survivors(): Seq[Long] = Dedup.minhashAgainstIndex(batch,
        Dedup.indexWithoutIds(Staging.load(spark, "t_replay_idx"),
          batch.select(col("doc_id").as("id"))),
        col("text"), col("doc_id"))
      .select("doc_id").orderBy("doc_id").collect().toSeq.map(_.getLong(0))
    val firstDelivery = survivors()
    assert(firstDelivery.nonEmpty)
    // simulate the crashed attempt: its append reached the index, the
    // streaming checkpoint didn't commit, the batch is re-delivered
    Staging.appendBucketed(
      Dedup.lshIndexFrame(
        batch.where(col("doc_id").isin(firstDelivery.map(Long.box): _*)),
        col("text"), col("doc_id")),
      "t_replay_idx")
    assert(survivors() === firstDelivery,
      "replay with self-exclusion must reproduce the original survivors")
    val naive = Dedup.minhashAgainstIndex(batch,
        Staging.load(spark, "t_replay_idx"), col("text"), col("doc_id"))
      .count()
    assert(naive < firstDelivery.size,
      "without exclusion the replay must self-collide — otherwise this " +
        "pin isn't exercising the hazard")
  }
}
