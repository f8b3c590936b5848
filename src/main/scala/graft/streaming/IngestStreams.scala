package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{CkptScope, Dedup, Staging, Tables, VStage}

/** The ingestion trilogy (q353 staged index, q354 append loop, q355
  * incremental clusters) run as an actual STREAMING job — the shape a
  * 100 TB daily-crawl pipeline deploys: a file-source stream delivers
  * each arriving batch as its own micro-batch, and `foreachBatch`
  * dedups the batch against the staged LSH index (zero corpus-side
  * exchange — the q353 property) then APPENDS the survivors'
  * signatures to the index (new bucket files only, never a rebuild),
  * so batch N+1 dedups against corpus ∪ all prior survivors. Per
  * trigger the cost is O(batch) — the stream never rescans the
  * corpus. Results spill to parquet executor-side (the q346
  * convention: a memory sink would collect data-sized output to the
  * driver).
  *
  * The five LSH loops (dedup q358/q370/q377/q379, clusters q364/q368,
  * split assignment q365/q369) are one skeleton, [[lshLoop]], which
  * owns the replay and ordering contract. Every loop here survives a
  * driver restart and a micro-batch retry:
  *
  *  - Cross-batch state (q364's running labels, q365's split
  *    assignment) lives in a [[DurableState]] parquet dir maintained
  *    by the q327 crash-safe three-step rename swap, NOT in a
  *    driver-held var: each micro-batch reads the state fresh from
  *    disk and swaps the successor in, so a restarted driver resumes
  *    from the last committed state, keyed to the streaming
  *    checkpoint's batch numbering (kill-and-resume ≡ uninterrupted
  *    is pinned in the unit suite for both the order-independent and
  *    order-dependent loops).
  *  - Micro-batch RETRIES are exactly-once: stateful loops gate on
  *    the [[DurableState]] commit marker (`batchId ≤ committed` →
  *    skip; a batch whose commit landed also already appended); the
  *    dedup loop needs no marker — its output writes idempotently to a
  *    per-batch directory.
  *  - Index appends are NOT rolled back on retry, so every LSH loop
  *    probes the index through [[Dedup.indexWithoutIds]]: a replay
  *    reads exactly the pre-batch index state even when the crashed
  *    attempt's append survived. The exclusion is NOT optional for the
  *    stateful loops: duplicate signature rows are inert for collision
  *    EXISTENCE (dedup), but a replayed batch's own rows in the index
  *    can win the cross-edge representative min(corpus_id) whenever
  *    batch ids undercut corpus ids (modular-cut drives), silently
  *    dropping the corpus-connecting edge (pinned). For the ANN loop
  *    (q372) duplicates are NOT inert for top-k serving, so serving
  *    collapses duplicate candidates (`dedupCandidates`) and the
  *    recluster compaction ([[graft.Similarity.ivfRecluster]])
  *    physically drops them (both pinned).
  *  - Per micro-batch the order is fixed: the step's result
  *    MATERIALIZES (an eager checkpoint) before the index append, so
  *    it read the index as of the batch's start; the commit (state
  *    swap or per-batch output) runs after the append.
  *
  * Every index is a [[VStage]] table bucketed on its probe key and sized
  * to its data ([[graft.Staging.sizedBuckets]]); appends keep its count.
  *
  * Per-batch checkpoint blocks are freed via a [[CkptScope]] once the
  * batch's durable output is committed — a long-running stream holds
  * O(1) checkpoint state, not O(days). */
object IngestStreams {

  /** Spool ONE parquet file as arrival day `i` under `spool`: the file
    * stream source orders by (modification time, path), so explicit
    * mtimes make the micro-batch order deterministic. Incremental —
    * later days can be spooled after earlier ones were processed (the
    * kill-and-resume path). */
  private def spoolDay(spool: java.io.File, i: Int, d: DataFrame): Unit = {
    spool.mkdirs()
    val tmp = new java.io.File(spool, s"__tmp_$i")
    d.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file for day $i"))
    val target = new java.io.File(spool, f"day_$i%03d.parquet")
    java.nio.file.Files.move(part.toPath, target.toPath)
    target.setLastModified(1000000000000L + i * 60000L)
    Staging.deleteRecursively(tmp)
  }

  /** Spool + process the arrival days through fresh
    * `target/ingest_spool_<name>` / `target/ingest_ckpt_<name>` dirs.
    * Each stream run is a FRESH query from the same checkpoint that
    * processes every not-yet-committed file (one micro-batch each,
    * unless `maxFilesPerTrigger` is None), then terminates — so two runs
    * with a day spooled in between ARE a driver restart: nothing carries
    * over but the checkpoint and the durable state.
    * With `killAfterDays` empty it spools everything and runs ONE
    * streaming query (the production shape); otherwise it restarts the
    * stream after each NAMED day — the recovery drill the durability
    * pins compare against the uninterrupted run (every day, or chosen
    * points of SoakSpec's 10-day soak). `afterSegment(lastDay)` runs
    * between stream incarnations (the mid-run index-compaction hook —
    * compaction between segments is exactly where a production job
    * schedules it);
    * `maxFilesPerTrigger = None` lets one micro-batch carry several
    * spooled days (the q364 coarser-batching pin — the order-dependent
    * loops ASSERT one file per trigger instead, see
    * [[assertSingleFile]]). */
  private def driveDays(spark: SparkSession, name: String,
                        days: Seq[DataFrame],
                        body: (DataFrame, Long) => Unit,
                        killAfterDays: Set[Int],
                        afterSegment: Int => Unit = _ => (),
                        maxFilesPerTrigger: Option[Int] = Some(1)): Unit = {
    val spool = new java.io.File(s"target/ingest_spool_$name")
    val ckpt = new java.io.File(s"target/ingest_ckpt_$name")
    Seq(spool, ckpt).foreach(Staging.deleteRecursively)
    days.zipWithIndex.foreach { case (d, i0) =>
      val i = i0 + 1
      spoolDay(spool, i, d)
      if (killAfterDays(i) || i == days.size) {
        val src = spark.readStream.schema(days.head.schema)
        maxFilesPerTrigger.foreach(n =>
          src.option("maxFilesPerTrigger", n.toString))
        AvailableNow.run(src.parquet(spool.getPath),
          checkpoint = Some(ckpt.getPath), batch = Some(body))
        afterSegment(i)
      }
    }
  }

  /** The one-day-per-trigger CONTRACT assertion for the ORDER-DEPENDENT
    * loops (q365/q369): their oracles replay a per-DAY sequential
    * chain, so a micro-batch that carried two spooled days would apply
    * a COARSER state transition than the oracle models (day 2 would
    * merge before day 1's assignment was inherited from). The file
    * source is configured with maxFilesPerTrigger=1, but a contract
    * this load-bearing is asserted, not assumed — one distinct-count
    * over the batch-bounded frame per trigger. The order-INDEPENDENT
    * loops (q358/q364/q368 — CC over the union of all discovered
    * edges) need no such contract: the multi-day-batch pin in the unit
    * suite proves their census is unchanged under coarser batching. */
  private def assertSingleFile(batch: DataFrame): Unit = {
    // Dataset.inputFiles reads the micro-batch scan's file index on the
    // driver — no Spark job (r14, guide §1.2: the distinct-count spelling
    // scanned the whole batch once per trigger). Fall back to the scan
    // only when the plan exposes no file-source leaf. inputFiles counts
    // every file of the batch, zero-row files included (the scan counted
    // only files that contribute rows), so a day that arrives with an
    // empty part file beside it is refused too.
    val files = batch.inputFiles
    val n: Long =
      if (files.nonEmpty) files.distinct.length.toLong
      else batch.select(input_file_name()).distinct().count()
    require(n <= 1,
      s"order-dependent ingest loop requires one spooled day per " +
        s"micro-batch, got $n files — the per-day sequential semantics " +
        "would be coarsened")
  }

  /** `key` cut into the corpus (`< cuts.head`) and one arrival day per
    * cut (`[cuts(i), cuts(i+1))`, the last day unbounded). */
  private def slices(df: DataFrame, key: String, cuts: Seq[Long])
      : (DataFrame, Seq[DataFrame]) = {
    val k = col(key)
    (df.where(k < cuts.head),
      cuts.sliding(2).collect { case Seq(lo, hi) =>
        df.where(k >= lo && k < hi) }.toSeq :+ df.where(k >= cuts.last))
  }

  /** The documents table as the corpus and the two arrival days of the
    * `cut0`/`cut1` drives. */
  private def docDays(spark: SparkSession, dir: String, cut0: Long,
                      cut1: Long): (DataFrame, Seq[DataFrame]) =
    slices(Tables.t(spark, dir, "documents"), "doc_id", Seq(cut0, cut1))

  // ------------------------------------------------------ the LSH loops

  /** What [[lshLoop]] hands a loop's per-batch step: the batch on its
    * cloned session `ss`, its id, the index as of the batch's start
    * (its own ids excluded) and the batch's checkpoint scope. */
  private final case class Tick(ss: SparkSession, batch: DataFrame,
                                id: Long, index: DataFrame,
                                scope: CkptScope)

  private def signatures(docs: DataFrame): DataFrame =
    Dedup.lshIndexFrame(docs, col("text"), col("doc_id"))

  /** The one LSH ingest loop. Stages `corpus`'s signatures as the index
    * `name + "_idx"`, hands `bootstrap` the day-0 labels (CC over the
    * star edges of the index just staged — not a second corpus
    * tokenize, the q350 one-scan lesson), then drives the days. Per
    * micro-batch:
    *  1. it works on the batch's CLONED session: the append below
    *     invalidates that session's relation cache, so the next
    *     micro-batch re-lists the index and sees the new bucket files —
    *     loading through the outer session would read a stale file
    *     index and silently skip prior appends;
    *  2. `ordered` loops assert one spooled day per trigger;
    *  3. with a `marker` (a [[DurableState]] path) the state is
    *     recovered and a batch at or below its committed id skips;
    *  4. `step` gets the index probe ([[Dedup.indexWithoutIds]]) and
    *     returns the docs to index plus its commit; everything it
    *     derived from the probe has materialized by then;
    *  5. those docs' signatures append to the index, THEN the commit
    *     runs, then the batch's checkpoint scope is freed. */
  private def lshLoop(spark: SparkSession, corpus: DataFrame,
      days: Seq[DataFrame], name: String, marker: Option[String],
      ordered: Boolean, bootstrap: Option[DataFrame => Unit],
      killAfterDays: Set[Int], afterSegment: Int => Unit,
      maxFilesPerTrigger: Option[Int])
      (step: Tick => (DataFrame, () => Unit)): Unit = {
    val idx = name + "_idx"
    VStage.init(signatures(corpus), idx, "lsh_key")
    bootstrap.foreach { commit =>
      val scope0 = CkptScope()
      try commit(Dedup.connectedComponents(
        Dedup.starEdgesFromIndex(VStage.load(spark, idx)), scope = scope0))
      finally scope0.freeAll()
    }
    val body = (batch: DataFrame, batchId: Long) => {
      val ss = batch.sparkSession
      if (ordered) assertSingleFile(batch)
      marker.foreach(DurableState.recover)
      if (marker.forall(batchId > DurableState.committedBatch(_))) {
        val scope = CkptScope()
        try {
          val (toIndex, commit) = step(Tick(ss, batch, batchId,
            Dedup.indexWithoutIds(VStage.load(ss, idx),
              batch.select(col("doc_id").as("id"))), scope))
          VStage.append(signatures(toIndex), idx)
          commit()
        } finally scope.freeAll()
      }
      ()
    }
    driveDays(spark, name, days, body, killAfterDays, afterSegment,
      maxFilesPerTrigger)
  }

  /** The dedup-ingest loop behind q358/q370/q377/q379: stage the PREPPED
    * docs `< cut0` as the corpus index, spool docs `[cut0, cut1)` and
    * `[cut1, ∞)` as two "daily" arrival files, then per micro-batch
    * prep the batch, drop its near-dups against the index, append the
    * survivors' signatures, and write the survivors to a per-batch
    * output directory — overwritten on replay, so no marker is needed.
    * `compactAfterDay` runs the LSH index compaction between stream
    * segments: one generation-swap re-stage (dedup rows, one file per
    * bucket) — content-preserving, so the survivor semantics are
    * unchanged (q377 oracle-gates exactly that under live ingest). */
  private def ingestDedupLoop(spark: SparkSession, dir: String,
      name: String, cut0: Long, cut1: Long, killAfterDays: Set[Int],
      prep: DataFrame => DataFrame,
      compactAfterDay: Option[Int] = None): DataFrame = {
    val (corpus, days) = docDays(spark, dir, cut0, cut1)
    val outDir = new java.io.File(s"target/ingest_out_$name")
    Staging.deleteRecursively(outDir)
    lshLoop(spark, prep(corpus), days, name, marker = None,
      ordered = false, bootstrap = None,
      killAfterDays = killAfterDays ++ compactAfterDay.toSet,
      afterSegment = day =>
        if (compactAfterDay.contains(day))
          VStage.compact(spark, name + "_idx", "lsh_key",
            _.dropDuplicates("lsh_key", "corpus_id")),
      maxFilesPerTrigger = Some(1)) { t =>
      val surv = t.scope.ckpt(Dedup.minhashAgainstIndex(prep(t.batch),
        t.index, col("text"), col("doc_id")))
      (surv, () => surv.select(col("doc_id"), col("source"))
        // the arrival-day tag IS the micro-batch ordinal (one spooled
        // day per trigger; ids continue across restarts via the
        // checkpoint, so kill-and-resume tags identically)
        .withColumn("ingest_day", lit((t.id + 1).toInt))
        .write.mode("overwrite")
        .parquet(new java.io.File(outDir, s"ingest_batch=${t.id}").getPath))
    }
    // partition discovery re-adds ingest_batch; the select drops it
    spark.read.parquet(outDir.getPath)
      .select("ingest_day", "doc_id", "source")
      .orderBy("ingest_day", "doc_id")
  }

  /** The streaming ingest-dedup loop (q358): each day's survivors
    * tagged by ingest day — exactly the q354 inline two-step
    * semantics, which the oracle replays. */
  def runIngestDedup(spark: SparkSession, dir: String, name: String,
                     cut0: Long = 300, cut1: Long = 450,
                     killAfterDays: Set[Int] = Set.empty): DataFrame =
    ingestDedupLoop(spark, dir, name, cut0, cut1, killAfterDays,
      identity)

  /** q377: [[runIngestDedup]] with the LSH index COMPACTION run
    * mid-stream after day 1 — the VStage generation swap under live
    * dedup ingest. The compaction is content-preserving (distinct
    * signature rows, one file per bucket), so day 2's survivor set —
    * and therefore the whole output — is EXACTLY q358's: the shared
    * oracle proves the compaction is semantically invisible to the
    * loop it maintains, while physically re-bounding the bucket file
    * count the appends fragment (the LSM trade's both halves under one
    * stream). */
  def runIngestDedupCompact(spark: SparkSession, dir: String, name: String,
                            cut0: Long = 300, cut1: Long = 450,
                            killAfterDays: Set[Int] = Set.empty): DataFrame =
    ingestDedupLoop(spark, dir, name, cut0, cut1, killAfterDays,
      identity, compactAfterDay = Some(1))

  /** The FULL training-prep front under the stream (q370): q358's
    * loop with `prep` = the q49/q351 gates + within-batch exact dedup
    * (min-id per text; exact dups AGAINST the corpus need no separate
    * pass — identical text collides in every LSH band, so the near-dup
    * probe subsumes them). The corpus index holds only GATED docs (a
    * real pipeline indexes what it would keep); the oracle replays the
    * gated two-day sequential chain. */
  def runIngestPrep(spark: SparkSession, dir: String, name: String,
                    cut0: Long = 300, cut1: Long = 450,
                    killAfterDays: Set[Int] = Set.empty): DataFrame =
    ingestDedupLoop(spark, dir, name, cut0, cut1, killAfterDays,
      df => Dedup.exact(gate(df), col("text"), col("doc_id")))

  /** The q49/q351 language + quality gate. */
  private def gate(docs: DataFrame): DataFrame =
    docs.where(graft.TextAnalysis.langId(col("text")) === lit("en") &&
      round(graft.TextAnalysis.qualityScore(col("text")), 4) >= 0.5)

  /** q379: [[runIngestPrep]] with DECONTAMINATION in the gate — the
    * missing production leg of the streaming prep front: every arriving
    * day is screened against a FIXED benchmark n-gram set
    * ([[graft.Decontaminate.decontaminate]], 5-gram hashes, the q63
    * semantics) between the quality gates and the dedup probe, so
    * benchmark-contaminated docs never reach the corpus index OR the
    * training output. The benchmark is external and known up front (no
    * time-travel: eval sets exist before training data arrives), here
    * the doc_id % 25 fixture slice of the FULL table — benchmark text
    * is never itself gated. Per batch the decon cost is one
    * batch-sized shingle pass joined against the benchmark gram set
    * (at scale: stage the benchmark grams once, or the q90 Bloom
    * variant — the gram table is benchmark-sized, a broadcast). The
    * oracle replays the gated + decontaminated two-day sequential
    * chain. */
  def runIngestPrepDecon(spark: SparkSession, dir: String, name: String,
                         cut0: Long = 300, cut1: Long = 450,
                         killAfterDays: Set[Int] = Set.empty): DataFrame = {
    // the benchmark gram set builds ONCE, before the stream starts — a
    // benchmark is immutable during ingest, so re-deriving its distinct
    // 5-gram hashes per micro-batch (the pre-r13c shape) paid an
    // O(benchmark) scan per trigger for identical results; pinned as an
    // RDD (localCheckpoint) and re-wrapped on each batch's cloned
    // session (an RDD-backed frame has no relation cache to go stale —
    // the q358 hazard is table reads, not checkpointed plans)
    val bg = graft.Decontaminate.benchGramSet(
      Tables.t(spark, dir, "documents").where(col("doc_id") % 25 === 0),
      col("text"), n = 5).localCheckpoint()
    ingestDedupLoop(spark, dir, name, cut0, cut1, killAfterDays,
      df => {
        val ss = df.sparkSession
        Dedup.exact(
          graft.Decontaminate.decontaminateAgainst(gate(df),
            col("text"), col("doc_id"),
            ss.createDataFrame(bg.rdd, bg.schema), n = 5),
          col("text"), col("doc_id"))
      })
  }

  /** STREAMING LEXICAL INDEX ingest (q388) — the postings family's
    * streaming leg (staged q385 → this), completing the streaming
    * symmetry with the LSH (q358) and IVF (q372) indexes: each arriving
    * day's documents tokenize-and-count into posting rows
    * ([[graft.Curate.tokenPostings]] — O(batch), tf is per-document)
    * and APPEND to the [[graft.VStage]] postings index; the serve after
    * the stream reads the grown index with FRESH df/N (one term-local
    * agg — staleness is a policy choice priced by q386, not a
    * correctness one). Retry tolerance is the q372 shape, not the
    * dedup loops': a replayed append leaves EXACT-DUPLICATE posting
    * rows, which are NOT inert for tf-idf (df counts rows and dots sum
    * them — a duplicated doc would double its df contributions and
    * norms), so serving collapses (id, term) duplicates FIRST with a
    * groupBy whose clustering the term-bucketed layout already
    * satisfies (term ⊆ {id, term} — zero extra Exchange, plan-pinned
    * in the unit suite). Append ≡ rebuild exactly, so the oracle is
    * q385's inline chain over the full corpus. */
  def runLexicalIngest(spark: SparkSession, dir: String, name: String,
                       cut0: Long = 300, cut1: Long = 450,
                       killAfterDays: Set[Int] = Set.empty): DataFrame = {
    val (corpus, days) = docDays(spark, dir, cut0, cut1)
    lexicalLoop(spark, corpus, days, name, maintainStats = false,
      killAfterDays)
  }

  /** [[runLexicalIngest]] / [[runLexicalIngestStats]]'s core over
    * EXPLICIT corpus/day frames (SoakSpec drives it with modular cuts,
    * the annLoop convention): stage day-0 postings, append each
    * arriving day's postings (plus, with `maintainStats`, the q389
    * day-tagged df/N delta), then serve panel top-k from the grown
    * index. The per-trigger durable write is posting rows —
    * batch-bounded by construction: tf is a pure per-document
    * function. */
  private[graft] def lexicalLoop(spark: SparkSession, corpus: DataFrame,
      days: Seq[DataFrame], name: String, maintainStats: Boolean,
      killAfterDays: Set[Int] = Set.empty,
      compactAfterDay: Option[Int] = None)
      : DataFrame = {
    val idx = name + "_idx"
    val st = name + "_stats"
    // with stats, one pinned tokenize pass feeds both tables
    def stage(docs: DataFrame, bid: Long, write: (DataFrame, String) => Unit) = {
      val p = graft.Curate.tokenPostings(docs, col("doc_id"), col("text"))
      val pinned = if (maintainStats) p.localCheckpoint() else p
      write(pinned, idx)
      if (maintainStats) write(statsDelta(pinned, bid), st)
    }
    stage(corpus, -1L, VStage.init(_, _, "term"))
    val body = (batch: DataFrame, bid: Long) =>
      stage(batch, bid, VStage.append(_, _))
    driveDays(spark, name, days, body,
      // postings compaction runs BETWEEN stream segments: collapse the
      // exact-duplicate rows replayed appends left and re-bucket one
      // file per term bucket — content ≡ collapsePostings, so serving
      // semantics are unchanged (the retrieval soak pins exactly that)
      killAfterDays = killAfterDays ++ compactAfterDay.toSet,
      afterSegment = day =>
        if (compactAfterDay.contains(day))
          VStage.compact(spark, idx, "term", collapsePostings))
    val postings = collapsePostings(VStage.load(spark, idx, refresh = true))
    (if (maintainStats) {
      val (dfT, nd) = readStats(VStage.load(spark, st, refresh = true))
      graft.Curate.tfidfTopKWithStats(postings, col("id") % 50 === 0,
        kLex = 10, dfT, nd)
    } else
      graft.Curate.tfidfTopKFromPostings(postings, col("id") % 50 === 0,
        kLex = 10)).orderBy("qid", "rank")
  }

  /** Replay-tolerant postings read: collapse the exact-duplicate
    * (id, term, tf) rows a crashed-and-replayed append leaves behind.
    * The rows are identical by construction (tf is a pure function of
    * the document), so max(tf) = tf; the grouping's clustering is
    * satisfied by the term bucketing (grouping keys ⊇ bucket key), so
    * this adds NO Exchange over the bucketed scan. */
  private[graft] def collapsePostings(postings: DataFrame): DataFrame =
    postings.groupBy("id", "term").agg(max(col("tf")).as("tf"))

  /** q389: [[runLexicalIngest]] with the df/N statistics MAINTAINED
    * INCREMENTALLY instead of recomputed from the postings at serve
    * time — the resolution of the tension q386 priced: df and N are
    * ADDITIVE over day-disjoint ingest (a doc arrives exactly once, so
    * per-day distinct-doc term counts sum to the corpus df), which
    * makes the maintained stats EXACTLY equal to recomputed ones — no
    * staleness, at a per-trigger cost of one batch-vocabulary-sized
    * delta append instead of an index-wide aggregation per serve. The
    * stats table is a patch log in the q368 sense (base + per-day
    * deltas, read = sum), with each delta tagged by its micro-batch id:
    * Structured Streaming REPLAYS a crashed batch under the SAME id, so
    * a replayed append writes exact-duplicate (day, term, df) rows that
    * the serve-side (day, term) collapse removes — the hazard is pinned
    * both ways in the unit suite (stats deltas are NOT inert without
    * the day tag: two days can legitimately contribute identical
    * (term, df) rows). Shares q385's oracle: streaming + maintained
    * stats ≡ the inline chain over the full corpus. */
  def runLexicalIngestStats(spark: SparkSession, dir: String, name: String,
                            cut0: Long = 300, cut1: Long = 450,
                            killAfterDays: Set[Int] = Set.empty): DataFrame = {
    val (corpus, days) = docDays(spark, dir, cut0, cut1)
    lexicalLoop(spark, corpus, days, name, maintainStats = true,
      killAfterDays)
  }

  /** One day's stats delta from its postings: per-term distinct-doc
    * count plus the distinct-doc total as a NULL-term sentinel row,
    * tagged with the micro-batch id (replay collapse key). */
  private[graft] def statsDelta(p: DataFrame, day: Long): DataFrame =
    p.groupBy("term").agg(count(lit(1)).as("df"))
      .select(lit(day).as("day"), col("term"), col("df"))
      .unionByName(p.agg(countDistinct("id").as("df"))
        .select(lit(day).as("day"), lit(null).cast("string").as("term"),
          col("df")))

  /** Serve-side read of the maintained stats log: collapse replayed
    * duplicate deltas on (day, term) — max(df) since replay rows are
    * exact duplicates — then fold the additive deltas with one sum.
    * Both aggregations are stats-log-sized (vocabulary × days), never
    * corpus-sized. */
  private[graft] def readStats(statsLog: DataFrame)
      : (DataFrame, DataFrame) = {
    val s = statsLog.groupBy("day", "term").agg(max(col("df")).as("df"))
    (s.where(col("term").isNotNull)
      .groupBy("term").agg(sum(col("df")).as("df")),
      s.where(col("term").isNull)
        .agg(sum(col("df")).as("nd")))
  }

  /** STREAMING ANN index ingest (q372) — the IVF family's streaming
    * leg (staged q357 → batch ingest q361 → recluster compaction q367
    * → this): each arriving day's embeddings assign to their cells
    * under the FIXED serving codebook and APPEND to the staged index
    * (new bucket files only — the q361 maintenance trade; codebook
    * drift is q367's business). Append ≡ rebuild exactly (per-row
    * assignment under fixed centroids), so the oracle is the
    * from-scratch q357 chain. Retry tolerance differs from the dedup
    * loops: a replayed append leaves EXACT-DUPLICATE index rows, which
    * are NOT inert for top-k serving (a duplicated neighbor would take
    * two ranks) — serving therefore collapses duplicate (qid, id)
    * candidates before ranking (`dedupCandidates`, candidate-set-sized,
    * never an index-side shuffle), and the recluster compaction
    * physically drops the duplicates.
    *
    * [[runAnnIngest]]'s core over EXPLICIT corpus/day frames (modular
    * cuts at 1×/10×/100× corpora: PLANS.md §r13 q370/q372 100× rows):
    * stages the day-0 IVF index
    * under a codebook trained on the day-0 slice, appends each arriving
    * day's cell assignments. Returns the serving codebook; the staged
    * index is `name + "_idx"` (a [[graft.VStage]] logical table).
    * `reclusterAfterDay`: run the crash-safe IVF recluster compaction
    * ([[graft.Similarity.ivfRecluster]]) between stream segments after
    * the named day — the codebook RETRAINS on the index's own content
    * and every later day assigns under the retrained codebook (the
    * serving layer must switch codebooks atomically with the index,
    * which is exactly what the returned centroids are). */
  private[graft] def annLoop(spark: SparkSession, corpusVecs: DataFrame,
      days: Seq[DataFrame], name: String,
      reclusterAfterDay: Option[Int] = None,
      killAfterDays: Set[Int] = Set.empty)
      : Seq[(Long, Array[Double])] = {
    // the serving codebook trains on the DAY-0 slice only — the shape
    // an actual deployment has available before the stream starts (a
    // full-table codebook would time-travel: it would see day-1/day-2
    // rows that have not arrived yet). The q372 oracle replays the
    // same sliced training; drift of this frozen codebook as days
    // accumulate is exactly what the recluster compaction (q367/q373)
    // exists to heal
    // the live serving codebook: batches assign under whatever codebook
    // is current — the initial day-0 training, then the retrained one
    // once the mid-stream recluster swaps it in with the index
    @volatile var cents = graft.Similarity.kmeansCentroids(
      corpusVecs, col("embedding"), col("vec_id"), c = 16, iters = 2)
    val idx = name + "_idx"
    VStage.init(graft.Similarity.ivfIndexFrame(corpusVecs,
      col("embedding"), col("vec_id"), cents), idx, "cell")
    val body = (batch: DataFrame, _: Long) => {
      VStage.append(graft.Similarity.ivfIndexFrame(batch, col("embedding"),
        col("vec_id"), cents), idx)
      ()
    }
    driveDays(spark, name, days, body,
      // the recluster runs BETWEEN stream segments, so its day must be
      // a segment boundary
      killAfterDays = killAfterDays ++ reclusterAfterDay.toSet,
      afterSegment = day =>
        if (reclusterAfterDay.contains(day))
          cents = graft.Similarity.ivfRecluster(spark, idx, c = 16,
            iters = 2))
    cents
  }

  def runAnnIngest(spark: SparkSession, dir: String, name: String,
                   cut0: Long = 300, cut1: Long = 400,
                   killAfterDays: Set[Int] = Set.empty): DataFrame =
    annIngest(spark, dir, name, cut0, cut1, killAfterDays,
      reclusterAfterDay = None)

  /** q376: [[runAnnIngest]] with the RECLUSTER COMPACTION run
    * mid-stream after day 1 — the full IVF lifecycle under one stream:
    * day-0 staging (day-0-slice codebook) → day-1 appends under it →
    * crash-safe generation-swap recluster (retrain on corpus ∪ day 1,
    * reassign, one file/bucket) → day-2 appends under the RETRAINED
    * codebook → serve. Because the recluster reassigns everything it
    * holds and day 2 assigns under the same retrained codebook, the
    * final index ≡ a from-scratch build with the `< cut1` codebook —
    * the oracle replays exactly that (q357's chain, training sliced at
    * cut1). Green = the compaction composes with LIVE ingest on both
    * sides of it, with the codebook switched atomically with the
    * index. */
  def runAnnIngestRecluster(spark: SparkSession, dir: String, name: String,
                            cut0: Long = 300, cut1: Long = 400,
                            killAfterDays: Set[Int] = Set.empty): DataFrame =
    annIngest(spark, dir, name, cut0, cut1, killAfterDays,
      reclusterAfterDay = Some(1))

  private def annIngest(spark: SparkSession, dir: String, name: String,
                        cut0: Long, cut1: Long, killAfterDays: Set[Int],
                        reclusterAfterDay: Option[Int]): DataFrame = {
    val e = Tables.t(spark, dir, "embeddings")
    val idx = name + "_idx"
    val (corpus, days) = slices(e, "vec_id", Seq(cut0, cut1))
    val cents = annLoop(spark, corpus, days, name,
      reclusterAfterDay = reclusterAfterDay, killAfterDays = killAfterDays)
    // the appends ran through the CLONED batch sessions; refresh = true
    // drops the outer session's cached relation so the serve re-lists
    graft.Similarity.ivfKnnJoinIndex(VStage.load(spark, idx, refresh = true),
      e.filter(col("label") === 1), col("embedding"), col("vec_id"),
      k = 3, centroids = cents, nProbe = 4, dedupCandidates = true)
      .select(col("qid"), col("rank"), col("id"),
        round(col("cos_sim"), 4).as("cos_sim"))
      .orderBy("qid", "rank")
  }

  /** A fresh eager state with `day0` committed as its bootstrap (marker
    * -1, so streaming batch 0 still applies). */
  private def eagerBootstrap(statePath: String)(day0: DataFrame): Unit = {
    DurableState.destroy(statePath)
    DurableState.commit(day0, statePath, -1L)
  }

  /** STREAMING dedup-cluster maintenance — q355's incremental CC
    * driven by the stream: each arriving day's micro-batch probes the
    * staged index for cross edges + its own star edges
    * ([[Dedup.batchIngestEdges]], one signature scan), merges them
    * into the running labels via [[Dedup.ccIncremental]] (CC over the
    * batch-sized quotient only), and appends ALL its signatures to the
    * index so later days can connect to it (unlike the dedup loop's
    * survivors-only append). Per-trigger cost is O(batch) compute plus
    * one state-sized swap write (the durability price — measured in
    * PLANS.md; the deferred-relabel twin [[clusterLoopDeferred]]
    * amortizes it). The corpus is never rescanned and the labels are
    * never recomputed. Cluster structure is ORDER-INDEPENDENT (CC over
    * the union of all discovered edges, which equals the full collision
    * graph: every colliding pair meets through the index), so the
    * oracle is simply the full-recompute cluster census — the green
    * row proves streaming-incremental ≡ batch-full end-to-end.
    *
    * Over EXPLICIT corpus/day frames — the core of
    * [[runClusterMaintenance]] (threshold cuts) and SoakSpec (modular
    * cuts, so the batch stays fixed-size while the corpus scales;
    * measured at 1×/10×/100× in PLANS.md §r12 streaming loops at 100×).
    * Returns the state path. */
  private[graft] def clusterLoop(spark: SparkSession, corpus: DataFrame,
      days: Seq[DataFrame], name: String,
      killAfterDays: Set[Int] = Set.empty,
      afterSegment: Int => Unit = _ => (),
      maxFilesPerTrigger: Option[Int] = Some(1))
      : String = {
    val statePath = s"target/ingest_state_$name"
    lshLoop(spark, corpus, days, name, marker = Some(statePath),
      ordered = false, bootstrap = Some(eagerBootstrap(statePath)),
      killAfterDays, afterSegment, maxFilesPerTrigger) { t =>
      // the edges materialize (checkpoint) inside ccIncremental
      val next = Dedup.ccIncremental(DurableState.load(t.ss, statePath),
        Dedup.batchIngestEdges(t.batch, t.index, col("text"),
          col("doc_id"), scope = t.scope), scope = t.scope)
      (t.batch, () => DurableState.commit(next, statePath, t.id))
    }
    statePath
  }

  def runClusterMaintenance(spark: SparkSession, dir: String, name: String,
                            cut0: Long = 300, cut1: Long = 450,
                            killAfterDays: Set[Int] = Set.empty): DataFrame = {
    val (corpus, days) = docDays(spark, dir, cut0, cut1)
    val statePath = clusterLoop(spark, corpus, days, name, killAfterDays)
    clusterCensus(DurableState.load(spark, statePath), cut0)
  }

  private def clusterCensus(labels: DataFrame, cut0: Long): DataFrame =
    labels.groupBy(col("comp").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("id") >= cut0, 1)).as("n_new"),
        max("id").as("max_doc_id"))
      .orderBy("cluster_id")

  // ------------------------------------------------------- patch-log state

  /** Resolved view of a patch-log cluster state: base labels ∪ the
    * COMMITTED per-batch label appends, with comps re-pointed through
    * the folded patch map ([[Dedup.applyPatch]] — one broadcast join).
    * The append window is bounded on BOTH sides (partition-pruned on
    * the `ingest_batch` directory key):
    *  - `> base fold marker` makes [[foldPatchLog]] crash-safe —
    *    appends the base already folded are ignored even if their
    *    cleanup didn't run;
    *  - `≤ patch commit marker` makes the micro-batch REPLAY window
    *    safe — a crashed attempt that wrote its label append but died
    *    before the patch commit left an UNCOMMITTED dir, and reading it
    *    back during the replay would make the batch's own docs look
    *    already-labeled (their recompute would then drop or mislabel
    *    them; the replay instead recomputes from the exact pre-batch
    *    view and overwrites the leftover dir — pinned). */
  private[graft] def patchLogLabels(spark: SparkSession, statePath: String)
      : DataFrame = {
    val base = DurableState.load(spark, statePath + "_base")
    val labs = committedAppends(spark, statePath, "_labels") match {
      case Some(app) => base.unionByName(app.select("id", "comp"))
      case None => base
    }
    Dedup.applyPatch(labs, DurableState.load(spark, statePath + "_patch"))
  }

  /** The committed append window of a patch-log state (see
    * [[patchLogLabels]] for the two-sided bound), or None when no
    * appends exist. */
  private def committedAppends(spark: SparkSession, statePath: String,
                               suffix: String): Option[DataFrame] = {
    val appDir = new java.io.File(statePath + suffix)
    if (appDir.isDirectory && appDir.listFiles().nonEmpty) {
      val folded = DurableState.committedBatch(statePath + "_base")
      val committed = DurableState.committedBatch(statePath + "_patch")
      Some(spark.read.parquet(appDir.getPath)
        .where(col("ingest_batch") > folded &&
          col("ingest_batch") <= committed))
    } else None
  }

  /** Fold-into-base compaction for a patch-log state: materialize the
    * resolved view as the new base (one swap, marker = the patch's
    * committed batch), clear the subsumed appends, reset the patch —
    * the LSM compaction leg for the state itself, re-bounding the
    * folded patch map (it grows with total moves). Resolved reads
    * before and after are identical (pinned in DurabilitySpec), and
    * every crash window is benign: appends the new base subsumes are
    * marker-filtered out of reads ([[patchLogLabels]] /
    * [[patchLogAssign]]), and a stale folded patch applied to fully-
    * resolved rows is a no-op (its keys are superseded minima, which
    * never appear as terminal comps) — steps 2 and 3 are size
    * reclamation, not correctness. */
  private def foldPatchState(spark: SparkSession, statePath: String,
                             resolved: DataFrame, appends: String): Unit = {
    val upTo = DurableState.committedBatch(statePath + "_patch")
    DurableState.commit(resolved, statePath + "_base", upTo)
    Staging.deleteRecursively(new java.io.File(statePath + appends))
    DurableState.commit(emptyPatch(spark), statePath + "_patch", upTo)
  }

  private[graft] def foldPatchLog(spark: SparkSession, statePath: String)
      : Unit =
    foldPatchState(spark, statePath, patchLogLabels(spark, statePath),
      "_labels")

  private[graft] def foldPatchAssign(spark: SparkSession, statePath: String)
      : Unit =
    foldPatchState(spark, statePath, patchLogAssign(spark, statePath),
      "_assign")

  /** Resolved view of a patch-log SPLIT-ASSIGNMENT state
    * ([[patchLogLabels]]' 3-column sibling, q369): base assignment ∪
    * COMMITTED appends (two-sided marker bound — see
    * [[patchLogLabels]]), comps re-pointed through the folded patch
    * keyed on coalesce(comp, id) — isolated day-0 docs carry a null
    * comp (their implicit label is their own id), and a patch entry on
    * that id means this batch merged them. Splits pass through
    * untouched — the split-stability contract is exactly what makes
    * the assignment patch-deferrable. */
  private[graft] def patchLogAssign(spark: SparkSession, statePath: String)
      : DataFrame = {
    val base = DurableState.load(spark, statePath + "_base")
    val rows = committedAppends(spark, statePath, "_assign") match {
      case Some(app) => base.unionByName(app.select("id", "split", "comp"))
      case None => base
    }
    val p = DurableState.load(spark, statePath + "_patch")
      .select(col("old").as("__po"), col("new").as("__pn"))
    rows.join(broadcast(p),
        coalesce(rows("comp"), rows("id")) === col("__po"), "left")
      .select(rows("id"), rows("split"),
        coalesce(col("__pn"), rows("comp")).as("comp"))
  }

  private def emptyPatch(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("old"), col("id").as("new"))

  /** A fresh patch-log state: `day0` committed as the base and an empty
    * patch, both with marker -1; no `appends` dir. */
  private def patchLogBootstrap(spark: SparkSession, statePath: String,
                                appends: String)(day0: DataFrame): Unit = {
    Seq("_base", "_patch").foreach(s => DurableState.destroy(statePath + s))
    Staging.deleteRecursively(new java.io.File(statePath + appends))
    DurableState.commit(day0, statePath + "_base", -1L)
    DurableState.commit(emptyPatch(spark), statePath + "_patch", -1L)
  }

  /** The patch-log loops' commit: the batch's `rows` append
    * idempotently to its own `ingest_batch` dir (a replay overwrites the
    * same dir), then the composed patch swaps in with the marker — the
    * commit point. Then the SIZE-TRIGGERED FOLD (r12 judge directive
    * 2): the folded patch map grows with total moves, never the corpus
    * — but "total moves" is unbounded over a long-running stream, so
    * the loop itself re-bounds it: when the patch holds more than
    * `foldFactor ×` this batch's rows, the `resolve`d view folds into
    * the base (one corpus-sized swap, the LSM compaction leg —
    * amortized, since the trigger requires the patch to have
    * accumulated a batch's worth of moves first; every fold crash
    * window is benign, see [[foldPatchState]]). `foldFactor = ∞`
    * disables it (the A/B baseline). Both counts are observed on the
    * trigger's own writes ([[DurableState.commit]] returns the swapped
    * patch's cardinality), so the check runs zero jobs (r14: separate
    * counts re-ran their plans — 3 extra jobs per trigger). */
  private def patchLogCommit(t: Tick, statePath: String, appends: String,
      rows: DataFrame, patch: DataFrame, foldFactor: Double,
      resolve: (SparkSession, String) => DataFrame): Unit = {
    val obs = org.apache.spark.sql.Observation()
    rows.observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(
        s"$statePath$appends/ingest_batch=${t.id}")
    val batchRows = obs.get("rows").asInstanceOf[Long]
    val patchPath = statePath + "_patch"
    val patchRows = DurableState.commit(
      Dedup.composePatch(DurableState.load(t.ss, patchPath), patch),
      patchPath, t.id)
    if (!foldFactor.isPosInfinity &&
        patchRows > foldFactor * math.max(batchRows, 1L))
      foldPatchState(t.ss, statePath, resolve(t.ss, statePath), appends)
  }

  /** [[clusterLoop]]'s DEFERRED-RELABEL twin (q368) — the per-trigger
    * cost shape a 100 TB deployment needs: where the eager loop swaps
    * the full labels table every trigger (O(corpus) durable I/O — the
    * price [[DurableState]] charged q364 for restart safety), this loop
    * persists only the batch-bounded pieces: the new endpoints' label
    * rows APPEND (idempotent per-batch directory) and the label PATCH
    * folds into a terminal patch map ([[Dedup.ccIncrementalPatch]] /
    * [[Dedup.composePatch]]) swapped with the commit marker. State
    * reads resolve lazily ([[patchLogLabels]]); the patch map grows
    * with total moves, never the corpus, and the size-triggered fold
    * ([[patchLogCommit]]) re-bounds it. Kill-and-resume ≡ uninterrupted
    * (pinned), and the q368 oracle replays the full recompute census.
    * Measured against the eager loop across 1×/10×/100× corpora in
    * PLANS.md §r12 streaming loops at 100×. */
  private[graft] def clusterLoopDeferred(spark: SparkSession,
      corpus: DataFrame, days: Seq[DataFrame], name: String,
      foldFactor: Double = 1.0,
      killAfterDays: Set[Int] = Set.empty,
      afterSegment: Int => Unit = _ => ()): String = {
    val statePath = s"target/ingest_state_$name"
    lshLoop(spark, corpus, days, name, marker = Some(statePath + "_patch"),
      ordered = false,
      bootstrap = Some(patchLogBootstrap(spark, statePath, "_labels")),
      killAfterDays, afterSegment, maxFilesPerTrigger = Some(1)) { t =>
      // patch + fresh labels checkpoint inside ccIncrementalPatch (via
      // ccContract)
      val (patch, freshLab) = Dedup.ccIncrementalPatch(
        patchLogLabels(t.ss, statePath),
        Dedup.batchIngestEdges(t.batch, t.index, col("text"),
          col("doc_id"), scope = t.scope), scope = t.scope)
      (t.batch, () => patchLogCommit(t, statePath, "_labels", freshLab,
        patch, foldFactor, patchLogLabels))
    }
    statePath
  }

  /** q368: [[runClusterMaintenance]]'s census served from the
    * patch-log state — streaming-incremental ≡ batch-full proven by
    * the same full-recompute oracle, with per-trigger durable I/O
    * independent of corpus size. */
  def runClusterPatchLog(spark: SparkSession, dir: String, name: String,
                         cut0: Long = 300, cut1: Long = 450,
                         killAfterDays: Set[Int] = Set.empty): DataFrame =
    runClusterPatchLogMulti(spark, dir, name, Seq(cut0, cut1),
      killAfterDays = killAfterDays)

  /** [[runClusterPatchLog]] over an ARBITRARY arrival-day chain (q374):
    * `cuts` bound the corpus (`< cuts.head`) and each day
    * (`[cuts(i), cuts(i+1))`, last day unbounded). The size-triggered
    * auto-fold runs LIVE inside the loop — with more than two days the
    * patch map crosses the fold threshold mid-stream, so the green
    * oracle row proves a mid-run fold composes with later batches
    * (fold → more merges → fold again) to the same full-recompute
    * census. Cluster structure is order-independent, so the oracle is
    * q364's census at `cuts.head`. */
  def runClusterPatchLogMulti(spark: SparkSession, dir: String,
                              name: String, cuts: Seq[Long],
                              foldFactor: Double = 1.0,
                              killAfterDays: Set[Int] = Set.empty): DataFrame = {
    require(cuts.nonEmpty, "need at least one cut")
    val (corpus, days) =
      slices(Tables.t(spark, dir, "documents"), "doc_id", cuts)
    val statePath = clusterLoopDeferred(spark, corpus, days, name,
      foldFactor = foldFactor, killAfterDays = killAfterDays)
    clusterCensus(patchLogLabels(spark, statePath), cuts.head)
  }

  /** The split fractions and the hash of a component to its split. */
  private def splitOf(salt: String)(comp: Column): Column =
    graft.Sampling.splitAssign(comp,
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt)

  /** Day-0 split assignment: each corpus doc with its day-0 component
    * (null when isolated) and the split hashed from that component (its
    * own id when isolated). */
  private def day0Splits(corpus: DataFrame, labels0: DataFrame,
                         salt: String): DataFrame =
    corpus.select(col("doc_id").cast("long").as("id"))
      .join(labels0.withColumnRenamed("id", "__lid"),
        col("id") === col("__lid"), "left")
      .select(col("id"),
        splitOf(salt)(coalesce(col("comp"), col("id"))).as("split"),
        col("comp"))

  /** The ingest END-STATE: split-stable assignment maintained under a
    * STREAM of arriving days. Day 0 assigns cluster-safely; each
    * micro-batch then merges into the cluster structure and assigns
    * splits via [[Dedup.splitStableAssign]] (old docs never move, new
    * docs inherit their merged component's min-old-member split,
    * fresh components hash), with the day's signatures appended so
    * later days connect. The assignment state is ORDER-DEPENDENT (day
    * 2's inheritance depends on day 1's merges), which is exactly why
    * it lives in [[DurableState]]: a driver restart that lost it could
    * not reconstruct the sequential history — and why the loop asserts
    * one spooled day per trigger. The final census reports, per
    * declared split: doc mass and the irreducible legacy conflicts
    * (components whose members span ≥ 2 splits — merges forced them,
    * history can't be reassigned). The oracle replays the SEQUENTIAL
    * chain — three CC stages (corpus, corpus∪day1, all) and both
    * inheritance steps — so the green row proves the day-after-day
    * state composition equals the from-scratch sequential analysis.
    *
    * Over EXPLICIT corpus/day frames (the multi-day core
    * [[runSplitStableIngest]] and SoakSpec's 10-day soak share;
    * per-trigger walls in PLANS.md §r13 10-day soak measurement).
    * Returns the state path. */
  private[graft] def splitLoop(spark: SparkSession, corpus: DataFrame,
      days: Seq[DataFrame], name: String, salt: String,
      killAfterDays: Set[Int] = Set.empty,
      afterSegment: Int => Unit = _ => (),
      maxFilesPerTrigger: Option[Int] = Some(1)): String = {
    val statePath = s"target/ingest_state_$name"
    lshLoop(spark, corpus, days, name, marker = Some(statePath),
      ordered = true,
      bootstrap = Some(l0 =>
        eagerBootstrap(statePath)(day0Splits(corpus, l0, salt))),
      killAfterDays, afterSegment, maxFilesPerTrigger) { t =>
      val next = Dedup.splitStableAssign(DurableState.load(t.ss, statePath),
        t.index, t.batch, col("text"), col("doc_id"), splitOf(salt),
        scope = t.scope)
      (t.batch, () => DurableState.commit(next, statePath, t.id))
    }
    statePath
  }

  def runSplitStableIngest(spark: SparkSession, dir: String, name: String,
                           cut0: Long = 300, cut1: Long = 450,
                           salt: String = "sss",
                           killAfterDays: Set[Int] = Set.empty): DataFrame = {
    val (corpus, days) = docDays(spark, dir, cut0, cut1)
    val statePath = splitLoop(spark, corpus, days, name, salt,
      killAfterDays)
    splitCensus(spark, DurableState.load(spark, statePath))
  }

  /** The q365/q369 final census: per declared split, doc mass and the
    * irreducible legacy conflicts (components whose members span ≥ 2
    * splits). */
  private def splitCensus(spark: SparkSession, assign: DataFrame)
      : DataFrame = {
    val fin = assign.select(col("split"),
      coalesce(col("comp"), col("id")).as("comp"))
    val nsp = fin.groupBy("comp").agg(countDistinct("split").as("__nsp"))
    val confm = fin.select("comp", "split").distinct()
      .join(nsp.where(col("__nsp") >= 2).select("comp"), Seq("comp"),
        "left_semi")
    val spine = spark.range(1)
      .select(explode(array(Seq("test", "train", "val").map(lit): _*))
        .as("split"))
    spine
      .join(fin.groupBy("split").agg(count(lit(1)).as("__nd")),
        Seq("split"), "left")
      .join(confm.groupBy("split").agg(count(lit(1)).as("__nc")),
        Seq("split"), "left")
      .select(col("split"), coalesce(col("__nd"), lit(0L)).as("n_docs"),
        coalesce(col("__nc"), lit(0L)).as("n_conflict_components"))
      .orderBy("split")
  }

  /** q369: [[runSplitStableIngest]] on the PATCH-LOG state — the
    * order-dependent loop gets the same O(batch)-per-trigger durable
    * I/O as q368: splits never move (the operator's contract), so the
    * only corpus-wide effect of a batch is the comp relabel, deferred
    * into the folded patch map; batch assignment rows append
    * idempotently per batch. Same sequential-chain oracle as q365 —
    * the green row proves the deferred composition equals the
    * from-scratch sequential analysis. [[splitLoop]]'s deferred twin
    * over EXPLICIT corpus/day frames (the multi-day core
    * [[runSplitStablePatchLog]] and SoakSpec's 10-day soak share).
    * Returns the state path. */
  private[graft] def splitLoopDeferred(spark: SparkSession,
      corpus: DataFrame, days: Seq[DataFrame], name: String, salt: String,
      foldFactor: Double = 1.0,
      killAfterDays: Set[Int] = Set.empty,
      afterSegment: Int => Unit = _ => ()): String = {
    val statePath = s"target/ingest_state_$name"
    lshLoop(spark, corpus, days, name, marker = Some(statePath + "_patch"),
      ordered = true,
      bootstrap = Some(l0 => patchLogBootstrap(spark, statePath,
        "_assign")(day0Splits(corpus, l0, salt))),
      killAfterDays, afterSegment, maxFilesPerTrigger = Some(1)) { t =>
      val (patch, newRows) = Dedup.splitStableAssignPatch(
        patchLogAssign(t.ss, statePath), t.index, t.batch, col("text"),
        col("doc_id"), splitOf(salt), scope = t.scope)
      (t.batch, () => patchLogCommit(t, statePath, "_assign", newRows,
        patch, foldFactor, patchLogAssign))
    }
    statePath
  }

  def runSplitStablePatchLog(spark: SparkSession, dir: String, name: String,
                             cut0: Long = 300, cut1: Long = 450,
                             salt: String = "sss",
                             killAfterDays: Set[Int] = Set.empty): DataFrame = {
    val (corpus, days) = docDays(spark, dir, cut0, cut1)
    val statePath = splitLoopDeferred(spark, corpus, days, name, salt,
      killAfterDays = killAfterDays)
    splitCensus(spark, patchLogAssign(spark, statePath))
  }
}
