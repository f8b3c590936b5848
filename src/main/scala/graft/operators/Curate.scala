package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Corpus-statistics curation operators: TF-IDF term scoring and
  * vocabulary-derived document features. These need corpus-level
  * aggregates (document frequency), so they are DataFrame operators, not
  * pure Column trees — but each keeps the scale shape narrow: the term
  * statistics table is vocabulary-sized (≪ corpus), broadcast back onto
  * the token stream.
  */
object Curate {
  /** Per-document top-k TF-IDF terms — the classic keyword/salience scorer
    * (and the standard features for cheap quality classifiers over
    * pretraining corpora). tf = in-doc term count, idf = ln(N/df).
    *
    * Scale shape: ONE shuffle of (doc, term) pairs for tf; df is a
    * vocabulary-sized aggregate over the tf table, broadcast back (never a
    * second corpus shuffle); N is a 1-row broadcast; the final top-k is a
    * per-doc window on the tf table's existing (doc-keyed) distribution.
    * The tfidf value is rounded to 4 dp BEFORE ranking so both engines
    * rank identical values (term asc tie-break makes the order total). */
  def tfidfTopTerms(df: DataFrame, id: Column, text: Column, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val tok = df.select(id.as("doc_id"), explode(split(text, " ")).as("term"))
    // materialize tf once: three consumers (the scored rows, the df
    // aggregate's broadcast build, and nothing else) would otherwise each
    // replay the corpus explode+shuffle — a broadcast build side never
    // reuses a shuffle exchange, so without this the corpus is aggregated
    // TWICE (the dominant cost at scale)
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = df.select(count(lit(1)).as("__n"))
    // dfreq is vocabulary-sized (unbounded over open text): no hint —
    // AQE broadcasts it while it fits, shuffle-joins on term past that
    val scored = tf
      .join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("__n").cast("double") / col("df")), 4))
    val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        col("tfidf"))
  }

  /** Vocabulary pruning with OOV replacement — the fixed-vocab
    * preprocessing step: every token whose corpus document frequency is
    * below `minDf` becomes `unk`, documents are reassembled in original
    * token order, and the per-doc OOV rate is reported.
    *
    * Scale shape: the vocabulary table (term → df) is one corpus-token
    * shuffle keyed by term and is vocabulary-sized afterwards — broadcast
    * back onto the token stream (in production it's an offline artifact
    * like the ANN codebook); reassembly is one shuffle keyed by doc. The
    * token stream is re-derived per consumer (a narrow explode) rather
    * than materialized — cheaper than checkpointing corpus-scale tokens. */
  def vocabPrune(df: DataFrame, id: Column, text: Column, minDf: Long,
                 unk: String = "<unk>"): DataFrame = {
    require(minDf >= 1, "minDf must be positive")
    val tok = df.select(id.as("doc_id"),
      posexplode(split(text, " ")).as(Seq("pos", "term")))
    val vocab = tok.groupBy("term").agg(count_distinct(col("doc_id")).as("df"))
    // vocabulary-sized build: hint-free (AQE decides; see tfidfTopTerms)
    tok.join(vocab, "term")
      .select(col("doc_id"), col("pos"),
        when(col("df") >= minDf, col("term")).otherwise(lit(unk)).as("tok2"),
        when(col("df") >= minDf, 0L).otherwise(1L).as("oov"))
      .groupBy("doc_id")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok2")))),
          x => x.getField("tok2")), " ").as("pruned"),
        Seal.ratio4c(sum("oov"), count(lit(1))).as("oov_rate"))
  }

  /** Per-document top-k BM25 terms (Robertson/Okapi, the Lucene-form
    * positive idf): the standard relevance/salience scorer — TF-IDF's
    * production sibling with tf saturation (k1) and doc-length
    * normalization (b).
    *   idf   = ln(1 + (N - df + 0.5)/(df + 0.5))
    *   score = idf · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))
    *
    * Same scale shape as [[tfidfTopTerms]]: ONE corpus shuffle for tf
    * (materialized once — three consumers), per-doc length derived from the
    * tf table (second agg over tf, doc-keyed), vocabulary-sized df table
    * and the 1-row (N, avgdl) broadcast back. dl and avgdl come from exact
    * integer sums, so both engines divide identical values; the score is
    * rounded to 4 dp BEFORE ranking (term asc tie-break → total order). */
  def bm25TopTerms(df: DataFrame, id: Column, text: Column, k: Int,
                   k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, "k must be positive")
    // dl (token count) rides the tokenization as a narrow column and joins
    // the tf group key (functionally dependent on doc_id — zero extra
    // cardinality), so no second doc-keyed shuffle is ever needed for it
    val tok = df.select(id.as("doc_id"), split(text, " ").as("__t"))
      .select(col("doc_id"), size(col("__t")).cast("long").as("dl"),
        explode(col("__t")).as("term"))
    val tf = tok.groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // N and avgdl from exact integer sums on a second NARROW source scan
    // (cheap) — both engines then divide identical values
    val stats = df.agg(count(lit(1)).as("__n"),
      (sum(size(split(text, " "))).cast("double") / count(lit(1))).as("__avgdl"))
    val idf = log(lit(1.0) +
      (col("__n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val denom = col("tf") + lit(k1) *
      (lit(1.0 - b) + lit(b) * col("dl") / col("__avgdl"))
    // dfreq vocabulary-sized: hint-free (AQE decides; see tfidfTopTerms)
    val scored = tf
      .join(dfreq, "term")
      .crossJoin(broadcast(stats))
      .withColumn("bm25", round(idf * col("tf") * lit(k1 + 1.0) / denom, 4))
    val w = Window.partitionBy("doc_id").orderBy(desc("bm25"), col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        col("dl"), col("bm25"))
  }

  /** BM25 query scoring — the SEARCH half of [[bm25TopTerms]]: rank the
    * corpus against a literal bag of query terms and return the top-k
    * (doc, matched-term count, score) rows.
    *
    * Scale: corpus tokens filter against the literal query-term set
    * BEFORE any exchange, so the posting shuffle carries only matching
    * rows (independent of corpus vocabulary); dl rides the tokenization
    * as a narrow column (the [[bm25TopTerms]] device); df/N/avgdl come
    * back as a terms-sized + 1-row broadcast; the final top-k is a
    * TakeOrderedAndProject (k rows per partition before the driver
    * merge), never a global sort.
    *
    * Determinism: per-(doc, term) scores are quantized to 1e-4
    * fixed-point longs BEFORE the per-doc sum (few-term double sums
    * would otherwise add in partition order), and the k-boundary is
    * total-ordered by (score desc, doc_id). */
  def bm25Search(df: DataFrame, id: Column, text: Column,
                 queryTerms: Seq[String], k: Int,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    require(k >= 1, "k must be positive")
    val tok = df.select(id.as("doc_id"), split(text, " ").as("__t"))
      .select(col("doc_id"), size(col("__t")).cast("long").as("dl"),
        explode(col("__t")).as("term"))
      .where(col("term").isin(queryTerms: _*))
    val tf = tok.groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = df.agg(count(lit(1)).as("__n"),
      (sum(size(split(text, " "))).cast("double") / count(lit(1)))
        .as("__avgdl"))
    val idf = log(lit(1.0) +
      (col("__n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val denom = col("tf") + lit(k1) *
      (lit(1.0 - b) + lit(b) * col("dl") / col("__avgdl"))
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        round(idf * col("tf") * lit(k1 + 1.0) / denom * lit(1e4), 0)
          .cast("long").as("t"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        round(sum("t").cast("double") / lit(1e4), 4).as("score"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(k)
  }

  /** Per-group diversity cap (the Common-Crawl "domain cap" curation step):
    * keep the top `n` rows of each group under a deterministic total order
    * (`order` must break all ties — end it with a unique id), emitting each
    * kept row's in-group rank as `rk`.
    *
    * Skew shape: a single `row_number` window would sort every hot group on
    * ONE task — at 100 TB a head domain is billions of rows. Two-phase
    * instead: phase 1 partitions by (group, salt) with salt = hash(id) mod
    * `salts`, keeping ≤ n per salt bucket — any row in the true top-n has
    * < n predecessors globally, hence < n in its bucket, so all true
    * winners survive. Phase 2 re-ranks the ≤ n·salts survivors per group;
    * for surviving rows every global predecessor also survived, so the
    * recomputed rank EQUALS the single-window rank and rows beyond the true
    * top-n rank > n — output is exactly the one-window answer, but no task
    * ever sorts more than a bucket (scale `salts` ∝ head-domain size). */
  /** Block-bounded TF-IDF cosine near-dup pairs: document similarity
    * on sparse tf·idf vectors — the lexical-weighted middle ground
    * between raw-set Jaccard (q27) and embedding cosine (q28): rare
    * shared terms count, boilerplate terms don't.
    *
    * Weights w = tf·ln(N/df) quantize to 1e-3 fixed-point LONGS per
    * (doc, term) — both engines then run EXACT integer dot products
    * and norms (1e-3 keeps Σw² under 2⁶³ at realistic doc sizes), so
    * the cosine is one double division of identical integers.
    *
    * The postings table is localCheckpointed ONCE (it feeds norms and
    * both sides of the pair join — without the pin the whole
    * tokenize→tf→df→weight chain re-runs per consumer), with two
    * load-bearing details:
    *  - exact-zero weights drop first (df = N boilerplate terms have
    *    w = 0: they move neither dot nor norm but their postings are
    *    the largest, so they alone dominate the (block, term)
    *    self-join fan-out);
    *  - the checkpoint REPARTITIONS by doc id to the session's
    *    shuffle parallelism. AQE's partition coalescing shrinks the
    *    small aggregated postings table to ONE partition, and a
    *    localCheckpoint freezes that layout — every downstream pair
    *    join and partial aggregation then runs on a single task (the
    *    measured cost was 5.2 s single-task vs 0.6 s at 32; the
    *    partial agg also collapses a pair's shared-term rows map-side
    *    only when id_a's postings are co-located, which keying the
    *    repartition by id guarantees). */
  def tfidfCosinePairs(df: DataFrame, id: Column, text: Column,
                       block: Column, minCos: Double = 0.6): DataFrame = {
    val tok = df.select(id.as("id"), block.as("blk"),
        explode(split(text, " ")).as("term"))
      .where(col("id").isNotNull && col("blk").isNotNull)
      .groupBy("id", "blk", "term").agg(count(lit(1)).as("tf"))
    val dfT = tok.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = df.select(id.as("id")).where(col("id").isNotNull)
      .agg(countDistinct("id").as("nd"))
    val para = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val w = tok.join(dfT, "term").crossJoin(broadcast(nDocs))
      .select(col("id"), col("blk"), col("term"),
        round(col("tf").cast("double") *
          log(col("nd").cast("double") / col("df")) * lit(1e3), 0)
          .cast("long").as("w3"))
      .where(col("w3") =!= 0)
      .repartition(para, col("id"))
      .localCheckpoint()
    val norms = w.groupBy("id")
      .agg(sum(col("w3") * col("w3")).as("nrm"))
    val dots = w.as("a")
      .join(w.as("b"),
        col("a.blk") === col("b.blk") && col("a.term") === col("b.term"))
      .where(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(sum(col("a.w3") * col("b.w3")).as("dot"))
    dots
      .join(norms.select(col("id").as("id_a"), col("nrm").as("na")), "id_a")
      .join(norms.select(col("id").as("id_b"), col("nrm").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("dot").cast("double") /
          nullif(sqrt(col("na").cast("double") * col("nb")), lit(0.0)))
          .as("cos"))
      .where(col("cos") >= minCos)
  }

  /** DIRECTED tf-idf retrieval: per query doc, every OTHER doc ranked
    * by cosine over the same integer tf-idf weights [[tfidfCosinePairs]]
    * uses (identical 1e-3 fixed-point chain, corpus-wide df — one
    * global vocabulary, no blocking: retrieval is corpus-global), top
    * `kLex` kept per query. The lexical leg of hybrid retrieval (q378).
    *
    * Scale shape differs from the all-pairs op: the query panel is
    * SMALL by construction (a retrieval batch, not the corpus), so its
    * postings broadcast and the corpus postings stream through ONE
    * term-keyed join — no corpus self-join, no corpus shuffle beyond
    * the tf aggregation; the (qid, id) partial dots combine map-side.
    * Exact-zero weights drop first (the df = N boilerplate postings
    * dominate term fan-out and move nothing, the q266 lesson); the
    * weights checkpoint once, repartitioned by doc id, for their three
    * consumers (norms, panel slice, corpus side — the same AQE
    * one-partition-coalesce trap [[tfidfCosinePairs]] documents). */
  def tfidfQueryTopK(df: DataFrame, id: Column, text: Column,
                     isQuery: Column, kLex: Int): DataFrame = {
    // isQuery may reference any source column, so it resolves in the
    // same select that still sees them (before the postings rename)
    val tok = df.select(id.as("id"), isQuery.as("isq"),
        explode(split(text, " ")).as("term"))
      .where(col("id").isNotNull)
      .groupBy("id", "isq", "term").agg(count(lit(1)).as("tf"))
    tfidfRank(tok, tok, kLex)
  }

  /** Inverted-index POSTINGS for a text column: one `(id, term, tf)`
    * row per (document, distinct term) — the staging unit of the
    * lexical index ([[graft.Staging.stageBucketed]] keyed by `term`,
    * the q353/q357 trade applied to retrieval's third leg): the
    * corpus-wide tokenize-and-count runs ONCE per corpus build, appends
    * are O(batch) new posting rows ([[graft.Staging.appendBucketed]] —
    * tf is per-document, so append ≡ rebuild exactly), and every
    * serving batch starts from the bucketed postings scan instead of
    * re-exploding the full text column. isQuery is re-derivable from
    * `id` at serve time, so the staged table needs no query flag. */
  def tokenPostings(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("id"), explode(split(text, " ")).as("term"))
      .where(col("id").isNotNull)
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))

  /** [[tfidfQueryTopK]] served FROM STAGED POSTINGS: no tokenization at
    * serve time — df/N recompute from the (bucketed) postings with one
    * term-local aggregation (satisfied by the bucket distribution, zero
    * corpus Exchange), weights join term-locally, and only the norms
    * aggregation shuffles by doc id. `statsPostings` defaults to the
    * serving postings (FRESH idf — exact, equals the inline op under
    * the same oracle); passing an older snapshot serves with FROZEN
    * idf (the production cadence when stats rebuild only at
    * compaction), where terms unseen by the snapshot carry no weight
    * (unknown vocabulary) — the lexical analog of IVF codebook drift,
    * priced by q386. */
  def tfidfTopKFromPostings(postings: DataFrame, isQuery: Column,
                            kLex: Int,
                            statsPostings: Option[DataFrame] = None)
      : DataFrame = {
    val tok = postings.select(col("id"), col("term"), col("tf"))
      .withColumn("isq", isQuery)
    val stats = statsPostings.getOrElse(tok)
    tfidfRank(tok, stats, kLex)
  }

  /** [[tfidfTopKFromPostings]] with EXPLICIT stats frames — the serving
    * entry for MAINTAINED statistics (q389): `dfT(term, df)` and
    * `nDocs` (one row, column `nd`) arrive precomputed instead of being
    * derived from a postings scan. df and N are ADDITIVE over
    * day-disjoint ingest (a doc arrives exactly once, so per-day
    * distinct-doc term counts sum to the corpus df), which makes
    * incremental maintenance EXACT — unlike the frozen-idf trade q386
    * prices, maintained stats serve identically to recomputed ones. */
  def tfidfTopKWithStats(postings: DataFrame, isQuery: Column, kLex: Int,
                         dfT: DataFrame, nDocs: DataFrame): DataFrame = {
    val tok = postings.select(col("id"), col("term"), col("tf"))
      .withColumn("isq", isQuery)
    tfidfRankStats(tok, dfT, nDocs, kLex)
  }

  /** Shared ranking body of [[tfidfQueryTopK]] /
    * [[tfidfTopKFromPostings]]: `tok(id, isq, term, tf)` scored against
    * df/N derived from `stats(id, term, …)`. One code path keeps the
    * staged and inline forms oracle-identical by construction. */
  private def tfidfRank(tok: DataFrame, stats: DataFrame,
                        kLex: Int): DataFrame =
    tfidfRankStats(tok,
      stats.groupBy("term").agg(count(lit(1)).as("df")),
      stats.agg(countDistinct("id").as("nd")), kLex)

  private def tfidfRankStats(tok: DataFrame, dfT: DataFrame,
                             nDocs: DataFrame, kLex: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val para = tok.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val w = tok.join(dfT, "term").crossJoin(broadcast(nDocs))
      .select(col("id"), col("isq"), col("term"),
        round(col("tf").cast("double") *
          log(col("nd").cast("double") / col("df")) * lit(1e3), 0)
          .cast("long").as("w3"))
      .where(col("w3") =!= 0)
      .repartition(para, col("id"))
      .localCheckpoint()
    val norms = w.groupBy("id")
      .agg(sum(col("w3") * col("w3")).as("nrm"))
    val qw = w.where(col("isq"))
      .select(col("id").as("qid"), col("term"), col("w3").as("qw3"))
    val dots = w.as("c")
      .join(broadcast(qw), col("c.term") === qw("term") &&
        col("c.id") =!= col("qid"))
      .groupBy(col("qid"), col("c.id").as("id"))
      .agg(sum(col("c.w3") * col("qw3")).as("dot"))
    val wnd = Window.partitionBy("qid").orderBy(desc("cos"), col("id"))
    dots
      .join(norms.select(col("id").as("qid"), col("nrm").as("nq")), "qid")
      .join(norms.select(col("id"), col("nrm").as("nc")), "id")
      .select(col("qid"), col("id"),
        (col("dot").cast("double") /
          nullif(sqrt(col("nq").cast("double") * col("nc")), lit(0.0)))
          .as("cos"))
      .withColumn("rank", row_number().over(wnd))
      .where(col("rank") <= kLex)
      .select(col("qid"), col("id"), col("rank"))
  }

  /** Banded scale twin of [[tfidfCosinePairs]] (the q60/q61/q305/q326
    * convention — SAME oracle, the driver's gate pins bit-identical
    * output): Bayardo-style prefix-filtered candidates instead of the
    * every-same-block-(term)-pair self-join, exact integer-dot verify.
    *
    * LOSSLESS prefix rule, L2 form: per doc, order terms by the GLOBAL
    * (df desc, term desc) total order and drop the most-common head
    * while its cumulative squared weight stays under t²·‖a‖². For a
    * pair with cos ≥ t, take the RAREST shared term w (last in the
    * global order): if w fell in either side's dropped head then EVERY
    * shared term did (the head is a prefix of the order), so by
    * Cauchy-Schwarz dot ≤ ‖a_head‖·‖b‖ < t·‖a‖·‖b‖ — contradiction.
    * So w survives in BOTH kept suffixes and the prefix ⋈ prefix
    * self-join finds every qualifying pair (any consistent global
    * order works; df desc makes the kept suffixes rare-term-heavy,
    * which is what prunes). Cosine is scale-invariant, so there is no
    * length filter analog — the prefix bound is the whole device.
    *
    * Mechanics are the q305 shape: terms 64-bit-hashed up front
    * (weights/df agree with the string form modulo ~1e-10/pair
    * collision odds), per-doc norm ‖a‖² rides in the postings
    * checkpoint via a window over its own id-partitioning, candidate
    * pairs and the candidate-reduced postings-array table are each
    * checkpointed once for their two consumers (repartitioned by the
    * downstream key against the 1-partition coalesce trap), and the
    * verify is the codegen two-pointer [[SparseDotLong]] merge — the
    * SAME exact integers as the naive join, so the final cosine is the
    * identical double division. The vocabulary-sized df table is
    * broadcast. */
  def tfidfCosinePairsBanded(df: DataFrame, id: Column, text: Column,
                             block: Column, minCos: Double = 0.6): DataFrame = {
    val para = df.sparkSession.sessionState.conf.numShufflePartitions
    val tok = df.select(id.as("id"), block.as("blk"),
        explode(split(text, " ")).as("term0"))
      .where(col("id").isNotNull && col("blk").isNotNull)
      .groupBy("id", "blk", "term0").agg(count(lit(1)).as("tf"))
      .select(col("id"), col("blk"), xxhash64(col("term0")).as("term"),
        col("tf"))
    val nDocs = df.select(id.as("id")).where(col("id").isNotNull)
      .agg(countDistinct("id").as("nd"))
    val dfT = tok.groupBy("term").agg(count(lit(1)).as("df"))
    // exact-zero weights (df = N boilerplate) drop BEFORE the prefix:
    // they move neither dot nor norm but own the largest postings
    val w = tok.join(broadcast(dfT), "term").crossJoin(broadcast(nDocs))
      .select(col("id"), col("blk"), col("term"), col("df"),
        round(col("tf").cast("double") *
          log(col("nd").cast("double") / col("df")) * lit(1e3), 0)
          .cast("long").as("w3"))
      .where(col("w3") =!= 0)
      .repartition(para, col("id"))
      .withColumn("nrm", sum(col("w3") * col("w3")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")))
      .localCheckpoint()
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df").desc, col("term").desc)
    // kept suffix: running Σw² (head-inclusive) ≥ t²·‖a‖² — the dropped
    // head's total squared mass is then < t²·‖a‖² (1−1e-9 keeps the
    // double compare erring toward KEEPING a term)
    val prefix = w
      .withColumn("cum", sum(col("w3") * col("w3"))
        .over(byDoc.rowsBetween(Long.MinValue, 0)))
      .where(col("cum").cast("double") >=
        lit(minCos * minCos * (1 - 1e-9)) * col("nrm").cast("double"))
      .select("id", "blk", "term")
    val cand = prefix.select(col("blk"), col("term"), col("id").as("ia"))
      .join(prefix.select(col("blk"), col("term"), col("id").as("ib")),
        Seq("blk", "term"))
      .where(col("ia") < col("ib"))
      .select(col("ia").as("id_a"), col("ib").as("id_b"))
      .distinct()
      .repartition(para, col("id_a"))
      .localCheckpoint()
    val candIds = cand.select(col("id_a").as("id"))
      .union(cand.select(col("id_b").as("id"))).distinct()
    val cdocs = w.groupBy("id")
      .agg(array_sort(collect_list(struct(col("term"), col("w3"))))
        .as("ps"), first("nrm").as("nrm"))
      .join(candIds, Seq("id"), "left_semi")
      .select(col("id"), expr("transform(ps, p -> p.term)").as("ks"),
        expr("transform(ps, p -> p.w3)").as("vs"), col("nrm"))
      .repartition(para, col("id"))
      .localCheckpoint()
    cand
      .join(cdocs.select(col("id").as("id_a"), col("ks").as("ka"),
        col("vs").as("va"), col("nrm").as("na")), Seq("id_a"))
      .join(cdocs.select(col("id").as("id_b"), col("ks").as("kb"),
        col("vs").as("vb"), col("nrm").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (org.apache.spark.sql.graft.SparseExprs.sparseDotLong(
          col("ka"), col("va"), col("kb"), col("vb")).cast("double") /
          nullif(sqrt(col("na").cast("double") * col("nb")), lit(0.0)))
          .as("cos"))
      .where(col("cos") >= minCos)
  }

  /** One-row corpus scorecard — the dashboard header a curation run
    * publishes: document/source/language census, exact-duplicate rate
    * (1 − distinct content hashes / docs), mean tokens, mean TTR, and
    * the Shannon entropy of the language mix. Every constituent is an
    * exact count or a 1e-6-quantized ratio aggregated once; the
    * handful of 1-row results assemble by broadcast. */
  def corpusScorecard(df: DataFrame, id: Column, text: Column,
                      lang: Column, source: Column): DataFrame = {
    val toks = split(col("tx"), " ")
    val d = df.select(id.as("doc_id"), text.as("tx"), lang.as("lg"),
        source.as("src"))
      .where(col("doc_id").isNotNull && col("tx").isNotNull &&
        col("lg").isNotNull && col("src").isNotNull)
    val base = d.select(col("lg"), col("src"), md5(col("tx").cast("binary"))
        .as("h"), size(toks).cast("long").as("nt"),
        size(array_distinct(toks)).cast("long").as("nd"))
      .where(col("nt") > 0)
    val main = base.agg(count(lit(1)).as("n_docs"),
      countDistinct("src").as("n_sources"),
      countDistinct("lg").as("n_langs"),
      countDistinct("h").as("n_distinct"),
      sum("nt").as("st"),
      sum(round(col("nd").cast("double") / col("nt") * lit(1e6), 0)
        .cast("long")).as("sttr"))
    val langH = base.groupBy("lg").agg(count(lit(1)).as("c"))
      .crossJoin(broadcast(base.agg(count(lit(1)).as("nn"))))
      .select(round(col("c").cast("double") / col("nn") *
        log(col("c").cast("double") / col("nn")) * lit(1e6), 0)
        .cast("long").as("t"))
      .agg(coalesce(sum("t"), lit(0L)).as("h6"))
    main.crossJoin(broadcast(langH))
      .withColumn("ndn", nullif(col("n_docs"), lit(0L)))
      .withColumn("dupnum", col("n_docs") - col("n_distinct"))
      .withColumn("ttrden", nullif(col("n_docs"), lit(0L)) * lit(1000000L))
      .withColumn("nh6", -col("h6"))
      .select(col("n_docs"), col("n_sources"), col("n_langs"),
        // 1 − distinct/docs = (docs − distinct)/docs, an exact ratio
        Seal.ratio4("dupnum", "ndn").as("exact_dup_rate"),
        Seal.ratio4("st", "ndn").as("mean_tokens"),
        Seal.ratio4("sttr", "ttrden").as("mean_ttr"),
        Seal.pow4("nh6", 6).as("lang_shannon_h"))
  }

  /** Crawl-order quality decay: structural text metrics (token count,
    * type-token ratio) averaged per doc_id band — "does the later
    * crawl get worse?", the degradation curve that decides where to
    * truncate an ingest. Bands are ntile over the unique doc_id order
    * (deterministic); token means are exact integer sums, TTR means
    * quantize each per-doc ratio to 1e-6 fixed-point before the band
    * sum. */
  def crawlDecay(df: DataFrame, id: Column, text: Column,
                 bands: Int = 10): DataFrame = {
    val toks = split(text, " ")
    val base = df.select(id.as("doc_id"), size(toks).cast("long").as("nt"),
        size(array_distinct(toks)).cast("long").as("nd"))
      .where(col("doc_id").isNotNull && col("nt") > 0)
    // crawl-order ntile via the distributed [[Ranked]] prefix device —
    // never a single-partition window over the corpus
    Ranked.withRowNumber(base, Seq(col("doc_id")), "__rn")
      .crossJoin(broadcast(base.agg(count(lit(1)).as("__n"))))
      .withColumn("band", Ranked.ntileOf(col("__rn"), col("__n"), bands))
      .select(col("band"), col("nt"),
        round(col("nd").cast("double") / col("nt") * lit(1e6), 0)
          .cast("long").as("ttr6"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("st"),
        sum("ttr6").as("sttr"))
      .withColumn("ttrden", col("n_docs") * lit(1000000L))
      .select(col("band"), col("n_docs"),
        Seal.ratio4("st", "n_docs").as("mean_tokens"),
        Seal.ratio4("sttr", "ttrden").as("mean_ttr"))
      .orderBy("band")
  }

  /** Curation filter-funnel report: per source group, how many
    * documents each cheap structural rule would reject — length band
    * (token count outside [10, 1000]), type-token ratio below 0.3
    * (repetition), mean token length outside [2, 12] (garbage /
    * concatenation) — plus the surviving count and keep rate. Rules
    * attribute INDEPENDENTLY (a doc can fail several), which is what
    * makes the report actionable: it says which rule to tune, not just
    * how many die.
    *
    * One pass, one grouped aggregation; every ratio is a single double
    * division of exact integer lengths (identical across engines), so
    * the threshold comparisons cannot flip. */
  def filterFunnel(df: DataFrame, group: Column, text: Column): DataFrame = {
    val toks = split(text, " ")
    val d = df.select(group.as("g"), text.as("tx"),
        size(toks).as("nt"), size(array_distinct(toks)).as("nd"),
        length(text).as("nc"))
      .where(col("g").isNotNull && col("tx").isNotNull)
      .select(col("g"),
        (col("nt") < 10 || col("nt") > 1000).as("f_len"),
        (col("nd").cast("double") / col("nt") < 0.3).as("f_ttr"),
        (((col("nc") - (col("nt") - 1)).cast("double") / col("nt")) < 2 ||
          ((col("nc") - (col("nt") - 1)).cast("double") / col("nt")) > 12)
          .as("f_toklen"))
    d.groupBy("g")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("f_len"), 1L).otherwise(0L)).as("n_fail_len"),
        sum(when(col("f_ttr"), 1L).otherwise(0L)).as("n_fail_ttr"),
        sum(when(col("f_toklen"), 1L).otherwise(0L)).as("n_fail_toklen"),
        sum(when(!col("f_len") && !col("f_ttr") && !col("f_toklen"), 1L)
          .otherwise(0L)).as("n_kept"))
      .select(col("g").as("source"), col("n_docs"), col("n_fail_len"),
        col("n_fail_ttr"), col("n_fail_toklen"), col("n_kept"),
        Seal.ratio4("n_kept", "n_docs").as("keep_rate"))
      .orderBy("source")
  }

  /** Corpus n-gram diversity census per source — the templated-/
    * synthetic-data detector the per-DOC repetition metrics (q87's
    * dup-n-gram fraction, Gopher's repetition shares) can't see: a
    * source whose documents each look fine but all share the same
    * phrasing collapses its CORPUS-level distinct-gram ratio and hapax
    * (count-1 gram) share long before any per-doc filter fires. One row
    * per (source × n): total grams, distinct grams, distinct/total, and
    * hapax share of the distinct vocabulary.
    *
    * Determinism: grams are xxhash64 of the space-joined token window
    * (the q174 injectivity convention — the oracle counts the window
    * STRINGS; distinct/singleton counts agree because the hash is
    * injective at fixture scale). Absent (source, n) cells (every doc
    * shorter than n) surface as explicit zero rows with NULL ratios.
    *
    * Scale shape: one explode to Σ_n (tokens − n + 1) gram rows — ~|ns|×
    * corpus tokens — one (source, n, gram)-keyed count (map-side
    * combinable), one (source, n) rollup, then a source×n spine join
    * over the bounded source table. No windows, no broadcast. */
  def ngramDiversity(df: DataFrame, text: Column, source: Column,
                     ns: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), "ns must be positive")
    val d = df.select(source.as("source"), split(text, " ").as("tk"))
      .where(col("source").isNotNull)
    val grams = d.select(col("source"), explode(array(ns.map { n =>
        struct(lit(n).as("n"),
          when(size(col("tk")) >= n,
            transform(sequence(lit(1), size(col("tk")) - (n - 1)),
              p => xxhash64(concat_ws(" ", slice(col("tk"), p, lit(n))))))
            .otherwise(array().cast("array<bigint>")).as("gs"))
      }: _*)).as("u"))
      .select(col("source"), col("u.n").as("n"), explode(col("u.gs")).as("g"))
    val counts = grams.groupBy("source", "n", "g")
      .agg(count(lit(1)).as("c"))
    val agg = counts.groupBy("source", "n")
      .agg(sum("c").as("total_grams"),
        count(lit(1)).as("distinct_grams"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("hapax_grams"))
    val spine = d.select("source").distinct()
      .select(col("source"), explode(array(ns.map(n => lit(n)): _*)).as("n"))
    spine.join(agg, Seq("source", "n"), "left")
      .select(col("source"), col("n"),
        coalesce(col("total_grams"), lit(0L)).as("total_grams"),
        coalesce(col("distinct_grams"), lit(0L)).as("distinct_grams"),
        when(coalesce(col("total_grams"), lit(0L)) > 0,
          Seal.ratio4("distinct_grams", "total_grams")).as("distinct_ratio"),
        coalesce(col("hapax_grams"), lit(0L)).as("hapax_grams"),
        when(coalesce(col("distinct_grams"), lit(0L)) > 0,
          Seal.ratio4("hapax_grams", "distinct_grams")).as("hapax_share"))
      .orderBy("source", "n")
  }

  def capPerGroup(df: DataFrame, group: Column, order: Seq[Column], id: Column,
                  n: Int, salts: Int = 8): DataFrame = {
    require(n >= 1 && salts >= 1, "n and salts must be positive")
    val w1 = Window.partitionBy(group, pmod(xxhash64(id), lit(salts.toLong)))
      .orderBy(order: _*)
    val survivors = df.withColumn("__r1", row_number().over(w1))
      .where(col("__r1") <= n)
      .drop("__r1")
    val w2 = Window.partitionBy(group).orderBy(order: _*)
    survivors.withColumn("rk", row_number().over(w2).cast("long"))
      .where(col("rk") <= n)
  }
}
