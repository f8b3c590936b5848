package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Exact, MinHash+LSH, SimHash, and n-gram-Jaccard near-dup — each shaped so
  * the expensive comparison only happens *within* a bucket/band join, never
  * all-pairs: at 100 TB the candidate-pair count, not the hash computation,
  * is what kills a job. Signature hashing is md5-derived (available
  * identically in Spark and DuckDB) so results stay oracle-checkable.
  *
  * Shared building blocks — one definition each, called by every
  * operator that needs them:
  *  - [[ngrams]] and [[gramSet]]: a text's distinct word n-grams, and a
  *    gram set as the sorted distinct xxhash64 values the sorted-merge
  *    kernel ([[org.apache.spark.sql.graft.SortedIntersectCountLong]])
  *    reads. Long equality beats string equality in CPU and allocation,
  *    and set sizes agree with the string form modulo ~1e-10/pair
  *    collision odds; only sizes feed the measures, so the oracle needs
  *    no matching hash.
  *  - [[blockPairs]] with [[probeSide]]: the within-block exact pair
  *    join; [[jaccardAtLeast]] and [[containmentAtLeast]]: the
  *    threshold-on-the-raw-ratio, integer-sealed display tails.
  *  - [[lshTokens]]: the one LSH corpus scan — MinHash signature plus
  *    unigram gram set, checkpointed for its many readers.
  *  - [[bandExplode]], [[pinnedBands]] and [[bandPairs]]: the LSH band
  *    layout, its checkpointed form, and the band-collision self-join
  *    with the caller's extra predicate inside the join.
  *  - [[starEdges]]: per-bucket star contraction, the CC feeder.
  *  - [[splitStableMerge]]: the batch merge every split-stable operator
  *    starts with.
  */
object Dedup {
  /** Shared 60-bit token/shingle hash: md5 hex prefix -> long. Identical in
    * DuckDB as ('0x' || substr(md5(s),1,15))::BIGINT — keeps LSH signatures
    * oracle-reproducible. */
  def hash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** 28-bit variant for MinHash permutations: (a*x + b) stays far below
    * 2^63, so Spark (wrapping) and DuckDB (overflow-raising) compute the
    * identical value. */
  def hash28(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 7), 16, 10).cast("long")

  /** Exact dedup: keep the min-id row per distinct content hash.
    * Deterministic (dropDuplicates keeps an arbitrary row — useless under an
    * oracle). Two hash-aggregations + a semi join, all on the same key, so
    * AQE plans one shuffle of (hash, id) pairs — no full-row shuffle. */
  def exact(df: DataFrame, content: Column, id: Column): DataFrame = {
    val keep = df
      .groupBy(md5(content.cast("binary")).as("__h"))
      .agg(min(id).as("__keep_id"))
      .select(col("__keep_id"))
    df.join(keep, id === col("__keep_id"), "left_semi")
  }

  /** Exact passage-level dedup (C4-style span/boilerplate detection, one
    * level below document granularity): split each document into
    * non-overlapping k-token passages and report every passage that occurs
    * in more than one document. One explode + one hash-aggregation keyed by
    * the passage — the exact-dedup shuffle shape, volume linear in corpus
    * tokens/k. Trailing tokens short of a full passage are ignored (they
    * can't equal a full passage elsewhere anyway). */
  def sharedPassages(df: DataFrame, text: Column, id: Column, k: Int = 10): DataFrame = {
    val t = split(text, " ")
    val nCh = floor(size(t) / k).cast("int")
    // same guard as shingles: sequence(0, -1) would run DESCENDING
    val chunks = when(nCh >= 1,
      transform(sequence(lit(0), nCh - 1), i => concat_ws(" ", slice(t, i * k + 1, lit(k)))))
      .otherwise(array().cast("array<string>"))
    df.select(id.as("__id"), explode(chunks).as("passage"))
      .groupBy("passage")
      .agg(countDistinct(col("__id")).as("n_docs"), count(lit(1)).as("n_occ"))
      .where(col("n_docs") >= 2)
  }

  /** C4-style passage REMOVAL: drop every aligned k-token passage that
    * [[sharedPassages]] finds in >= minDocs documents, and reassemble each
    * document from its surviving chunks (trailing tokens short of a full
    * passage always survive — they can't equal a k-token passage). Docs
    * whose every chunk is removed disappear from the output (no kept rows),
    * matching the grouped-SQL twin. Same shuffle shape as exact dedup:
    * explode + one hash-agg for the shared set, an anti join keyed by the
    * passage, one reassembly agg keyed by doc. */
  def removeSharedPassages(df: DataFrame, text: Column, id: Column,
                           k: Int = 10, minDocs: Int = 2): DataFrame = {
    val t = split(text, " ")
    val nCh = floor(size(t) / k).cast("int")
    // chunk idx 0..nCh inclusive: idx nCh is the trailing partial chunk
    // ("" when size % k == 0 — filtered out below)
    val chunks = transform(sequence(lit(0), nCh), i =>
      struct(i.cast("int").as("idx"),
        concat_ws(" ", slice(t, i * k + 1, lit(k))).as("p")))
    val cc = df.select(id.as("doc_id"), explode(chunks).as("u"))
      .select(col("doc_id"), col("u.idx").as("idx"), col("u.p").as("p"))
      .where(col("p") =!= "")
    val sh = sharedPassages(df, text, id, k)
      .where(col("n_docs") >= minDocs).select(col("passage").as("p"))
    cc.join(sh, Seq("p"), "left_anti")
      .groupBy("doc_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("idx"), col("p")))),
          s => s.getField("p")), " ").as("clean_text"))
  }

  /** Word shingles of size k from a whitespace-tokenized text column. */
  def shingles(text: Column, k: Int): Column = {
    val toks = split(text, " ")
    // sliding window over start indices; [] for docs shorter than k tokens
    // (guard matters: sequence(0, n-k) runs DESCENDING when n < k)
    array_distinct(when(size(toks) >= k,
      transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
      .otherwise(array().cast("array<string>")))
  }

  /** The n-grams compared by the n-gram pair operators: distinct words
    * for n = 1, else distinct word [[shingles]]. */
  private def ngrams(text: Column, n: Int): Column =
    if (n == 1) array_distinct(split(text, " ")) else shingles(text, n)

  /** A gram set as the sorted-merge kernels read it: the distinct
    * xxhash64 values of a gram array, sorted ascending. */
  private def gramSet(grams: Column): Column =
    array_sort(array_distinct(transform(grams, g => xxhash64(g))))

  /** MinHash signature: for permutation i, h_i(x) = (a_i*x + b_i) mod p over
    * hash28 shingle values; signature element = min over shingles.
    * p = 2^31-1; x < 2^28 and a <= 2n+1 keep a*x+b well inside int64 for
    * both engines. */
  val MinhashPrime: Long = 2147483647L // 2^31 - 1
  def minhashParams(numPerm: Int): Seq[(Long, Long)] =
    (1 to numPerm).map(i => (2L * i + 1L, 7919L * i))

  /** Per-doc MinHash signature as (__id, __sig array<long>), via the
    * native single-pass expression ([[org.apache.spark.sql.graft.MinhashSig]]):
    * one narrow loop per doc — no explode, no shuffle, md5 exactly once
    * per shingle. Bit-equal to [[minhashSignaturesAgg]] (pinned in tests). */
  def minhashSignatures(df: DataFrame, text: Column, id: Column,
                        shingleSize: Int, numPerm: Int): DataFrame =
    df.select(id.as("__id"),
        org.apache.spark.sql.graft.MinhashExprs
          .signature(text, shingleSize, numPerm).as("__sig"))
      .where(col("__sig").isNotNull)

  /** Composable-pipeline spelling of [[minhashSignatures]]: explode to one
    * row per (doc, shingle), md5 once per shingle, then ONE hash-aggregate
    * with numPerm min() columns (map-side partial aggregation shrinks the
    * shuffle to numPerm longs per doc per partition). Kept as the
    * cross-implementation reference the unit suite pins the native
    * expression against. */
  def minhashSignaturesAgg(df: DataFrame, text: Column, id: Column,
                           shingleSize: Int, numPerm: Int): DataFrame = {
    val hashed = df
      .select(id.as("__id"), explode(shingles(text, shingleSize)).as("__sh"))
      .select(col("__id"), hash28(col("__sh")).as("__x"))
    val aggs = minhashParams(numPerm).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("__x") * lit(a) + lit(b), lit(MinhashPrime))).as(s"__m$i")
    }
    hashed.groupBy(col("__id")).agg(aggs.head, aggs.tail: _*)
      .select(col("__id"),
        array((0 until numPerm).map(i => col(s"__m$i")): _*).as("__sig"))
  }

  /** MinHash+LSH near-dup candidate pairs: signature is cut into `bands`
    * bands of `rowsPerBand`; documents sharing any band hash become a
    * candidate pair (the classic banding scheme). Join key = (band index,
    * band content) so comparisons stay within buckets. The self-join keeps
    * BOTH sides the identical plan (aliases applied only after the join) so
    * Spark's ReuseExchange evaluates the signature pipeline once. Returns
    * (id_a, id_b, n_shared_bands) with id_a < id_b. */
  def minhashCandidates(df: DataFrame, text: Column, id: Column,
                        shingleSize: Int = 3, numPerm: Int = 16,
                        bands: Int = 4): DataFrame = {
    require(numPerm % bands == 0, "numPerm must divide into bands")
    val banded = pinnedBands(df, text, id, shingleSize, numPerm, bands)
    banded.as("a").join(banded.as("b"),
        col("a.__band") === col("b.__band") && col("a.__bucket") === col("b.__bucket"))
      .where(col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** Connectivity-only LSH spine: one STAR per band bucket (every member
    * linked to the bucket's min id) instead of the bucket's C(k,2)
    * collision pairs. Two documents land in the same connected component
    * exactly when they would under the full [[minhashCandidates]] pair
    * set — any collision pair is bucket-co-resident, hence connected
    * through the bucket root — while the edge list stays LINEAR in the
    * banded row count (docs × bands) no matter how dup-rich the corpus
    * is. This is the [[connectedComponents]] feeder of choice: pair
    * enumeration is quadratic per bucket (the sf1 dup-rich probe fixture
    * fills the disk materializing it; PLANS §r11-star-spine), and CC
    * never consumed the pairs — only their connectivity. Star
    * contraction is the standard trick from the MapReduce-CC literature
    * (Kiveris et al. 2014's star operations contract exactly this way).
    * Per-bucket min via aggregate + equi-join back rather than a window:
    * a degenerate bucket is a skew hazard, and AQE can split a skewed
    * join partition but never a window partition. */
  def minhashStarEdges(df: DataFrame, text: Column, id: Column,
                       shingleSize: Int = 3, numPerm: Int = 16,
                       bands: Int = 4): DataFrame = {
    require(numPerm % bands == 0, "numPerm must divide into bands")
    starEdges(pinnedBands(df, text, id, shingleSize, numPerm, bands))
  }

  /** (band, bucket)-keyed star contraction of a banded frame: one
    * (bucket-min, member) edge per non-root member; singleton buckets
    * emit nothing, so the star node set equals the pair node set. */
  private def starEdges(banded: DataFrame): DataFrame = {
    val roots = banded.groupBy(col("__band"), col("__bucket"))
      .agg(min(col("__id")).as("__root"))
    banded.join(roots, Seq("__band", "__bucket"))
      .where(col("__id") =!= col("__root"))
      .select(col("__root").as("id_a"), col("__id").as("id_b"))
      .distinct()
  }

  /** The LSH token frame — one corpus scan for the LSH calibration and
    * leak-census devices: (__id, `extra`…, __sig, __g), the MinHash
    * signature (null for docs too short to shingle) and the unigram
    * [[gramSet]] the exact-Jaccard verify reads. Rows failing `keep` go
    * first; the frame is repartitioned by id (a checkpoint of a small
    * input would otherwise be one partition) and checkpointed, because
    * the band join and the verify joins all re-read it. */
  private def lshTokens(df: DataFrame, text: Column, id: Column,
                        extra: Seq[Column], keep: Option[Column],
                        shingleSize: Int, numPerm: Int): DataFrame = {
    val t = df.select((id.as("__id") +: extra) ++ Seq(
      org.apache.spark.sql.graft.MinhashExprs
        .signature(text, shingleSize, numPerm).as("__sig"),
      gramSet(ngrams(text, 1)).as("__g")): _*)
    keep.fold(t)(k => t.where(k))
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        col("__id"))
      .localCheckpoint()
  }

  /** Band-explode a signature frame: every non-`__sig` column rides
    * along; output gains (__band, __bucket) — one row per (doc, band).
    * The slice-of-signature bucket string is the LSH join key. */
  private def bandExplode(sig: DataFrame, numPerm: Int,
                          bands: Int): DataFrame = {
    val rowsPerBand = numPerm / bands
    val rest = sig.columns.filter(_ != "__sig").map(col).toSeq
    sig.select(rest :+ posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => slice(col("__sig"), b * rowsPerBand + 1, lit(rowsPerBand)))): _*)
      .select(rest :+ col("pos").as("__band") :+
        col("col").cast("string").as("__bucket"): _*)
  }

  /** [[minhashSignatures]] band-exploded and checkpointed: its callers
    * read the banded frame twice (both sides of a band self-join, or a
    * root aggregate and its join-back), and unpinned the signature
    * pipeline would run once per consumer. */
  private def pinnedBands(df: DataFrame, text: Column, id: Column,
                          shingleSize: Int, numPerm: Int,
                          bands: Int): DataFrame =
    bandExplode(minhashSignatures(df, text, id, shingleSize, numPerm),
      numPerm, bands).localCheckpoint()

  /** Distinct band-collision pairs (id_a, id_b), id_a < id_b, of a
    * banded frame: a and b share a (band, bucket) and meet `also`,
    * which reads the sides as `a.` / `b.` and is checked inside the
    * join. */
  private def bandPairs(banded: DataFrame, also: Column): DataFrame =
    banded.as("a").join(banded.as("b"),
        col("a.__band") === col("b.__band") &&
          col("a.__bucket") === col("b.__bucket") && also)
      .where(col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .distinct()

  /** Incremental near-dedup — the ingestion-time shape: drop every BATCH
    * document whose MinHash bands collide with any EXISTING-corpus
    * document. The corpus (the big side at scale) never self-joins and is
    * touched once: batch bands semi-join corpus bands keyed by
    * (band, bucket), then the flagged ids anti-join back. Batch docs too
    * short to shingle can't collide and always survive. */
  def minhashAgainst(batch: DataFrame, corpus: DataFrame, text: Column, id: Column,
                     shingleSize: Int = 3, numPerm: Int = 16,
                     bands: Int = 4): DataFrame = {
    require(numPerm % bands == 0, "numPerm must divide into bands")
    def banded(df: DataFrame): DataFrame =
      bandExplode(minhashSignatures(df, text, id, shingleSize, numPerm),
        numPerm, bands)
    val hit = banded(batch).as("b")
      .join(banded(corpus).as("c"),
        col("b.__band") === col("c.__band") && col("b.__bucket") === col("c.__bucket"),
        "left_semi")
      .select(col("__id")).distinct()
    batch.join(hit.select(col("__id").as("__hit")), id === col("__hit"), "left_anti")
  }

  /** The corpus side of [[minhashAgainst]] precomputed for STAGING: one
    * row per (doc, band) keyed by the single-column LSH join key
    * `lsh_key = band ":" bucket` (one column so `bucketBy(lsh_key)`
    * staging carries the join's hash partitioning in the catalog).
    * Written once per corpus build via [[graft.Staging.stageBucketed]];
    * every later incremental batch then joins the STAGED index with zero
    * Exchange and zero Sort on the corpus side
    * ([[minhashAgainstIndex]]) — at 100 TB the index is the
    * corpus-derived side, so this converts the per-ingest corpus
    * scan+signature+shuffle (the dominant cost of [[minhashAgainst]]
    * run daily) into a one-time staging cost. Docs too short to shingle
    * have a null signature and can never collide; their null-key rows
    * are dropped here (a null key never equi-joins, so the staged and
    * inline semantics agree). */
  def lshIndexFrame(corpus: DataFrame, text: Column, id: Column,
                    shingleSize: Int = 3, numPerm: Int = 16,
                    bands: Int = 4): DataFrame = {
    require(numPerm % bands == 0, "numPerm must divide into bands")
    bandExplode(minhashSignatures(corpus, text, id, shingleSize, numPerm),
        numPerm, bands)
      .select(col("__id").as("corpus_id"),
        concat(col("__band").cast("string"), lit(":"), col("__bucket"))
          .as("lsh_key"))
      .where(col("lsh_key").isNotNull)
  }

  /** Star edges recovered from an already-staged [[lshIndexFrame]] —
    * the q350 one-tokenize lesson applied to the streaming bootstraps:
    * an ingest loop that stages the corpus index AND seeds day-0
    * cluster labels was tokenizing the corpus twice (once for the
    * index, once inside [[minhashStarEdges]]), yet the index rows ARE
    * the banded frame — per `lsh_key`, one (bucket-min → member) edge
    * reproduces [[minhashStarEdges]]' exact edge set (pinned in the
    * unit suite). Bonus at scale: the groupBy and join both key on the
    * index's bucket column, so the bucketed scan satisfies them with
    * ZERO Exchange where the tokenize path paid a full corpus
    * shuffle. */
  def starEdgesFromIndex(index: DataFrame): DataFrame = {
    val roots = index.groupBy(col("lsh_key"))
      .agg(min(col("corpus_id")).as("__root"))
    index.join(roots, Seq("lsh_key"))
      .where(col("corpus_id") =!= col("__root"))
      .select(col("__root").as("id_a"), col("corpus_id").as("id_b"))
      .distinct()
  }

  /** Drop `ids`' own rows from a staged [[lshIndexFrame]] — the
    * replay-idempotency device for streaming ingest-dedup: a retried
    * micro-batch whose index APPEND survived a crash (sink write done,
    * checkpoint offset commit not) would otherwise collide with its own
    * signatures and dedup itself to nothing. Excluding self makes the
    * probe read exactly the pre-batch index state on first delivery AND
    * on every replay (first delivery: the filter is a semantic no-op —
    * the batch's ids aren't in the index yet). `ids` is batch-bounded
    * (the micro-batch's id column), so the anti-join broadcasts it and
    * the index side keeps its zero-Exchange bucketed-scan plan
    * (broadcast joins preserve the streamed side's partitioning). */
  def indexWithoutIds(index: DataFrame, ids: DataFrame): DataFrame =
    index.join(broadcast(ids.select(col("id").cast("long").as("__xid"))),
      index("corpus_id") === col("__xid"), "left_anti")

  /** [[minhashAgainst]] against a PRE-STAGED index ([[lshIndexFrame]]
    * bucketed on `lsh_key`): identical output (the unit suite pins
    * result equality; q353 pins the shared oracle), but the corpus-side
    * signature scan and join shuffle are gone — the bucketed scan
    * satisfies the join's hash-partitioning requirement from the
    * catalog, so only the (small) batch side shuffles, sized by the
    * index's bucket count. The ingestion-time cost model at scale:
    * O(batch) signatures + one batch-side exchange, independent of
    * corpus size. A doc hit in several bands repeats in the hit set; the
    * `left_anti` join ignores repeats, so no `distinct()` precedes it. */
  def minhashAgainstIndex(batch: DataFrame, index: DataFrame, text: Column,
                          id: Column, shingleSize: Int = 3, numPerm: Int = 16,
                          bands: Int = 4): DataFrame = {
    val hit = lshIndexFrame(batch, text, id, shingleSize, numPerm, bands)
      .join(index.select(col("lsh_key")), Seq("lsh_key"), "left_semi")
    batch.join(hit.select(col("corpus_id").as("__hit")), id === col("__hit"),
      "left_anti")
  }

  /** Per-doc 60-bit SimHash signature as (__id, __blk, __sig): bit j is set
    * iff the sum over tokens of sign(bit j of token-hash) is positive.
    * Computed by the native single-pass expression
    * ([[org.apache.spark.sql.graft.SimhashSig]]) — no explode, no shuffle;
    * bit-equal to [[simhashSignaturesAgg]] (pinned in tests). */
  def simhashSignatures(df: DataFrame, text: Column, id: Column,
                        block: Column): DataFrame =
    df.select(id.as("__id"), block.as("__blk"),
      org.apache.spark.sql.graft.SimhashExprs.signature(text).as("__sig"))

  /** Composable-pipeline spelling of [[simhashSignatures]] (explode +
    * 60-sum-column aggregate) — the cross-implementation reference the
    * unit suite pins the native expression against. */
  def simhashSignaturesAgg(df: DataFrame, text: Column, id: Column,
                           block: Column): DataFrame = {
    val toks = df
      .select(id.as("__id"), block.as("__blk"), explode(split(text, " ")).as("__t"))
      .select(col("__id"), col("__blk"), hash60(col("__t")).as("__h"))
    val votes = (0 until 60).map { j =>
      sum(when(shiftright(col("__h"), j).bitwiseAND(lit(1L)) === 1L, lit(1L))
        .otherwise(lit(-1L))).as(s"__v$j")
    }
    toks.groupBy(col("__id"), col("__blk")).agg(votes.head, votes.tail: _*)
      .select(col("__id"), col("__blk"),
        (0 until 60).map(j =>
          when(col(s"__v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_.bitwiseOR(_)).as("__sig"))
  }

  /** SimHash near-dup pairs within a blocking key (e.g. source), keeping
    * pairs with Hamming distance <= maxDist. Blocking bounds the quadratic
    * comparison; at scale, block on bit-prefix of the signature instead.
    * Identical-plan self-join -> ReuseExchange computes signatures once. */
  def simhashNearDup(df: DataFrame, text: Column, id: Column, block: Column,
                     maxDist: Int = 8): DataFrame = {
    val sigs = simhashSignatures(df, text, id, block)
    sigs.as("a").join(sigs.as("b"), col("a.__blk") === col("b.__blk"))
      .where(col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        bit_count(col("a.__sig").bitwiseXOR(col("b.__sig"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxDist)
  }

  /** Scale variant of [[simhashNearDup]] via pigeonhole banding: cut the
    * 60-bit signature into maxDist+1 segments — any pair within hamming
    * maxDist is identical in at least one segment — and equi-join on
    * (segment index, segment bits) instead of the within-block cross
    * product. Exact hamming runs on candidates only; output is identical
    * to the quadratic form (pinned in tests). Candidate volume tracks true
    * near-dups, not block-size², so this is the 100 TB path; blocks are
    * still respected (the block key joins alongside the segment). */
  def simhashNearDupBanded(df: DataFrame, text: Column, id: Column, block: Column,
                           maxDist: Int = 8): DataFrame = {
    require(maxDist >= 0 && maxDist < 60, "maxDist must be in [0, 60)")
    val nBands = maxDist + 1
    val bandBits = Array.tabulate(nBands) { b => // spread 60 bits across bands
      val lo = b * 60 / nBands; val hi = (b + 1) * 60 / nBands
      (lo, hi - lo)
    }
    val sigs = simhashSignatures(df, text, id, block).localCheckpoint()
    val banded = sigs.select(col("__id"), col("__blk"), col("__sig"),
      posexplode(array(bandBits.map { case (lo, n) =>
        shiftright(col("__sig"), lo).bitwiseAND(lit((1L << n) - 1))
      }: _*)).as(Seq("__band", "__bits")))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.__blk") === col("b.__blk") && col("a.__band") === col("b.__band") &&
          col("a.__bits") === col("b.__bits") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        col("a.__sig").as("sig_a"), col("b.__sig").as("sig_b"))
      .distinct() // a close pair can collide in several bands
    cand.select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxDist)
  }

  /** Token-set (n-gram) Jaccard similarity between two token-array columns.
    * The intersection size is bound through a one-element transform() lambda
    * so array_intersect — the expensive part — is evaluated ONCE per pair
    * even though the formula uses it twice; writing `i / (|a|+|b|-i)` with
    * two size(array_intersect) calls doubles the dominant cost (and doubles
    * again when Catalyst pushes the >= threshold into a join condition). */
  def jaccard(a: Column, b: Column): Column =
    element_at(
      transform(array(size(array_intersect(a, b)).cast("double")),
        i => i / (size(a) + size(b) - i)),
      1)

  /** The within-block exact pair join over two gram frames
    * (__id, __blk, __g): every pair a.__id < b.__id sharing a block, as
    * (id_a, id_b, n_a, n_b, __i, __ab) — both set sizes, the
    * intersection size from the sorted-merge kernel, and |a| + |b|.
    * Callers read the columns their measure needs; the optimizer prunes
    * the rest. */
  private def blockPairs(probe: DataFrame, build: DataFrame): DataFrame =
    probe.as("a").join(build.as("b"), col("a.__blk") === col("b.__blk"))
      .where(col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        size(col("a.__g")).cast("long").as("n_a"),
        size(col("b.__g")).cast("long").as("n_b"),
        org.apache.spark.sql.graft.SparseExprs
          .sortedIntersectCountLong(col("a.__g"), col("b.__g")).as("__i"),
        (size(col("a.__g")) + size(col("b.__g"))).cast("long").as("__ab"))

  /** The probe side of a [[blockPairs]] join over an unpinned scan:
    * hash-repartitioned by id, with an explicit count so AQE cannot
    * coalesce the tiny shuffle back to one task. A small doc table often
    * arrives as ONE file split, and the pair-generating broadcast join
    * would otherwise run serially — the work is in the pairs generated
    * downstream of the scan, not in the scan rows themselves. */
  private def probeSide(t: DataFrame): DataFrame =
    t.repartition(t.sparkSession.sessionState.conf.numShufflePartitions,
      col("__id"))

  /** Pairs (id_a, id_b, __i, __ab) with Jaccard __i / (__ab − __i) ≥ minJ,
    * as (id_a, id_b, jaccard). The threshold reads the raw ratio; the
    * displayed value is integer-sealed (inter/union is an exact integer
    * rational). */
  private def jaccardAtLeast(pairs: DataFrame, minJ: Double): DataFrame =
    pairs.withColumn("__u", col("__ab") - col("__i"))
      .withColumn("__raw", col("__i").cast("double") / col("__u"))
      .where(col("__raw") >= minJ)
      .select(col("id_a"), col("id_b"),
        Seal.ratio4("__i", "__u").as("jaccard"))

  /** Pairs (id_a, id_b, n_a, n_b, __i) with containment
    * __i / min(n_a, n_b) ≥ minC, as (id_a, id_b, n_a, n_b, containment);
    * threshold on the raw ratio, display integer-sealed. */
  private def containmentAtLeast(pairs: DataFrame, minC: Double): DataFrame =
    pairs.withColumn("__mn", least(col("n_a"), col("n_b")))
      .withColumn("__raw", col("__i").cast("double") / col("__mn"))
      .where(col("__raw") >= minC)
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
        Seal.ratio4("__i", "__mn").as("containment"))

  /** n-gram Jaccard near-dup pairs within a blocking key, threshold >= minJ.
    * Distinct word n-grams as the set; blocking (not all-pairs) is the
    * scale-out story, as with simhash. */
  def ngramJaccardPairs(df: DataFrame, text: Column, id: Column, block: Column,
                        n: Int = 1, minJ: Double = 0.6): DataFrame = {
    val t = df.select(id.as("__id"), block.as("__blk"),
      gramSet(ngrams(text, n)).as("__g"))
    jaccardAtLeast(blockPairs(probeSide(t), t), minJ)
  }

  /** Duplicate-cluster size histogram: group documents by exact content
    * key, then report — per cluster SIZE — how many clusters, documents,
    * and excess (would-be-dropped) documents exist, and how many chars
    * deduplication would save keeping the min-`tie` representative.
    * The capacity-planning readout run before an exact-dedup pass: the
    * histogram says whether duplication is a few huge clusters (cheap
    * to kill) or a long tail of pairs.
    *
    * Two keyed aggregations (content key → cluster stats; size →
    * histogram), both map-side combinable; chars are exact long sums
    * (saved = Σchars − chars_of_kept). */
  def clusterSizeHistogram(df: DataFrame, key: Column, chars: Column,
                           tie: Column): DataFrame = {
    val cl = df.select(key.as("k"), chars.cast("long").as("ch"),
        tie.cast("long").as("tie"))
      .where(col("k").isNotNull && col("ch").isNotNull &&
        col("tie").isNotNull)
      .groupBy("k")
      .agg(count(lit(1)).as("sz"), sum("ch").as("sumch"),
        min_by(col("ch"), col("tie")).as("keptch"))
    cl.groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum("sz").as("n_docs"),
        sum(col("sz") - 1).as("n_excess_docs"),
        sum(col("sumch") - col("keptch")).as("chars_dropped"))
      .orderBy("cluster_size")
  }

  /** Blocking-quality report for a candidate dedup blocking key: block
    * census (count, largest), the candidate-pair budget Σ b·(b−1)/2 the
    * key implies, and the reduction ratio vs all-pairs n·(n−1)/2 — the
    * go/no-go readout BEFORE running a pair join (a blocking key with
    * reduction 0.99 at sf0.01 that decays to 0.6 at sf1 is how dedup
    * jobs die; this report is the early warning). One key aggregation
    * plus a block-count-sized reduction; all counts exact longs, pair
    * math in doubles only for the final ratio (n² outgrows Long at
    * ~3e9 rows — the ratio is the readout, not the long). */
  def blockingReport(df: DataFrame, id: Column, block: Column): DataFrame = {
    val d = df.select(id.as("id"), block.as("blk"))
      .where(col("id").isNotNull && col("blk").isNotNull)
    val blocks = d.groupBy("blk").agg(count(lit(1)).as("b"))
    // Σ b·(b−1) stays an exact even long; halve with an integer shift
    // (a `/ 2` would be double division and an order-dependent sum)
    blocks.agg(sum("b").as("n_docs"), count(lit(1)).as("n_blocks"),
        max("b").as("largest_block"),
        sum(col("b") * (col("b") - 1)).as("pp2"))
      .select(col("n_docs"), col("n_blocks"), col("largest_block"),
        shiftright(col("pp2"), 1).as("n_candidate_pairs"),
        round(lit(1.0) - shiftright(col("pp2"), 1).cast("double") /
          nullif(col("n_docs").cast("double") * (col("n_docs") - 1) /
            lit(2.0), lit(0.0)), 4).as("reduction_ratio"))
  }

  /** Weighted (Ruzicka / multiset) Jaccard pairs:
    * Σ_t min(tf_A, tf_B) / Σ_t max(tf_A, tf_B) over token FREQUENCY
    * vectors — the repetition-aware dedup score set-Jaccard flattens
    * (a doc that repeats a template 10× matches its 10×-repeating twin
    * here, but not a once-only doc with the same vocabulary). EXACT
    * integer arithmetic end to end: Σmax = ΣA + ΣB − Σmin, Σmin runs
    * over shared (block, term) entries and the totals over every block
    * of an id; the threshold compares a division of identical longs.
    *
    * Shape: one sparse tf vector per (id, block) ([[wjVectors]]), one
    * block-keyed self-join of those vectors, and a codegen two-pointer
    * Σmin merge per surviving block pair
    * ([[org.apache.spark.sql.graft.SparseMinSumLong]]): the pair work is
    * one merge per same-block doc pair that passes the lossless length
    * filter, whatever the term frequencies. Terms are compared as 64-bit
    * xxhash64 keys (the q61/q305/q326 convention: Σmin agrees with the
    * string form modulo ~1e-10/pair collision odds). The vector table is
    * corpus-sized, so the join carries no broadcast hint: the planner
    * broadcasts it while it fits the auto-broadcast threshold (sf0.1's
    * 5,000 documents) and falls back to a shuffle join on the block key
    * past it, the small-corpus form; [[weightedJaccardPairsBanded]] is
    * the prefix-filtered scale twin with the same output. */
  def weightedJaccardPairs(df: DataFrame, text: Column, id: Column,
                           block: Column,
                           minW: Double = 0.6): DataFrame = {
    val v = wjVectors(df, text, id, block)
    val side = (s: String) => v.select(col("id").as(s"id_$s"), col("blk"),
      col("ks").as(s"k$s"), col("vs").as(s"v$s"), col("tt").as(s"t$s"),
      col("nb").as(s"n$s"))
    val slack = lit(minW * (1 - 1e-9))
    // length filter (lossless): wj ≥ t forces t·tb ≤ ta ≤ tb/t, since
    // Σmin ≤ min(ta, tb); 1−1e-9 slack keeps the double compare
    // conservative. An id in several blocks meets its partner once per
    // shared block, so the per-block Σmin sum per pair. A pair of
    // single-block ids meets once, so its one row already holds the full
    // Σmin and must pass the threshold (wj ≥ t ⇔ Σmin·(1+t) ≥ t·(ta+tb))
    // before the aggregate's shuffle. Catalyst pushes that filter into
    // the join condition, after the id and length predicates; spelled
    // with `smin` once, the merge runs once per block pair there and
    // again only for the pairs that pass (about 1% at sf0.1). `smin > 0`
    // must stay after the aggregate: before it, nearly every pair
    // passes and pays two merges.
    side("a").join(side("b"), Seq("blk"))
      .where(col("id_a") < col("id_b") &&
        col("ta").cast("double") >= slack * col("tb").cast("double") &&
        col("tb").cast("double") >= slack * col("ta").cast("double"))
      .select(col("id_a"), col("id_b"), col("ta"), col("tb"), col("na"),
        col("nb"),
        org.apache.spark.sql.graft.SparseExprs.sparseMinSumLong(
          col("ka"), col("va"), col("kb"), col("vb")).as("smin"))
      .where(col("na") > 1 || col("nb") > 1 ||
        col("smin").cast("double") * (1 + minW) >=
          slack * (col("ta") + col("tb")).cast("double"))
      .groupBy("id_a", "id_b", "ta", "tb").agg(sum("smin").as("smin"))
      .where(col("smin") > 0)
      .withColumn("wden", col("ta") + col("tb") - col("smin"))
      .where(col("smin").cast("double") / col("wden") >= minW)
      .select(col("id_a"), col("id_b"),
        Seal.ratio4("smin", "wden").as("wjaccard"))
  }

  /** The per-(id, block) term-frequency vectors of
    * [[weightedJaccardPairs]], checkpointed: `ks` the sorted xxhash64
    * term keys, `vs` their tf counts, `tt` the id's total tf over all
    * its blocks, `nb` its number of blocks. The DOCUMENT rows are
    * hash-partitioned by id with an explicit count before tokenizing, so
    * the (id, block, term) count, the collect and the `tt`/`nb` window
    * run in one stage, and AQE cannot coalesce the exchange to one
    * partition (which would freeze the pair join onto a single task:
    * the q266 finding). */
  private[graft] def wjVectors(df: DataFrame, text: Column, id: Column,
                               block: Column): DataFrame = {
    val para = df.sparkSession.sessionState.conf.numShufflePartitions
    val byId = org.apache.spark.sql.expressions.Window.partitionBy("id")
    df.select(id.as("id"), block.as("blk"), text.as("text"))
      .where(col("id").isNotNull && col("blk").isNotNull)
      .repartition(para, col("id"))
      .select(col("id"), col("blk"),
        explode(split(col("text"), " ")).as("term"))
      .groupBy(col("id"), col("blk"), xxhash64(col("term")).as("k"))
      .agg(count(lit(1)).as("tf"))
      .groupBy("id", "blk")
      // sort_array is the native comparator; array_sort's default one
      // is an interpreted lambda
      .agg(sort_array(collect_list(struct(col("k"), col("tf")))).as("ps"),
        sum("tf").as("bt"))
      .select(col("id"), col("blk"), col("ps.k").as("ks"),
        col("ps.tf").as("vs"),
        sum("bt").over(byId).as("tt"), count(lit(1)).over(byId).as("nb"))
      .localCheckpoint()
  }

  /** Banded scale twin of [[weightedJaccardPairs]] (the q60/q61
    * convention: bit-identical output, scale-shaped candidates).
    * [[weightedJaccardPairs]] merges every same-block doc pair that
    * passes the length filter, ~n²/2 per block of n docs; here postings
    * are keyed on xxhash64(block, term), order globally rare-first (df
    * asc, key asc) and each doc indexes only its PREFIX — the minimal
    * head such that the remaining tail mass < t/(1+t)·tt.
    * wj ≥ t forces smin ≥ t/(1+t)·(ta+tb) ≥ t/(1+t)·ta, and shared-
    * terms-only-in-a's-tail caps smin below that, so every qualifying
    * pair shares a term in each side's prefix and the full⋈prefix join
    * finds it (the Bayardo all-pairs argument, conservative 1−1e-9
    * slack on the double compare). Candidates then verify with the
    * exact full-postings min-sum over the (block, term) keys, so an id
    * spanning several blocks sums Σmin per shared block exactly as the
    * oracle does — output EQUALS [[weightedJaccardPairs]]. */
  def weightedJaccardPairsBanded(df: DataFrame, text: Column, id: Column,
                                 block: Column, minW: Double = 0.6)
      : DataFrame = {
    val para = df.sparkSession.sessionState.conf.numShufflePartitions
    // (block, term) keys are 64-bit-hashed up front (the q61/q326
    // convention: min-sums and totals agree with the string form modulo
    // ~1e-10/pair collision odds, and every downstream shuffle, join key,
    // sort order, and per-pair merge runs on fixed-width longs instead of
    // term strings; the block in the key keeps tf of the same term in two
    // blocks of one id apart in the verify merge),
    // and the per-doc total mass tt rides ALONG in the postings via a
    // window over the checkpoint's own id-partitioning (no extra
    // exchange) — threading tt kills three separate totals joins: the
    // candidate length filter and both sides of the final seal.
    val tok = df.select(id.as("id"), block.as("blk"),
        explode(split(text, " ")).as("term0"))
      .where(col("id").isNotNull && col("blk").isNotNull)
      .groupBy("id", "blk", "term0").agg(count(lit(1)).as("tf"))
      .select(col("id"), col("blk"),
        xxhash64(col("blk"), col("term0")).as("term"), col("tf"))
      .repartition(para, col("id"))
      .withColumn("tt", sum("tf").over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")))
      .localCheckpoint()
    // The document-frequency table is VOCABULARY-sized: Zipf keeps it
    // orders of magnitude under the corpus, so it is broadcast (the
    // shuffle-by-term spelling costs ~2.4 s extra at sf0.1 on the
    // postings re-exchange alone).
    val dfT = tok.groupBy("term").agg(count(lit(1)).as("df"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df").desc, col("term").desc)
    val prefix = tok.join(broadcast(dfT), "term")
      .withColumn("tail_tf", sum("tf")
        .over(byDoc.rowsBetween(Long.MinValue, 0)))
      .where(col("tail_tf").cast("double") >=
        lit(minW / (1 + minW) * (1 - 1e-9)) * col("tt").cast("double"))
      .select("id", "blk", "term", "tt")
    // SYMMETRIC prefix join (prefix ⋈ prefix, not full ⋈ prefix): order
    // the shared terms of a qualifying pair rare-first and take the
    // FIRST one, w. If w missed either side's kept head, then w and
    // every more-common shared term sit in that side's dropped tail, so
    // smin ≤ dropped-mass < t/(1+t)·tt — below what wj ≥ t requires.
    // So w lands in BOTH prefixes and the prefix self-join finds every
    // qualifying pair while emitting Σ n_prefix(term)² instead of
    // Σ n_full·n_prefix — and the self-join computes the prefix
    // exchange ONCE (reused on both sides).
    // length filter (lossless): wj ≥ t forces t·tb ≤ ta ≤ tb/t — both
    // total masses within a 1/t factor — so mismatched-length pairs
    // drop DURING candidate generation (1−1e-9 slack keeps the double
    // compare conservative); tt comes free on both join inputs.
    // The candidate PAIR table is checkpointed (repartitioned by its
    // downstream join key against the 1-partition coalesce trap): it
    // feeds the id-set semi-join AND the verify joins, and without the
    // pin the whole emission+distinct pipeline re-runs per consumer.
    val cand = prefix.select(col("blk"), col("term"), col("id").as("ia"),
        col("tt").as("tta"))
      .join(prefix.select(col("blk"), col("term"), col("id").as("ib"),
        col("tt").as("ttb")), Seq("blk", "term"))
      // symmetric join ⇒ both orientations of every pair are emitted,
      // so ia < ib halves the emission instead of least/greatest-ing it
      .where(col("ia") < col("ib") &&
        col("tta").cast("double") >=
          lit(minW * (1 - 1e-9)) * col("ttb").cast("double") &&
        col("ttb").cast("double") >=
          lit(minW * (1 - 1e-9)) * col("tta").cast("double"))
      .select(col("ia").as("id_a"), col("ib").as("id_b"))
      .distinct()
      .repartition(para, col("id_a"))
      .localCheckpoint()
    // verification runs as a codegen two-pointer merge over per-doc
    // sorted posting arrays (SparseMinSumLong) — the posting-join
    // spelling (cand ⋈ tok ⋈ tok + re-aggregation) shuffles
    // |pairs|·|doc| rows and measured 2.5 s against the merge's
    // sub-second pass. The postings-array table is CORPUS-sized, so it
    // carries no broadcast hint: it is semi-joined down to the candidate
    // id set FIRST (bounded by true near-dups after the prefix+length
    // filters) and the REDUCED table is checkpointed once for its two
    // consumers; the pair joins are left to AQE — at runtime the reduced
    // table is small enough to auto-broadcast, and at any scale where it
    // isn't, the join degrades to a shuffle instead of OOMing
    // driver/executors.
    val candIds = cand.select(col("id_a").as("id"))
      .union(cand.select(col("id_b").as("id"))).distinct()
    val cdocs = tok.groupBy("id")
      .agg(array_sort(collect_list(struct(col("term"), col("tf"))))
        .as("ps"), first("tt").as("tt"))
      .join(candIds, Seq("id"), "left_semi")
      .select(col("id"), expr("transform(ps, p -> p.term)").as("ks"),
        expr("transform(ps, p -> p.tf)").as("vs"), col("tt"))
      .repartition(para, col("id"))
      .localCheckpoint()
    cand
      .join(cdocs.select(col("id").as("id_a"), col("ks").as("ka"),
        col("vs").as("va"), col("tt").as("ta")), Seq("id_a"))
      .join(cdocs.select(col("id").as("id_b"), col("ks").as("kb"),
        col("vs").as("vb"), col("tt").as("tb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        org.apache.spark.sql.graft.SparseExprs.sparseMinSumLong(
          col("ka"), col("va"), col("kb"), col("vb")).as("smin"),
        col("ta"), col("tb"))
      .withColumn("wden", col("ta") + col("tb") - col("smin"))
      .withColumn("__raw", col("smin").cast("double") / col("wden"))
      .where(col("__raw") >= minW)
      .select(col("id_a"), col("id_b"),
        Seal.ratio4("smin", "wden").as("wjaccard"))
  }

  /** Symmetric n-gram CONTAINMENT pairs: |A∩B| / min(|A|, |B|) over
    * distinct token/shingle sets — the subset-duplicate detector
    * Jaccard misses: a short document fully embedded in a long one has
    * containment 1.0 but Jaccard ≈ |A|/|B|, which slides under any
    * Jaccard threshold as the length ratio grows. Same block-bounded
    * pair join as [[ngramJaccardPairs]] (the candidates-∝-block shape);
    * the threshold compares an exact small-integer division, identical
    * in any IEEE engine. */
  def ngramContainmentPairs(df: DataFrame, text: Column, id: Column,
                            block: Column, n: Int = 1,
                            minC: Double = 0.9): DataFrame = {
    val t = df.select(id.as("__id"), block.as("__blk"),
      gramSet(ngrams(text, n)).as("__g"))
    containmentAtLeast(blockPairs(probeSide(t), t), minC)
  }

  /** Banded scale twin of [[ngramContainmentPairs]] (the q60/q61/q305
    * convention: bit-identical output, scale-shaped candidates). The
    * naive form meets every same-block pair; here each doc's distinct
    * grams order globally rare-first (df asc, gram asc) and only the
    * PREFIX of length s − ⌈t·s⌉ + 1 is indexed: containment ≥ t forces
    * |A∩B| ≥ ⌈t·min(|A|,|B|)⌉, and if every shared gram missed the MIN
    * side's prefix the overlap would cap at ⌈t·s_min⌉ − 1 (pigeonhole)
    * — so each qualifying pair shares a prefix gram of its min side,
    * and the full⋈prefix (block, gram) equi-join with the min-side
    * size condition finds it (conservative 1−1e-9 slack on the ceil).
    * Candidates verify with the exact distinct-gram intersection —
    * output EQUALS the naive join. Unlike the Jaccard twins there is
    * NO length filter: subset-duplicates with arbitrary length ratio
    * are precisely what containment exists to catch. Requires minC > 0:
    * a pair sharing no gram is never a candidate. */
  def ngramContainmentPairsBanded(df: DataFrame, text: Column, id: Column,
                                  block: Column, n: Int = 1,
                                  minC: Double = 0.9)
      : DataFrame = {
    require(minC > 0, s"minC = $minC: the banded form is lossless only " +
      "above 0; use ngramContainmentPairs")
    val para = df.sparkSession.sessionState.conf.numShufflePartitions
    // one pin for three consumers (token stream, both verify sides),
    // repartitioned by id against the checkpoint-1-partition trap
    val t = df.select(id.as("id"), block.as("blk"), ngrams(text, n).as("g0"))
      .where(col("id").isNotNull && col("blk").isNotNull)
      .select(col("id"), col("blk"), gramSet(col("g0")).as("g"),
        size(col("g0")).cast("long").as("sz"))
      .repartition(para, col("id"))
      .localCheckpoint()
    val tok = t.select(col("id"), col("blk"), col("sz"),
      explode(col("g")).as("tm"))
    // vocabulary-sized df table, broadcast like weightedJaccardPairsBanded's
    val dfT = tok.groupBy("tm").agg(count(lit(1)).as("df"))
    // per-doc prefix as ONE hash aggregation (collect the doc's
    // (df, gram) pairs, in-memory sort, slice) instead of a sort-based
    // row_number window - the ngramJaccardPairsPrefix device (measured
    // ~3x cheaper there; docs are bounded at 10^2-10^3 grams)
    val prefix = tok.join(broadcast(dfT), "tm")
      .groupBy("blk", "id", "sz")
      .agg(collect_list(struct(col("df"), col("tm"))).as("ps"))
      .select(col("blk"), col("id").as("ib"), col("sz").as("szb"),
        explode(expr("slice(array_sort(ps), 1, CAST(sz - ceil(sz * " +
          (minC * (1 - 1e-9)) + ") + 1 AS INT))")).as("p"))
      .select(col("blk"), col("p.tm").as("tm"), col("ib"), col("szb"))
    // candidate pairs checkpointed (repartitioned by the downstream join
    // key against the 1-partition coalesce trap): they feed the id-set
    // semi-join AND the verify joins, and without the pin the whole
    // emission+distinct pipeline re-runs per consumer
    val cand = tok
      .select(col("blk"), col("tm"), col("id").as("ia"), col("sz").as("sza"))
      .join(prefix, Seq("blk", "tm"))
      .where(col("ia") =!= col("ib") && col("szb") <= col("sza"))
      .select(col("blk"), least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"))
      .distinct()
      .repartition(para, col("id_a"))
      .localCheckpoint()
    // exact verify over the candidate-reduced gram-array table — the
    // q305 device: semi-join first, no corpus-sized broadcast hint; the
    // REDUCED table is checkpointed once for its two consumers
    val candIds = cand.select(col("id_a").as("id"))
      .union(cand.select(col("id_b"))).distinct()
    val cdocs = t.join(candIds, Seq("id"), "left_semi")
      .repartition(para, col("id"))
      .localCheckpoint()
    // verify within the candidate's block (one gram set per (id, block))
    containmentAtLeast(cand
      .join(cdocs.select(col("id").as("id_a"), col("blk"), col("g").as("ga"),
        col("sz").as("n_a")), Seq("id_a", "blk"))
      .join(cdocs.select(col("id").as("id_b"), col("blk"), col("g").as("gb"),
        col("sz").as("n_b")), Seq("id_b", "blk"))
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
        org.apache.spark.sql.graft.SparseExprs
          .sortedIntersectCountLong(col("ga"), col("gb")).as("__i")), minC)
  }

  /** Prefix-filtered n-gram Jaccard (PPJoin-style): lossless scale variant
    * of [[ngramJaccardPairs]]. Tokens get a per-block total order (ascending
    * document frequency, token tie-break); any pair with J >= minJ must
    * share a token inside each side's first floor((1-minJ)*|A|)+1 tokens of
    * that order, so candidates come from an equi-join on (block, prefix
    * token) instead of the within-block cross product, and exact Jaccard
    * runs on candidates only. Output matches the quadratic form modulo
    * 64-bit hash collisions (~1e-10/pair — both forms compare token-hash
    * sets, so on any given input they agree exactly); at scale the
    * candidate count tracks true near-dups, not block-size². Requires
    * minJ > 0: a pair sharing no gram is never a candidate. */
  def ngramJaccardPairsPrefix(df: DataFrame, text: Column, id: Column, block: Column,
                              n: Int = 1, minJ: Double = 0.6): DataFrame = {
    require(minJ > 0, s"minJ = $minJ: the prefix form is lossless only " +
      "above 0; use ngramJaccardPairs")
    val t = df.select(id.as("__id"), block.as("__blk"),
      gramSet(ngrams(text, n)).as("__g"))
    // carry |g| through the explode: the prefix cutoff needs each doc's set
    // size, and size(__g) is free here — a count(*) window over
    // (__blk,__id) downstream would re-derive it with a second full pass
    // over the token table
    val tok = t.select(col("__id"), col("__blk"), size(col("__g")).as("__sz"),
      explode(col("__g")).as("__t"))
    val freq = tok.groupBy("__blk", "__t").agg(count(lit(1)).as("__df"))
    // per-doc prefix selection as ONE hash aggregation: collect the doc's
    // (df, token) pairs, sort in-memory (docs are bounded — ~10²–10³ grams),
    // slice the prefix. Beats the row_number window spelling: same shuffle
    // volume, but a hash agg + per-row array sort instead of a sort-based
    // window exchange (≈3× cheaper cold, slightly ahead warm — measured at
    // sf0.1 via tools/ProbePrefix-style comparison, identical pair sets).
    // pin the self-join input behind ONE exchange: without the explicit
    // repartition, Spark broadcasts one side of the candidate self-join and
    // the whole prefix pipeline (explode → freq join → collect agg) is
    // computed twice — the two identical shuffle subtrees below are
    // deduped by exchange reuse, so prefix materializes once
    val parallelism = df.sparkSession.sessionState.conf.numShufflePartitions
    val prefix = tok.join(freq, Seq("__blk", "__t"))
      .groupBy("__blk", "__id", "__sz")
      .agg(slice(array_sort(collect_list(struct(col("__df"), col("__t")))),
        lit(1), (floor((lit(1.0) - lit(minJ)) * col("__sz")) + 1).cast("int")).as("__p"))
      .select(col("__blk"), col("__id"), col("__sz"), posexplode(col("__p")))
      .select(col("__blk"), col("col.__t").as("__t"), col("__id"), col("__sz"),
        (col("pos") + 1).as("__rank"))
      .repartition(parallelism, col("__blk"), col("__t"))
    // PPJoin's two cheap per-emission prunes, applied BEFORE the dedup
    // shuffle (the candidate join emits one row per shared prefix token —
    // everything cut here never pays the distinct): (1) length filter,
    // J >= t forces min|sz| >= t*max|sz|; (2) positional filter, the
    // overlap still reachable past positions (pa, pb) is
    // min(szA-pa, szB-pb)+1, which must reach ceil(t/(1+t)*(szA+szB)).
    // The 1e-9 slack makes float rounding err toward KEEPING a candidate —
    // the exact Jaccard downstream makes extra candidates harmless, while
    // a wrongly-dropped one would lose a pair.
    val eps = 1e-9
    val reachable = least(col("a.__sz") - col("a.__rank"),
      col("b.__sz") - col("b.__rank")) + 1
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.__blk") === col("b.__blk") && col("a.__t") === col("b.__t") &&
          col("a.__id") < col("b.__id") &&
          least(col("a.__sz"), col("b.__sz")) + eps >=
            lit(minJ) * greatest(col("a.__sz"), col("b.__sz")) &&
          reachable + eps >=
            lit(minJ / (1.0 + minJ)) * (col("a.__sz") + col("b.__sz")))
      .select(col("a.__blk").as("__blk"), col("a.__id").as("id_a"),
        col("b.__id").as("id_b")).distinct()
    // verify within the candidate's block: an id in several blocks is
    // one gram set per block, as in the quadratic form
    jaccardAtLeast(cand
      .join(t.select(col("__id").as("id_a"), col("__blk"), col("__g").as("g_a")),
        Seq("id_a", "__blk"))
      .join(t.select(col("__id").as("id_b"), col("__blk"), col("__g").as("g_b")),
        Seq("id_b", "__blk"))
      .select(col("id_a"), col("id_b"),
        org.apache.spark.sql.graft.SparseExprs
          .sortedIntersectCountLong(col("g_a"), col("g_b")).as("__i"),
        (size(col("g_a")) + size(col("g_b"))).cast("long").as("__ab")), minJ)
  }

  /** Embedding-cosine near-dup pairs within a blocking key. The threshold is
    * applied to the ROUNDED similarity (4 dp) so engines whose raw floating
    * sums differ in the last ulps agree on the boundary set. */
  def embeddingNearDup(df: DataFrame, emb: Column, id: Column, block: Column,
                       minCos: Double): DataFrame = {
    // L2 norm precomputed per side (once per vector), not per pair; the
    // dot/(n_a*n_b) association matches cosine()'s exactly, so rounded
    // values are bit-identical to the naive per-pair form.
    val t = df
      .select(id.as("__id"), block.as("__blk"), emb.cast("array<double>").as("__e"))
      .select(col("__id"), col("__blk"), col("__e"), Similarity.l2(col("__e")).as("__n"))
    probeSide(t).as("a")
      .join(t.as("b"), col("a.__blk") === col("b.__blk"))
      .where(col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        round(Similarity.dot(col("a.__e"), col("b.__e")) / (col("a.__n") * col("b.__n")), 4)
          .as("cos_sim"))
      .where(col("cos_sim") >= minCos)
  }

  /** Semantic (embedding-space) dedup — the SemDeDup shape (Abbas et al.
    * 2023, arXiv:2303.09540): cluster the corpus embeddings (here: assign
    * to a pre-trained codebook — an offline artifact, exactly as the IVF
    * index reuses it), then inside each cluster drop every vector whose
    * cosine to a LOWER-id cluster-mate reaches `minCos` (keep-first rule;
    * the reference keeps one representative per ε-ball). Output: every
    * vector with its cluster and a 0/1 `kept` flag.
    *
    * Scale shape: assignment is a narrow per-row argmax over c broadcast
    * centroid literals (no shuffle); the pair join is keyed by cluster, so
    * candidates are Σ cluster² — c is chosen ∝ √N precisely to keep
    * clusters small (the paper uses c≈√N k-means cells on embeddings).
    * Threshold on the ROUNDED cosine like [[embeddingNearDup]]. */
  def semanticDedup(df: DataFrame, emb: Column, id: Column,
                    centroids: Seq[(Long, Array[Double])], minCos: Double): DataFrame = {
    val t = df
      .select(id.as("vec_id"), emb.cast("array<double>").as("__e"))
      .withColumn("cluster",
        element_at(Similarity.nearestCells(col("__e"), centroids, 1), 1))
      .withColumn("__n", Similarity.l2(col("__e")))
    val parallelism = df.sparkSession.sessionState.conf.numShufflePartitions
    // cluster-keyed exchange shared by both pair-join sides (reuse) + merge
    // hint: a broadcast build would replay the per-row centroid argmax, and
    // the corpus-sized assignment table can never broadcast at scale
    val spread = t.repartition(parallelism, col("cluster"))
    val dropped = spread.as("a").hint("merge")
      .join(spread.as("b"), col("a.cluster") === col("b.cluster"))
      .where(col("a.vec_id") < col("b.vec_id") &&
        round(Similarity.dot(col("a.__e"), col("b.__e")) / (col("a.__n") * col("b.__n")), 4)
          >= minCos)
      .select(col("b.vec_id").as("vec_id")).distinct()
    t.join(dropped.withColumn("__d", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        when(col("__d").isNull, 1).otherwise(0).as("kept"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003): hash every k-token gram, slide a window of w hashes,
    * keep each window's minimum — any shared run of ≥ w+k−1 tokens between
    * two docs is GUARANTEED to share a fingerprint, while only ~2/(w+1) of
    * grams are kept. Docs with fewer than w grams keep their global min
    * (standard short-doc degenerate case). Returns the distinct
    * fingerprint set per doc as (`id`, `fp`) rows.
    *
    * Scale shape: gram hashing and window minima are per-row array ops
    * over materialized attribute arrays (built once — lambda bodies only
    * fold over them, never re-evaluate the split), then one explode; no
    * shuffle until the consumer aggregates. */
  def winnowingFingerprints(df: DataFrame, text: Column, id: Column,
                            k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, "k and w must be positive")
    val toks = df.select(id.as("id"), split(text, " ").as("__t"))
      .where(size(col("__t")) >= k)
    // gram i = tokens [i, i+k): hash the space-joined k-gram with the
    // shared md5-prefix hash so the DuckDB twin is verbatim
    val grams = toks.select(col("id"),
      transform(sequence(lit(0), size(col("__t")) - k),
        i => hash28(concat_ws(" ",
          (0 until k).map(j => element_at(col("__t"), i + j + 1)): _*))).as("__g"))
    val fps = grams.select(col("id"),
      explode(array_distinct(
        when(size(col("__g")) >= w,
          transform(sequence(lit(0), size(col("__g")) - w),
            j => array_min(slice(col("__g"), j + 1, lit(w)))))
          .otherwise(array(array_min(col("__g")))))).as("fp"))
    fps
  }

  /** Near-dup candidate pairs from winnowing fingerprints: docs sharing at
    * least `minShared` fingerprints. The self-join is keyed by fingerprint
    * value — candidate volume tracks true overlap, never block². */
  def winnowingPairs(df: DataFrame, text: Column, id: Column,
                     k: Int = 4, w: Int = 4, minShared: Int = 2): DataFrame = {
    val fps = winnowingFingerprints(df, text, id, k, w)
    val parallelism = df.sparkSession.sessionState.conf.numShufflePartitions
    // both self-join sides hang off ONE fp-keyed exchange (reuse), and the
    // merge hint keeps the planner from broadcasting a side at test scale —
    // a broadcast build would replay the whole fingerprint pipeline, and at
    // corpus scale the fp table can never broadcast anyway
    val spread = fps.repartition(parallelism, col("fp"))
    spread.as("a").hint("merge").join(spread.as("b"), Seq("fp"))
      .where(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** The most edge rows [[connectedComponents]] and [[ccContract]]
    * collect to the driver before taking their distributed paths:
    * `spark.graft.cc.localEdgeLimit` (default 200000), capped so that
    * the probe's `limit(cap + 1)` fits an Int. */
  private def localEdgeCap(spark: SparkSession): Int =
    math.min(spark.conf.getOption("spark.graft.cc.localEdgeLimit")
      .map(_.toLong).getOrElse(200000L), Int.MaxValue.toLong - 2L).toInt

  /** Round cap of [[connectedComponents]]' label propagation. */
  private val ccMaxIter = 20

  /** Connected components over an undirected candidate-pair edge list via
    * iterative min-label propagation — the clustering step that turns
    * near-dup PAIRS into dedup GROUPS (keep the min-id doc per component,
    * drop the rest). Returns (id, comp) for every edge endpoint, where
    * comp = the smallest doc id reachable from it; an edge with a null
    * endpoint is ignored.
    *
    * Scale shape: each iteration is one equi-join plus one min-aggregate,
    * both shuffle-keyed by node id; converges in O(component diameter)
    * iterations, and near-dup clusters are shallow (dup stars/chains), so
    * the cap is generous. Every iteration materializes via localCheckpoint
    * so the plan doesn't grow with iteration count, and the loop exits
    * early the first iteration no label improves. */
  def connectedComponents(edges: DataFrame,
                          scope: CkptScope = CkptScope.session): DataFrame = {
    // an edge with a null endpoint connects nothing (as in ccContract):
    // dropped before either branch, so the driver probe never reads a
    // null as a node id and neither path labels a null id
    val e = edges
      .select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    val symPlan = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    // SMALL-GRAPH FAST PATH (r13 optimization): below the threshold, run
    // union-find on the driver instead of the iterative join loop. The
    // distributed loop costs ~4 Spark jobs per iteration (join + agg +
    // checkpoint + convergence probe) — pure fixed overhead when the edge
    // list is tiny, which it ALWAYS is for the ingest micro-CCs
    // (ccContract's edge lists are batch-bounded BY CONTRACT and already
    // flow through the driver as broadcasts) and usually is for star
    // spines at bench scale. Collecting ≤ localEdgeLimit rows is the same
    // driver envelope a broadcast of the same frame would use; the labels
    // produced (comp = min reachable id) are exactly the loop's fixpoint,
    // pinned distributed-vs-local in the unit suite. At 100 TB corpus
    // edge lists exceed the threshold and take the iterative path
    // unchanged (threshold [[localEdgeCap]], in rows of the symmetrized
    // list).
    // PROBE-COLLECT gate (r14, guide §1.2): limit(n+1).collect() returns
    // the COMPLETE symmetrized edge list whenever it has ≤ n rows — the
    // fast path's checkpoint + count + collect (3 jobs per CC call, and
    // every ingest micro-CC is a CC call) becomes one job with no block
    // churn. Above the limit the probe stops early (CollectLimit scans
    // partitions incrementally) and the iterative path checkpoints as
    // before.
    val probeCap = localEdgeCap(edges.sparkSession)
    val probe = symPlan.limit(probeCap + 1).collect()
    if (probe.length <= probeCap) {
      System.err.println(s"[cc] local union-find over ${probe.length} edge rows")
      return localUnionFind(edges.sparkSession, probe)
    }
    val sym = symPlan.localCheckpoint()
    // compCk is always the RAW localCheckpoint handle (its plan is the
    // LogicalRDD leaf) — CheckpointUtils needs it to free blocks; comp is
    // the projected view iterated on.
    // Seed with comp(v) = min(v, min neighbor) — exactly what the first
    // loop iteration would compute, but as ONE aggregate over the edge
    // list instead of a join+agg+jump round (node enumeration needed an
    // aggregate-shaped distinct anyway, so the seed is free and the loop
    // converges one full iteration earlier).
    var compCk = sym.groupBy(col("src"))
      .agg(min(col("dst")).as("__mn"))
      .select(col("src").as("id"), least(col("src"), col("__mn")).as("comp"))
      .localCheckpoint()
    var comp = compCk
    var i = 0
    var done = false
    while (i < ccMaxIter && !done) {
      val nbr = sym.join(comp, sym("dst") === comp("id"))
        .groupBy(col("src")).agg(min("comp").as("nbr"))
      val prop = comp.join(nbr, comp("id") === nbr("src"), "left")
        .select(comp("id"),
          least(col("comp"), coalesce(col("nbr"), col("comp"))).as("comp"),
          (col("nbr") < col("comp")).as("__improved"))
      // pointer jumping: comp(v) <- comp(comp(v)) halves label-tree depth,
      // so rounds scale with log(diameter), not diameter
      val labels = prop.select(col("id").as("__lid"), col("comp").as("__lcomp"))
      val next = prop.join(labels, prop("comp") === col("__lid"), "left")
        .select(prop("id"),
          coalesce(col("__lcomp"), prop("comp")).as("comp"), col("__improved"))
        .localCheckpoint()
      done = next.where(col("__improved")).isEmpty
      // free the superseded round's checkpoint blocks deterministically —
      // Dataset.unpersist is a no-op for localCheckpoint plans, so go
      // through the underlying RDD (CheckpointUtils)
      org.apache.spark.sql.graft.CheckpointUtils.unpersistCheckpoint(compCk)
      compCk = next
      comp = next.drop("__improved")
      i += 1
    }
    // the final comp checkpoint stays alive for downstream consumption
    // (tracked by the caller's scope — freed per micro-batch under a
    // stream, session-lifetime in batch queries); the edge list is no
    // longer referenced by it
    org.apache.spark.sql.graft.CheckpointUtils.unpersistCheckpoint(sym)
    scope.track(compCk)
    System.err.println(s"[cc] converged after $i rounds (maxIter $ccMaxIter)")
    comp
  }

  /** Driver-side union-find over a collected symmetrized edge list —
    * [[connectedComponents]]' small-graph leg. Path-halving + union by
    * size, then per-root min member as the label: identical output to
    * the distributed min-label fixpoint (one row per distinct endpoint,
    * comp = min reachable id), deterministic regardless of edge order. */
  private def localUnionFind(spark: SparkSession,
                             rows: Array[org.apache.spark.sql.Row]): DataFrame = {
    val pairs = unionFindPairs(rows.length,
      i => rows(i).getLong(0), i => rows(i).getLong(1))
    val out = pairs.map { case (i0, c0) => org.apache.spark.sql.Row(i0, c0) }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("comp",
        org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(out: _*), schema)
  }

  /** Union-find core shared by [[localUnionFind]] and the driver-side
    * [[ccContract]] fast path (r14): min reachable id per distinct
    * endpoint of the `n` edges given by the two accessors — exactly the
    * distributed min-label fixpoint. Path halving + union by size; the
    * (id, comp) output is sorted by id for deterministic (run-
    * independent) materializations. */
  private def unionFindPairs(n: Int, edgeA: Int => Long,
                             edgeB: Int => Long): Array[(Long, Long)] = {
    val idx = new java.util.HashMap[java.lang.Long, java.lang.Integer](n * 2)
    val ids = new scala.collection.mutable.ArrayBuffer[Long]()
    def nodeOf(id: Long): Int = {
      val got = idx.get(java.lang.Long.valueOf(id))
      if (got != null) got.intValue()
      else { val m = ids.length; idx.put(id, m); ids += id; m }
    }
    val parent = new scala.collection.mutable.ArrayBuffer[Int]()
    val size = new scala.collection.mutable.ArrayBuffer[Int]()
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    var i = 0
    while (i < n) {
      val a = nodeOf(edgeA(i)); val b = nodeOf(edgeB(i))
      while (parent.length < ids.length) { parent += parent.length; size += 1 }
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (size(ra) >= size(rb)) { parent(rb) = ra; size(ra) += size(rb) }
        else { parent(ra) = rb; size(rb) += size(ra) }
      }
      i += 1
    }
    val minOf = new java.util.HashMap[java.lang.Integer, java.lang.Long]()
    var j = 0
    while (j < ids.length) {
      val r = java.lang.Integer.valueOf(find(j))
      val cur = minOf.get(r)
      if (cur == null || ids(j) < cur.longValue()) minOf.put(r, ids(j))
      j += 1
    }
    val out = new Array[(Long, Long)](ids.length)
    j = 0
    while (j < ids.length) {
      out(j) = (ids(j), minOf.get(find(j)).longValue())
      j += 1
    }
    java.util.Arrays.sort(out, Ordering.by((p: (Long, Long)) => p._1))
    out
  }

  /** INCREMENTAL connected components — the ingestion-time twin of
    * [[connectedComponents]]. Given the existing labels (id, comp =
    * min reachable id, the [[connectedComponents]] output over the
    * corpus-so-far) and a batch's NEW edges, returns labels over
    * labels ∪ new-edge endpoints identical to a full recompute over
    * (old edges ∪ new edges) — without ever touching the old edge
    * list. Old components are CONTRACTED to their label (a graph
    * quotient: connectivity of the quotient lifts exactly, and the
    * quotient node ids ARE the old component minima, so min-label
    * semantics survive contraction), CC runs on the contracted graph —
    * sized by the BATCH, not the corpus — and the resulting label
    * remap is broadcast back over the corpus labels as a map-side
    * relabel. Endpoints with no prior label (batch docs, plus old docs
    * whose first-ever collision is with this batch) label through the
    * same remap, defaulting to themselves.
    *
    * Scale shape (the 100 TB ingest contract): the corpus-sized labels
    * table is scanned exactly twice — once semi-joined down to the
    * touched endpoints (broadcast of ≤ 2·|newEdges| ids), once for the
    * relabel (broadcast of the remap, ≤ contracted-node count ≤
    * 2·|newEdges|) — and never shuffled; every join on the corpus side
    * is a broadcast-hash stream. The CC fixpoint iterates over the
    * batch-sized contracted edge list only. Per-batch cost is
    * O(batch), independent of corpus size (measured: PLANS §r11
    * incremental CC). At 100 TB the relabel scan can additionally be
    * deferred — the remap IS the patch; applying it lazily at read
    * time (comp → coalesce(remap[comp], comp)) amortizes daily batches
    * into one weekly rewrite — but the eager form here keeps the
    * operator's output a plain labels table. */
  def ccIncremental(labels: DataFrame, newEdges: DataFrame,
                    scope: CkptScope = CkptScope.session): DataFrame = {
    val l = labels.select(col("id").cast("long").as("id"),
      col("comp").cast("long").as("comp"))
    val (ends, lsub, remap) = ccContract(l, newEdges, scope)
    // corpus scan 2: map-side relabel (comp is an old component minimum
    // iff it appears as a remap key)
    val relabeled = l.join(broadcast(remap), l("comp") === col("__old"), "left")
      .select(l("id"), coalesce(col("__new"), l("comp")).as("comp"))
    // endpoints with no prior label: batch docs and previously-isolated
    // old docs — their contracted id is themselves, so the same remap
    // applies, defaulting to a fresh singleton
    val fresh = ends.join(lsub.select("id"), Seq("id"), "left_anti")
    val freshLab = fresh.join(broadcast(remap), fresh("id") === col("__old"), "left")
      .select(fresh("id"), coalesce(col("__new"), fresh("id")).as("comp"))
    relabeled.unionByName(freshLab)
  }

  /** DEFERRED-RELABEL variant of [[ccIncremental]] — the 100 TB
    * amortization its scaladoc promises, implemented: returns the
    * batch-bounded label PATCH (old current-minimum → new minimum) and
    * the labels of endpoints with no prior label, WITHOUT the
    * corpus-sized relabel scan or any corpus-sized output. The caller
    * keeps state as base labels + an append-only labels log + a FOLDED
    * patch map, and resolves reads lazily (comp →
    * coalesce(patch[comp], comp) — one broadcast join); per-trigger
    * durable I/O is then O(batch + total-moves), independent of corpus
    * size ([[graft.streaming.IngestStreams]] patch-log loop, q368;
    * measured against the eager swap in PLANS.md §r12 streaming loops
    * at 100×). The eager [[ccIncremental]] stays the right call when the
    * state must be a plain materialized labels table. */
  def ccIncrementalPatch(labels: DataFrame, newEdges: DataFrame,
                         scope: CkptScope = CkptScope.session)
      : (DataFrame, DataFrame) = {
    val l = labels.select(col("id").cast("long").as("id"),
      col("comp").cast("long").as("comp"))
    val (ends, lsub, remap) = ccContract(l, newEdges, scope)
    val fresh = ends.join(lsub.select("id"), Seq("id"), "left_anti")
    val freshLab = fresh.join(broadcast(remap), fresh("id") === col("__old"), "left")
      .select(fresh("id"), coalesce(col("__new"), fresh("id")).as("comp"))
    (remap.select(col("__old").as("old"), col("__new").as("new")), freshLab)
  }

  /** Fold a new batch patch into the running TERMINAL patch map. The
    * invariant both directions rely on: `folded` has no internal chains
    * (every `new` is a live minimum), because this compose re-points
    * any folded entry whose target just moved. New keys are disjoint
    * from folded keys by the min-label algebra — a label that moved
    * can never be a current minimum again (labels only decrease), so a
    * plain union closes the fold. Size grows by ≤ |batch patch| per
    * fold — proportional to total MOVES ever, never to the corpus; the
    * periodic fold-into-base compaction
    * ([[graft.streaming.IngestStreams.foldPatchLog]]) re-bounds it, the
    * LSM trade a third time. */
  def composePatch(folded: DataFrame, patch: DataFrame): DataFrame = {
    val p = patch.select(col("old").as("__po"), col("new").as("__pn"))
    folded.join(broadcast(p), folded("new") === col("__po"), "left")
      .select(folded("old"), coalesce(col("__pn"), folded("new")).as("new"))
      .unionByName(patch)
  }

  /** Resolve labels through a folded patch map: one broadcast join,
    * comp → coalesce(patch[comp], comp). The read half of the
    * patch-log contract ([[ccIncrementalPatch]]). */
  def applyPatch(labels: DataFrame, folded: DataFrame): DataFrame = {
    val p = folded.select(col("old").as("__po"), col("new").as("__pn"))
    labels.join(broadcast(p), labels("comp") === col("__po"), "left")
      .select(labels("id"), coalesce(col("__pn"), labels("comp")).as("comp"))
  }

  /** The contraction + micro-CC core shared by [[ccIncremental]] and
    * [[splitStableIngest]]. Takes NORMALIZED labels (long id, long comp)
    * and returns (touched endpoints, their label subset, label patch):
    * the patch maps a contracted-node id (an old component minimum, a
    * batch id, or a previously-isolated old id) to its merged
    * component's new minimum, and contains only nodes whose label
    * MOVED. All three frames are ≤ 2·|newEdges| rows — batch-bounded
    * by construction, never corpus-sized.
    *
    * BATCH-SIZE CONTRACT: "batch-bounded" makes the broadcasts legal for
    * ingest-sized batches (a day's crawl), NOT for a backfill replayed
    * as one giant batch — 2·|newEdges| must fit a broadcast (the
    * executor/driver memory envelope, not just
    * autoBroadcastJoinThreshold). Callers replaying weeks of history
    * must CHUNK the backfill into day-sized batches and apply them
    * sequentially (each application is exact, so the composition is too
    * — the q365 sequential-state property); the streaming drivers get
    * this for free from micro-batching. */
  private def ccContract(l: DataFrame, newEdges: DataFrame,
                         scope: CkptScope = CkptScope.session)
      : (DataFrame, DataFrame, DataFrame) = {
    val spark = l.sparkSession
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    // an edge with a null endpoint connects nothing: dropped before
    // either branch, so the driver path never reads a null as a node id
    // and neither path labels its other endpoint or a null id
    val ePlan = newEdges
      .select(col("id_a").cast("long").as("__ea"),
        col("id_b").cast("long").as("__eb"))
      .where(col("__ea").isNotNull && col("__eb").isNotNull)
    // DRIVER-SIDE CONTRACTION (r14, guide §1.2 step 1 / §2.4): the edge
    // list is batch-bounded BY CONTRACT (class doc below) and every
    // derived frame here (ends, lsub, remap) was ALREADY driver-resident
    // as a broadcast — but the r13 shape still paid a localCheckpoint job
    // for e, one for lsub, a probe job inside the micro-CC and a
    // broadcast-collect job per hint, ~6 jobs of fixed overhead per
    // micro-batch for frames of a few hundred rows. Below the
    // [[localEdgeCap]] threshold (the CC fast path's; probe-collect, so
    // an over-limit edge list stops early and takes the distributed
    // path), the contraction + micro-CC now run on the driver in TWO
    // jobs total: collect the batch edges, and collect the touched
    // endpoints' labels (the one corpus scan this operator is allowed).
    // Outputs are LocalRelations — identical rows (pinned in
    // CCFastPathSpec / the oracle suite), and their downstream broadcasts
    // launch no collect job at all.
    val cap = localEdgeCap(spark)
    val eProbe = ePlan.limit(cap + 1).collect()
    if (eProbe.length <= cap) {
      // distinct touched endpoints, sorted for deterministic output
      val endsArr = {
        val s = new java.util.TreeSet[java.lang.Long]()
        eProbe.foreach { r => s.add(r.getLong(0)); s.add(r.getLong(1)); () }
        scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
          .asScala.map(_.longValue()).toArray
      }
      val idSchema = StructType(Seq(StructField("id", LongType, nullable = false)))
      val ends = spark.createDataFrame(
        java.util.Arrays.asList(endsArr.map(org.apache.spark.sql.Row(_)): _*),
        idSchema)
      // corpus scan 1: labels of TOUCHED endpoints only (batch-bounded
      // output; `ends` ≤ 2·|newEdges| rows — a batch-size broadcast)
      val lsubRows = l.join(broadcast(ends), Seq("id")).collect()
      val compOf = new java.util.HashMap[java.lang.Long, java.lang.Long](
        lsubRows.length * 2)
      lsubRows.foreach { r =>
        if (!r.isNullAt(1)) { compOf.put(r.getLong(0), r.getLong(1)); () }
      }
      def contract(x: Long): Long = {
        val c = compOf.get(java.lang.Long.valueOf(x))
        if (c == null) x else c.longValue()
      }
      // contracted graph (self-loops dropped) + micro-CC, all driver-side
      val con = eProbe.iterator
        .map(r => (contract(r.getLong(0)), contract(r.getLong(1))))
        .filter(p => p._1 != p._2).toArray
      val labels = unionFindPairs(con.length, i => con(i)._1, i => con(i)._2)
      // the label PATCH: contracted nodes whose component minimum moved.
      // Bounded by the contracted node count (≤ 2·|newEdges|), never by
      // the corpus — the broadcast the whole operator exists to make legal.
      val remapRows = labels.collect { case (i0, c0) if i0 != c0 =>
        org.apache.spark.sql.Row(i0, c0) }
      val remapSchema = StructType(Seq(
        StructField("__old", LongType, nullable = false),
        StructField("__new", LongType, nullable = false)))
      val remap = spark.createDataFrame(
        java.util.Arrays.asList(remapRows: _*), remapSchema)
      val lsubSchema = StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("comp", LongType, nullable = true)))
      val lsub = spark.createDataFrame(
        java.util.Arrays.asList(lsubRows.map(r => org.apache.spark.sql.Row(
          r.getLong(0),
          if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1)))): _*),
        lsubSchema)
      return (ends, lsub, remap)
    }
    // AT-SCALE path — the r13 shape, unchanged: checkpointed batch-bounded
    // frames, distributed micro-CC
    val e = scope.track(ePlan.localCheckpoint())
    val ends = e.select(col("__ea").as("id"))
      .unionByName(e.select(col("__eb").as("id"))).distinct()
    // corpus scan 1: labels of TOUCHED endpoints only (batch-bounded
    // output; `ends` ≤ 2·|newEdges| rows — a batch-size broadcast)
    val lsub = scope.ckpt(l.join(broadcast(ends), Seq("id")))
    val contracted = e
      .join(broadcast(lsub.select(col("id").as("__ea"), col("comp").as("__ca"))),
        Seq("__ea"), "left")
      .join(broadcast(lsub.select(col("id").as("__eb"), col("comp").as("__cb"))),
        Seq("__eb"), "left")
      .select(coalesce(col("__ca"), col("__ea")).as("id_a"),
        coalesce(col("__cb"), col("__eb")).as("id_b"))
      .where(col("id_a") =!= col("id_b"))
    val micro = connectedComponents(contracted, scope)
    val remap0 = micro.where(col("id") =!= col("comp"))
      .select(col("id").as("__old"), col("comp").as("__new"))
    // a fast-path micro-CC returns a LocalRelation — already driver-
    // resident, re-evaluated for free and broadcast without launching a
    // job — so the defensive checkpoint (which exists to stop multi-
    // consumer recompute) would only add a job (r14, guide §1.2)
    val remap =
      if (micro.queryExecution.analyzed
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
        remap0
      else scope.ckpt(remap0)
    (ends, lsub, remap)
  }

  /** Cluster representative selection by QUALITY: per component, keep
    * the max-score doc (ties → min id) — the dedup policy that keeps
    * the best-written copy instead of the arbitrary min-id one. One
    * map-side-combinable min-STRUCT aggregate over (−score, id), never
    * a rank window (the q333 lesson: a window partition is unsplittable
    * under skew, and the degenerate dup cluster IS the skew case;
    * double negation is exact, so the argmax is bit-faithful). */
  def keepBestIds(labeled: DataFrame, idCol: String, compCol: String,
                  scoreCol: String): DataFrame =
    labeled.groupBy(col(compCol))
      .agg(min(struct((-col(scoreCol)).as("nq"), col(idCol).as("id")))
        .as("__w"))
      .select(col("__w.id").as(idCol))

  /** ONE-SCAN batch ingest edges — the connectivity input every
    * incremental consumer needs ([[ccIncremental]]'s q355 composition,
    * [[splitStableIngest]], the probes), derived from a SINGLE batch
    * signature scan (the r10 q350 single-tokenize standard): the
    * batch's banded frame checkpoints once, and from it come (a) the
    * CROSS edges — one (min corpus member) edge per colliding
    * (batch row, band key) off the staged `corpusIndex`, linear in
    * batch bands since same-bucket corpus docs are already one
    * component — and (b) the WITHIN-batch star edges (one bucket-min →
    * member edge per banded row, the [[minhashStarEdges]] contraction
    * applied to the single-column lsh_key, which equals (band, bucket)
    * equality by construction). */
  def batchIngestEdges(batch: DataFrame, corpusIndex: DataFrame,
                       text: Column, id: Column, shingleSize: Int = 3,
                       numPerm: Int = 16, bands: Int = 4,
                       scope: CkptScope = CkptScope.session): DataFrame = {
    val bb = scope.ckpt(lshIndexFrame(batch, text, id, shingleSize, numPerm, bands)
      .withColumnRenamed("corpus_id", "batch_id"))
    val cross = bb.join(corpusIndex, Seq("lsh_key"))
      .groupBy(col("batch_id"), col("lsh_key"))
      .agg(min(col("corpus_id")).as("__rep"))
      .select(col("__rep").as("id_a"), col("batch_id").as("id_b"))
    val roots = bb.groupBy(col("lsh_key")).agg(min(col("batch_id")).as("__root"))
    val within = bb.join(roots, Seq("lsh_key"))
      .where(col("batch_id") =!= col("__root"))
      .select(col("__root").as("id_a"), col("batch_id").as("id_b"))
    cross.unionByName(within).distinct()
  }

  /** SPLIT STABILITY under ingest — the invariant cluster-safe
    * splitting (q350/q351) cannot keep by itself once batches arrive:
    * a document already assigned to a split has already been trained
    * or evaluated on, so it can NEVER move, yet an ingest batch can
    * near-dup-bridge two components that day 0 assigned to DIFFERENT
    * splits. This operator (a) merges the batch into the cluster
    * structure incrementally ([[ccContract]] — CC over the batch-sized
    * quotient only), (b) keeps every old document's split EXACTLY as
    * assigned, (c) gives each batch document the split of its merged
    * component's minimum-id old member (deterministic inheritance; a
    * component with no old member is fresh and split-assigns by its
    * component label, the q350 convention), and (d) REPORTS the
    * irreducible legacy conflicts — merged components whose old
    * members span ≥ 2 splits — instead of hiding them: those
    * documents' mutual leakage is historical fact, and the census is
    * what tells the eval owner which split pairs are compromised.
    *
    * `oldAssign` = (id, split, comp) — the day-0 assignment with its
    * component label (comp null for docs that had no collision).
    * `corpusIndex` = the staged [[lshIndexFrame]] of the corpus
    * (bucketed on lsh_key, the q353 device). Output: one row per
    * declared spine split — (split, n_old, n_new,
    * n_conflict_components), where the conflict count is the number of
    * conflicted components whose OLD members include this split.
    *
    * Scale shape: the corpus-sized `oldAssign` is scanned three times
    * — once inside [[ccContract]] (endpoint subset, broadcast-
    * filtered), once for the 3-row n_old census (map-side combine),
    * once broadcast-filtered down to the batch-TOUCHED components for
    * inheritance/conflict analysis (conflicts can only arise in
    * touched components: every new edge has a batch endpoint, so any
    * merged component contains a batch doc — algebra, not assertion)
    * — and is never shuffled. Everything else is batch-bounded. */
  def splitStableIngest(oldAssign: DataFrame, corpusIndex: DataFrame,
                        batch: DataFrame, text: Column, id: Column,
                        splitBy: Column => Column,
                        spineSplits: Seq[String],
                        shingleSize: Int = 3, numPerm: Int = 16,
                        bands: Int = 4,
                        scope: CkptScope = CkptScope.session): DataFrame = {
    val (_, bFull, oldTouched0) = splitStableMerge(oldAssign,
      corpusIndex, batch, text, id, shingleSize, numPerm, bands, scope)
    val oldTouched = scope.ckpt(oldTouched0)
    // inheritance + conflict analysis per touched component
    val inh = scope.ckpt(oldTouched.groupBy(col("__c1"))
      .agg(min_by(col("__sp0"), col("id")).as("__isp"),
        countDistinct(col("__sp0")).as("__nsp")))
    val newSp = bFull.join(inh, Seq("__c1"), "left")
      .select(col("id"), coalesce(col("__isp"), splitBy(col("__c1"))).as("__sp"))
    val conf = oldTouched.select(col("__c1"), col("__sp0")).distinct()
      .join(inh.where(col("__nsp") >= 2).select(col("__c1")),
        Seq("__c1"), "left_semi")
    // census over the DECLARED spine (the q351 lesson: an observed
    // spine goes silent exactly when the assignment degenerates)
    val spark0 = batch.sparkSession
    val spine = spark0.range(1)
      .select(explode(array(spineSplits.map(lit): _*)).as("split"))
    spine
      .join(oldAssignFrame(oldAssign).groupBy(col("__sp0").as("split"))
        .agg(count(lit(1)).as("__no")), Seq("split"), "left")
      .join(newSp.groupBy(col("__sp").as("split"))
        .agg(count(lit(1)).as("__nn")), Seq("split"), "left")
      .join(conf.groupBy(col("__sp0").as("split"))
        .agg(count(lit(1)).as("__nc")), Seq("split"), "left")
      .select(col("split"),
        coalesce(col("__no"), lit(0L)).as("n_old"),
        coalesce(col("__nn"), lit(0L)).as("n_new"),
        coalesce(col("__nc"), lit(0L)).as("n_conflict_components"))
      .orderBy("split")
  }

  /** [[splitStableIngest]]'s STATE TRANSITION — same merge +
    * inheritance semantics, returning the UPDATED assignment
    * (id, split, comp) over old ∪ batch instead of the census: old
    * rows keep their split verbatim with comps relabeled through the
    * batch-bounded patch (one broadcast-joined corpus scan); batch
    * rows get the inherited (min-old-member) or fresh-hash split with
    * their merged comp. This is the sequential state the streaming
    * form (q365) carries across micro-batches — applying it day after
    * day composes exactly like re-running the full analysis on the
    * accumulated corpus, because each day's contraction quotients the
    * previous day's exact labels. */
  def splitStableAssign(oldAssign: DataFrame, corpusIndex: DataFrame,
                        batch: DataFrame, text: Column, id: Column,
                        splitBy: Column => Column,
                        shingleSize: Int = 3, numPerm: Int = 16,
                        bands: Int = 4,
                        scope: CkptScope = CkptScope.session): DataFrame = {
    val (remap, newRows) = splitStableCore(oldAssign, corpusIndex, batch,
      text, id, splitBy, shingleSize, numPerm, bands, scope)
    // old rows: splits NEVER move; comps patch through the broadcast
    // map (untouched isolated docs keep their null comp, the day-0
    // convention)
    val oldRows = oldAssignFrame(oldAssign).join(broadcast(remap),
        coalesce(col("__c0"), col("id")) === col("__old"), "left")
      .select(col("id"), col("__sp0").as("split"),
        coalesce(col("__new"), col("__c0")).as("comp"))
    oldRows.unionByName(newRows)
  }

  /** [[splitStableAssign]]'s DEFERRED-RELABEL twin (the
    * [[ccIncrementalPatch]] treatment applied to the order-dependent
    * split state, q369): returns the batch-bounded label PATCH and the
    * batch docs' assignment rows (id, split, comp) WITHOUT touching the
    * corpus-sized old assignment — old splits never move by contract,
    * so the ONLY corpus-wide effect of a batch is the comp relabel,
    * which is exactly what the folded patch map defers. Callers keep
    * base assignment + per-batch appends + the folded patch
    * ([[graft.streaming.IngestStreams]] q369 loop) and resolve reads
    * with one broadcast join keyed on coalesce(comp, id) (the day-0
    * null-comp convention). */
  def splitStableAssignPatch(oldAssign: DataFrame, corpusIndex: DataFrame,
                             batch: DataFrame, text: Column, id: Column,
                             splitBy: Column => Column,
                             shingleSize: Int = 3, numPerm: Int = 16,
                             bands: Int = 4,
                             scope: CkptScope = CkptScope.session)
      : (DataFrame, DataFrame) = {
    val (remap, newRows) = splitStableCore(oldAssign, corpusIndex, batch,
      text, id, splitBy, shingleSize, numPerm, bands, scope)
    (remap.select(col("__old").as("old"), col("__new").as("new")), newRows)
  }

  /** `oldAssign` (id, split, comp) as (id, __sp0, __c0), ids and comps
    * as longs. */
  private def oldAssignFrame(oldAssign: DataFrame): DataFrame =
    oldAssign.select(col("id").cast("long").as("id"),
      col("split").as("__sp0"), col("comp").cast("long").as("__c0"))

  /** The batch merge every split-stable operator starts with:
    * [[ccContract]] over the day-0 labels and [[batchIngestEdges]].
    * Returns the label remap (__old → __new), the batch docs' merged
    * components `bFull` (id, __c1; checkpointed, batch-bounded, isolated
    * docs keep their own id), and — unpinned — the old members of the
    * TOUCHED components with their merged label (id, __sp0, __c1): the
    * patch key is the day-0 component (own id when isolated), applied as
    * a broadcast map over one corpus scan. */
  private def splitStableMerge(oldAssign: DataFrame, corpusIndex: DataFrame,
                               batch: DataFrame, text: Column, id: Column,
                               shingleSize: Int, numPerm: Int, bands: Int,
                               scope: CkptScope)
      : (DataFrame, DataFrame, DataFrame) = {
    val oa = oldAssignFrame(oldAssign)
    val labels0 = oa.where(col("__c0").isNotNull)
      .select(col("id"), col("__c0").as("comp"))
    val (_, _, remap) = ccContract(labels0,
      batchIngestEdges(batch, corpusIndex, text, id,
        shingleSize, numPerm, bands, scope), scope)
    val bFull = scope.ckpt(batch.select(id.cast("long").as("id"))
      .join(broadcast(remap), col("id") === col("__old"), "left")
      .select(col("id"), coalesce(col("__new"), col("id")).as("__c1")))
    val touched = bFull.select(col("__c1")).distinct()
    val oldTouched = oa
      .join(broadcast(remap),
        coalesce(col("__c0"), col("id")) === col("__old"), "left")
      .select(col("id"), col("__sp0"),
        coalesce(col("__new"), col("__c0"), col("id")).as("__c1"))
      .join(broadcast(touched), Seq("__c1"))
    (remap, bFull, oldTouched)
  }

  /** Shared merge + inheritance core of [[splitStableAssign]] /
    * [[splitStableAssignPatch]]: (label remap, batch assignment rows).
    * Every frame here is batch-bounded except the two broadcast-joined
    * scans of `oldAssign` (endpoint subset inside [[ccContract]];
    * touched-component inheritance). */
  private def splitStableCore(oldAssign: DataFrame, corpusIndex: DataFrame,
                              batch: DataFrame, text: Column, id: Column,
                              splitBy: Column => Column, shingleSize: Int,
                              numPerm: Int, bands: Int,
                              scope: CkptScope): (DataFrame, DataFrame) = {
    val (remap, bFull, oldTouched) = splitStableMerge(oldAssign,
      corpusIndex, batch, text, id, shingleSize, numPerm, bands, scope)
    val inh = scope.ckpt(oldTouched.groupBy(col("__c1"))
      .agg(min_by(col("__sp0"), col("id")).as("__isp"))
      ) // batch-bounded (one row per touched component)
    val newRows = bFull.join(broadcast(inh), Seq("__c1"), "left")
      .select(col("id"),
        coalesce(col("__isp"), splitBy(col("__c1"))).as("split"),
        col("__c1").as("comp"))
    (remap, newRows)
  }

  // ------------------------------------------------------------------ bloom

  /** Deterministic Bloom hash family: k bit positions in [0, mBits) per
    * 28-bit content hash, via independent affine maps mod [[MinhashPrime]]
    * (the MinHash permutation trick — (a·h + b) stays < 2^33, overflow-safe
    * in both engines). Engine-independent, so the same positions can be
    * recomputed anywhere. */
  private def bloomPositions(h: Column, mBits: Int, kHash: Int): Seq[Column] =
    (1 to kHash).map(i =>
      pmod(h * lit(2L * i + 3L) + lit(104729L * i), lit(MinhashPrime)) % lit(mBits.toLong))

  /** Distributed Bloom-bitset build over a key column: explode each key's k
    * bit positions (tiny fixed-width rows, the ONLY shuffle), OR per 64-bit
    * word, collect mBits/64 longs to the driver. That driver array is the
    * whole point of a Bloom filter — mBits/8 bytes broadcast in place of the
    * full distinct-key set (at 100 TB: a few GB of bits vs TBs of keys). The
    * word-keyed build shuffles only SET bits, never per-partition bitset
    * copies, so sparse corpora pay proportionally less. */
  def bloomBitset(keys: DataFrame, key: Column, mBits: Int, kHash: Int): Array[Long] = {
    require(mBits > 0 && mBits % 64 == 0, "mBits must be a positive multiple of 64")
    val rows = keys.select(hash28(key).as("__h"))
      .select(explode(array(bloomPositions(col("__h"), mBits, kHash): _*)).as("__p"))
      .select(shiftright(col("__p"), 6).cast("int").as("__w"),
        call_function("shiftleft", lit(1L), (col("__p") % 64).cast("int")).as("__m"))
      .groupBy("__w")
      .agg(call_function("bit_or", col("__m")).as("__bits"))
      .collect()
    val arr = new Array[Long](mBits / 64)
    rows.foreach(r => arr(r.getInt(0)) = r.getLong(1))
    arr
  }

  /** Membership predicate against a built bitset — a pure codegen column
    * tree (element_at on a literal word array + shift/AND per hash), no UDF,
    * so it rides inside WholeStageCodegen on the probe-side scan. May return
    * true for absent keys (classic Bloom false positive), never false for
    * present ones. */
  def bloomMightContain(bits: Array[Long], key: Column, mBits: Int, kHash: Int): Column = {
    val words = typedLit(bits.toSeq)
    bloomPositions(hash28(key), mBits, kHash).map { p =>
      element_at(words, shiftright(p, 6).cast("int") + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L), (p % 64).cast("int"))) =!= lit(0L)
    }.reduce(_ && _)
  }

  /** Bloom-pruned incremental passage decontamination: for each NEW doc,
    * count its aligned `pk`-token passages that already occur anywhere in
    * the existing corpus. The corpus's passage set is summarized as a Bloom
    * bitset (mBits bits broadcast, vs the corpus-sized passage set the exact
    * [[Decontaminate]] shape would broadcast); new-batch passages that pass
    * the Bloom test — true hits plus ~(1-e^(-kn/m))^k false positives — are
    * the only strings that touch the exact-verify join, which removes the
    * false positives, so the RESULT is exact. Neither side ever shuffles
    * full text: the corpus is scanned narrow twice (bitset build; verify
    * semi-join against the broadcast candidate set), the new batch once.
    * Output per new doc: (doc_id, n_passages, n_shared, is_clean). */
  def bloomPassageHits(newDocs: DataFrame, corpus: DataFrame, text: Column, id: Column,
                       pk: Int = 10, mBits: Int = 1 << 17, kHash: Int = 4): DataFrame = {
    def chunks(t: Column) = {
      val nCh = floor(size(t) / pk).cast("int")
      // same guard as shingles: sequence(0, -1) would run DESCENDING
      when(nCh >= 1,
        transform(sequence(lit(0), nCh - 1),
          i => concat_ws(" ", slice(t, i * pk + 1, lit(pk)))))
        .otherwise(array().cast("array<string>"))
    }
    val corpusP = corpus.select(explode(chunks(split(text, " "))).as("__p"))
    val bits = bloomBitset(corpusP, col("__p"), mBits, kHash)
    val newP = newDocs.select(id.as("doc_id"), explode(chunks(split(text, " "))).as("__p"))
      .withColumn("__might", bloomMightContain(bits, col("__p"), mBits, kHash))
    val cand = newP.where(col("__might")).select(col("__p")).distinct()
    val confirmed = corpusP.join(broadcast(cand), Seq("__p"), "left_semi")
      .distinct().withColumn("__hit", lit(1L))
    val perDoc = newP.join(broadcast(confirmed), Seq("__p"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_passages"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_shared"))
    // docs too short for a single passage have no contamination surface:
    // join back from the full new batch so they report (0, 0, clean)
    newDocs.select(id.as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_passages"), lit(0L)).as("n_passages"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(coalesce(col("n_shared"), lit(0L)) === 0L, 1L).otherwise(0L).as("is_clean"))
  }

  /** Latest-wins snapshot dedup: keep, per key, the row with the highest
    * (version, tieBreak) — the crawl-snapshot consolidation step ("many
    * fetches of the same page over time; train on the newest"). `tieBreak`
    * must be unique per key (an event/fetch id) so the winner is
    * deterministic.
    *
    * Scale shape: ONE hash aggregation — every non-key column rides inside
    * a struct under lexicographic max(), so partial (map-side) aggregation
    * reduces each partition to one candidate row per key before the
    * shuffle. Deliberately NOT the row_number window spelling (a sort
    * exchange with no partial aggregation) and NOT max_by (nondeterministic
    * under ties). */
  def latestSnapshot(df: DataFrame, keys: Seq[String], version: String,
                     tieBreak: String): DataFrame = {
    require(keys.nonEmpty, "at least one key column")
    val rest = df.columns.filterNot(c => keys.contains(c) || c == version || c == tieBreak)
    val ordered = (version +: tieBreak +: rest.toSeq)
    df.groupBy(keys.map(col): _*)
      .agg(max(struct(ordered.map(col): _*)).as("__w"))
      .select(keys.map(col) ++ ordered.map(c => col(s"__w.$c").as(c)): _*)
  }

  /** Survivorship: collapse each duplicate cluster to ONE golden record,
    * with per-field merge rules instead of [[exact]]'s keep-whole-first-row
    * — the entity-resolution step after dedup decides WHICH rows are the
    * same thing. Cluster key = [[hash60]] of `clusterKey` (null keys
    * dropped, the family convention). Three rule families, each the
    * deterministic spelling of a standard survivorship policy:
    *
    *   - `golden_id` = min id — the stable anchor (the [[exact]] keeper);
    *   - `anchor_val` = `anchorField` FROM the min-id row — "trust the
    *     anchor record" (min over a (id, field) struct);
    *   - `mode_val` = most frequent `modeField` value, ties to the
    *     smallest value — "majority vote" (min over a (−count, value)
    *     struct; never max_by, which is nondeterministic under ties);
    *   - `best_val` = `bestField` FROM the row maximizing `bestMetric`,
    *     ties to the smallest id — "most complete wins" (max over a
    *     (metric, −id, field) struct).
    *
    * Scale shape: every rule is an algebraic min/max over structs, so the
    * whole merge is TWO hash aggregations on the same cluster key (one
    * pre-agg for mode counts, one final) — all partial-aggregating
    * map-side, no window sort, no full-row shuffle beyond the carried
    * fields. At 100 TB this is the difference between shipping (cluster,
    * candidate-struct) partials and sorting every cluster's members. */
  def goldenRecords(df: DataFrame, id: Column, clusterKey: Column,
                    modeField: Column, anchorField: Column,
                    bestMetric: Column, bestField: Column): DataFrame = {
    val rows = df.where(clusterKey.isNotNull && id.isNotNull)
      .select(hash60(clusterKey).as("cluster"), id.cast("long").as("id"),
        modeField.as("mv"), anchorField.as("av"),
        bestMetric.cast("long").as("bm"), bestField.as("bf"))
    // NULL-vote conventions, chosen so no struct comparison ever REACHES a
    // null field (the cross-engine null-sort-order hazard): a null
    // modeField abstains (cnt = count(mv) gives its group 0, and every
    // real value's −cnt is < 0, so NULL wins only when it's alone → NULL
    // mode_val); a null bestMetric ranks below every real metric via a
    // MinValue ordering key while `bm` still reports the original.
    // Majority vote needs the (cluster, value) counts first; everything
    // else folds into the same second agg, keyed identically.
    val votes = rows.groupBy("cluster", "mv")
      .agg(count(col("mv")).as("cnt"),
        min("id").as("gid"),
        min(struct(col("id"), col("av"))).as("anch"),
        max(struct(coalesce(col("bm"), lit(Long.MinValue)).as("bmk"),
          negate(col("id")).as("nid"), col("bf"), col("bm"))).as("best"),
        count(lit(1)).as("members"))
    votes.groupBy("cluster")
      .agg(min("gid").as("golden_id"),
        sum("members").cast("long").as("n_members"),
        min(struct(negate(col("cnt")).as("nc"), col("mv"))).as("__mode"),
        min("anch").as("__anch"),
        max("best").as("__best"))
      .select(col("cluster"), col("golden_id"), col("n_members"),
        col("__mode.mv").as("mode_val"),
        col("__anch.av").as("anchor_val"),
        col("__best.bf").as("best_val"),
        col("__best.bm").as("best_metric"))
  }

  /** Jaccard threshold-sensitivity curve: how many within-block
    * near-dup pairs survive at each candidate threshold — the ONE-PASS
    * tuning table for picking a dedup cutoff (running the pair join
    * once per threshold would multiply the dominant cost by the
    * threshold count). Pair generation is the q27 shape (distinct
    * token sets, (block, token) equi-join, candidates ∝ shared
    * tokens), checkpointed and repartitioned by id per the q266
    * finding; each pair's intersection/union are exact ints, and the
    * threshold test is the INTEGER comparison 10·inter ≥ t10·union —
    * no double ever decides a boundary. Output: ONE row per REQUESTED
    * threshold (a literal spine left-joined to the survivor counts,
    * n_pairs 0 when nothing survives — an absent row would be
    * indistinguishable from "not computed"), cumulative by
    * construction. */
  def jaccardThresholdCurve(df: DataFrame, text: Column, id: Column,
                            block: Column,
                            thresholds10: Seq[Int] = Seq(6, 7, 8, 9))
      : DataFrame = {
    require(thresholds10.nonEmpty && thresholds10.forall(t =>
      t >= 1 && t <= 10), "thresholds are tenths in [1, 10]")
    val spark = df.sparkSession
    val para = spark.sessionState.conf.numShufflePartitions
    val tok = df.select(id.as("id"), block.as("blk"),
        explode(array_distinct(split(text, " "))).as("t"))
      .where(col("id").isNotNull && col("blk").isNotNull)
      .repartition(para, col("id"))
      .localCheckpoint()
    val sizes = tok.groupBy("id").agg(count(lit(1)).as("sz"))
    val inter = tok.as("a")
      .join(tok.as("b"),
        col("a.blk") === col("b.blk") && col("a.t") === col("b.t"))
      .where(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    val pairs = inter
      .join(sizes.select(col("id").as("id_a"), col("sz").as("na")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("nb")), "id_b")
      .select(col("inter"), (col("na") + col("nb") - col("inter"))
        .as("uni"))
    val counts = pairs
      .select(explode(array(thresholds10.map(t => lit(t.toLong)): _*))
        .as("t10"), col("inter"), col("uni"))
      .where(col("inter") * 10 >= col("t10") * col("uni"))
      .groupBy("t10")
      .agg(count(lit(1)).as("n_pairs"))
    val spine = spark.range(1)
      .select(explode(array(thresholds10.map(t => lit(t.toLong)): _*))
        .as("t10"))
    spine.join(counts, Seq("t10"), "left")
      .select((col("t10").cast("double") / 10.0).as("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
      .orderBy("threshold")
  }

  /** Order-invariant (bag-of-words) duplicate census: documents whose
    * SORTED token multisets are identical — the shuffle-resistant
    * near-exact dedup that md5(text) misses (word-order permutations,
    * often template refills) and MinHash doesn't pin (it thresholds,
    * this is exact). Fingerprint = md5 of the sorted token list; one
    * fingerprint-keyed aggregation, then a cluster-size histogram with
    * the chars deduplication would save. */
  def bagFingerprintDups(df: DataFrame, id: Column, text: Column)
      : DataFrame = {
    val fp = md5(to_json(array_sort(split(text, " "))))
    val clusters = df.select(id.as("id"), fp.as("fp"),
        length(text).cast("long").as("nc"))
      .where(col("id").isNotNull && col("fp").isNotNull)
      .groupBy("fp")
      .agg(count(lit(1)).as("sz"), sum("nc").as("chars"),
        min("nc").as("keep_chars"))
    // singleton clusters stay in the census: "no duplication" must
    // read as an explicit sz=1 row, not an empty result
    clusters.groupBy("sz")
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("sz") - 1).as("n_excess_docs"),
        sum(col("chars") - col("keep_chars")).as("chars_saved"))
      .orderBy("sz")
  }

  /** Shared ExactSubstr tokenize pass for [[repeatedSpans]] /
    * [[scrubRepeatedSpans]]: per doc, the token count, the w-token
    * window (position, xxhash64-fingerprint) array, and (for the scrub,
    * which must reassemble text) the token array itself. MATERIALIZED
    * (localCheckpoint): every consumer re-reads this frame — the
    * occurrence explode alone is scanned twice (once to count
    * fingerprints, once to join the counts back) and the split+xxhash64
    * corpus pass is the skeleton's dominant CPU; one linear columnar
    * materialization (~2× corpus bytes) beats re-tokenizing per
    * consumer. On a real cluster swap the localCheckpoint for a
    * disk-backed persist — same contract. */
  private def spanBase(df: DataFrame, text: Column, id: Column, w: Int,
                       withTokens: Boolean): DataFrame = {
    val toks = split(text, " ")
    val cols = Seq(id.as("doc_id"),
      size(toks).cast("long").as("n_toks"),
      when(size(toks) >= w,
        transform(sequence(lit(1), size(toks) - (w - 1)),
          p => struct(p.cast("long").as("p"),
            xxhash64(concat_ws(" ", slice(toks, p, lit(w)))).as("g"))))
        .otherwise(array().cast("array<struct<p:bigint,g:bigint>>"))
        .as("ws")) ++ (if (withTokens) Seq(toks.as("tk")) else Nil)
    df.select(cols: _*).localCheckpoint()
  }

  /** Merge each doc's marked `w`-token windows (doc_id, p) into maximal
    * covered spans (doc_id, grp, s, e) — [s, e) in token positions: a
    * window opens a new span when it starts past every earlier window's
    * end. */
  private def mergeSpans(marked: DataFrame, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id").orderBy("p")
    marked
      .withColumn("pe", col("p") + w)
      .withColumn("mp", max(col("pe")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("nw",
        when(col("mp").isNull || col("p") > col("mp"), 1L).otherwise(0L))
      .withColumn("grp", sum("nw").over(byDoc))
      .groupBy("doc_id", "grp")
      .agg(min("p").as("s"), max("pe").as("e"))
  }

  /** Exact substring-level dedup census (the ExactSubstr policy of Lee
    * et al. 2021, "Deduplicating Training Data Makes Language Models
    * Better", at token-window granularity): every `w`-token window that
    * occurs more than once ANYWHERE in the corpus — across documents or
    * repeated inside one — marks its position; overlapping marked
    * windows merge into maximal repeated spans per document. Output is
    * the per-document span census (doc_id, n_toks, n_spans, rep_tokens,
    * rep_frac); documents with no repeats stay as explicit zero rows
    * (absent and zero must read differently).
    *
    * Shuffle shape at 100 TB: one explode to (doc, pos, fingerprint) —
    * volume = corpus tokens — one fingerprint-keyed count (map-side
    * combinable), a semi join back on the fingerprint, then a
    * doc-partitioned window merge whose partitions are bounded by doc
    * length. No global sort, no broadcast; fingerprints are 8-byte
    * xxhash64 (injective at fixture scale, 2⁻⁶⁴-rate collisions at any
    * realistic corpus — the q174 convention). */
  def repeatedSpans(df: DataFrame, text: Column, id: Column,
                    w: Int = 5): DataFrame = {
    require(w >= 2, "window width must be >= 2")
    val base = spanBase(df, text, id, w, withTokens = false)
    val occ = base.select(col("doc_id"), explode(col("ws")).as("u"))
      .select(col("doc_id"), col("u.p").as("p"), col("u.g").as("g"))
    val rep = occ.groupBy("g").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= 2).select("g")
    val spans = mergeSpans(occ.join(rep, Seq("g"), "left_semi"), w)
    val perDoc = spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum(col("e") - col("s")).as("rt"))
    base.select("doc_id", "n_toks")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("rt"), lit(0L)).as("rep_tokens"))
      .withColumn("rep_frac", Seal.ratio4("rep_tokens", "n_toks"))
  }

  /** Keep-first scrub of [[repeatedSpans]]' repeats — the removal HALF
    * of ExactSubstr dedup: for each corpus-repeated `w`-token window the
    * FIRST occurrence (min (doc_id, position)) stays canonical; every
    * other occurrence marks its window for removal. Removal windows
    * merge into maximal spans per doc, covered token positions are
    * dropped, and the survivors reassemble in order. Output per doc:
    * token accounting plus a 60-bit content hash of the scrubbed text
    * (the oracle-checkable stand-in for shipping the text itself);
    * fully-scrubbed docs surface as n_kept = 0 with the hash of "".
    *
    * Same linear shuffle skeleton as [[repeatedSpans]] plus: the
    * first-occurrence choice is ONE map-side-combinable aggregation —
    * min(struct(doc_id, p)) per fingerprint, computed alongside the
    * repeat count in the same hash agg (the q93 latest-wins device) —
    * joined back on the fingerprint to drop the row equal to the min.
    * Deliberately NOT a row_number window partitioned by the
    * fingerprint: that partition's size equals a window's corpus-wide
    * duplication count, and boilerplate heavy hitters (a banner
    * repeated 10⁹ times at 100 TB) are exactly what the operator exists
    * to kill — they must never serialize through one sort task. The
    * join back is safe under the same hitters: the build side is ONE
    * row per fingerprint, so AQE's skew-join split can cut the
    * occurrence side freely. The position drop stays an (doc, pos)-keyed
    * anti join — equi keys only, no range predicates, no broadcast. */
  def scrubRepeatedSpans(df: DataFrame, text: Column, id: Column,
                         w: Int = 5): DataFrame = {
    require(w >= 2, "window width must be >= 2")
    val base = spanBase(df, text, id, w, withTokens = true)
    val occ = base.select(col("doc_id"), explode(col("ws")).as("u"))
      .select(col("doc_id"), col("u.p").as("p"), col("u.g").as("g"))
    val rep = occ.groupBy("g")
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("p"))).as("__first"))
      .where(col("cnt") >= 2).select("g", "__first")
    val marked = occ.join(rep, Seq("g"))
      .where(struct(col("doc_id"), col("p")) =!= col("__first"))
      .select("doc_id", "p")
    val spans = mergeSpans(marked, w)
    val removedPos = spans.select(col("doc_id"),
      explode(sequence(col("s"), col("e") - 1)).as("i"))
    val tokPos = base.select(col("doc_id"), posexplode(col("tk")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("i"),
        col("col").as("t"))
    val kept = tokPos.join(removedPos, Seq("doc_id", "i"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("i"), col("t")))),
          s => s.getField("t")), " ").as("clean"))
    base.select("doc_id", "n_toks")
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_toks") - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"),
        hash60(coalesce(col("clean"), lit(""))).as("clean_hash"))
  }

  /** Empirical MinHash band-plan S-curve — "measure, don't guess" for
    * the (bands, rowsPerBand) knob: for each candidate factorization of
    * a `numPerm`-long signature, what fraction of the TRUE near-dup
    * pairs in each similarity band does that banding actually catch on
    * this corpus? Truth = exact unigram-set Jaccard over within-block
    * pairs, binned in INTEGER space (bin10 = ⌊10·i/u⌋ — no double
    * thresholds anywhere); a plan's candidates = its band-bucket
    * self-join collisions. Output one row per (plan × bin), zero-filled
    * from an explicit spine so "no pairs in this band" is a 0-row, not
    * an absent one; capture is NULL only for empty bins.
    *
    * Scale: ONE tokenize pass ([[lshTokens]]) feeds the truth side and
    * every plan's candidate join. Each plan's candidate join is the
    * banding join (candidates ∝ near-dups, never all-pairs). The TRUTH
    * side is the quadratic within-block join ([[blockPairs]]), and at
    * 100 TB the device runs on a block-bounded sample: `truthSample`
    * < 1 keeps a deterministic [[Sampling.hashSample]] doc band, so
    * pair volume falls by truthSample² while every per-bin capture
    * stays an unbiased ratio among surviving pairs (capture is
    * conditioned on the pair, and hash-band doc selection is
    * independent of any pair's similarity). Exact mode (the oracle's) =
    * truthSample = 1. */
  def bandPlanCapture(df: DataFrame, text: Column, id: Column,
                      block: Column, shingleSize: Int = 3,
                      numPerm: Int = 16, plans: Seq[Int] = Seq(2, 4, 8),
                      minBin10: Int = 5,
                      truthSample: Double = 1.0): DataFrame = {
    require(plans.nonEmpty && plans.forall(b => b >= 1 && numPerm % b == 0),
      "each plan's band count must divide numPerm")
    val spark = df.sparkSession
    val tok = lshTok(df, text, id, block, shingleSize, numPerm, truthSample)
    val t = tok.select("__id", "__blk", "__g")
    val exact = blockPairs(t, t)
      .withColumn("__u", col("__ab") - col("__i"))
      .withColumn("bin10", expr("(__i * 10) div __u"))
      .where(col("bin10") >= minBin10)
      .select("id_a", "id_b", "bin10")
    // ALL plans in one pass: every plan's bands explode into a single
    // (plan, band, bucket)-keyed frame, so the whole S-curve costs ONE
    // band self-join and ONE capture join — not one of each per plan
    // (the per-plan loop spelling ran 2·|plans| shuffle jobs over the
    // same signatures; measured 8.0 s → the fused plan's time at sf0.1).
    // The band join is block-restricted: capture only ever reads
    // candidates LEFT-joined from the within-block truth pairs, so
    // cross-block collisions can never reach the output — dropping them
    // inside the join is result-identical and removes the dominant
    // false-candidate volume (the low-rows-per-band plans collide
    // liberally across blocks by design).
    val banded = tok.where(col("__sig").isNotNull)
      .select(col("__id"), col("__blk"),
        explode(array(plans.flatMap { b =>
          val r = numPerm / b
          (0 until b).map(i => struct(lit(b).as("nb"),
            lit(i).as("band"),
            slice(col("__sig"), i * r + 1, r).cast("string")
              .as("bucket")))
        }: _*)).as("u"))
      .select(col("__id"), col("__blk"), col("u.nb").as("__nb"),
        col("u.band").as("__band"), col("u.bucket").as("__bucket"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.__nb") === col("b.__nb") &&
          col("a.__band") === col("b.__band") &&
          col("a.__bucket") === col("b.__bucket") &&
          col("a.__blk") === col("b.__blk"))
      .where(col("a.__id") < col("b.__id"))
      .select(col("a.__nb").as("__nb"), col("a.__id").as("id_a"),
        col("b.__id").as("id_b"))
      .distinct()
      .withColumn("__hit", lit(1L))
    val planSpine = spark.range(1).select(
      explode(array(plans.map(b => lit(b)): _*)).as("__nb"))
    val caps = exact.crossJoin(broadcast(planSpine))
      .join(cand, Seq("__nb", "id_a", "id_b"), "left")
      .groupBy("__nb", "bin10")
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_caught"))
      .select(col("__nb").as("n_bands"),
        (lit(numPerm) / col("__nb")).cast("int").as("rows_per_band"),
        col("bin10"), col("n_pairs"), col("n_caught"))
    val spine = spark.range(1)
      .select(explode(array(plans.flatMap(b => (minBin10 to 10).map(bin =>
        struct(lit(b).as("n_bands"), lit(numPerm / b).as("rows_per_band"),
          lit(bin.toLong).as("bin10")))): _*)).as("s"))
      .select(col("s.n_bands").as("n_bands"),
        col("s.rows_per_band").as("rows_per_band"),
        col("s.bin10").as("bin10"))
    spine.join(caps, Seq("n_bands", "rows_per_band", "bin10"), "left")
      .select(col("n_bands"), col("rows_per_band"), col("bin10"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_caught"), lit(0L)).as("n_caught"))
      .withColumn("capture",
        when(col("n_pairs") > 0, Seal.ratio4("n_caught", "n_pairs")))
  }

  /** The [[lshTokens]] frame of the LSH calibration devices
    * ([[bandPlanCapture]] / [[lshPlanEval]]), with the blocking key as
    * `__blk`. `truthSample` < 1 first narrows the corpus to a deterministic
    * [[Sampling.hashSample]] doc band (the q111 device) — the
    * block-bounded-sample mode these calibrators run in at 100 TB. */
  private def lshTok(df: DataFrame, text: Column, id: Column,
                     block: Column, shingleSize: Int, numPerm: Int,
                     truthSample: Double): DataFrame = {
    require(truthSample > 0 && truthSample <= 1,
      s"truthSample must be in (0, 1], got $truthSample")
    val src = if (truthSample >= 1.0) df
      else Sampling.hashSample(df, id, truthSample, "lshtruth")
    lshTokens(src, text, id, Seq(block.as("__blk")), None, shingleSize,
      numPerm)
  }

  /** Recall / precision / F1 of the SHIPPED MinHash-LSH plan against
    * exact Jaccard truth — the one-row health check a pipeline runs
    * before trusting its near-dedup pass. Truth = within-block unigram
    * Jaccard ≥ minBin10/10 (integer-space threshold: 10·i ≥ bin·u);
    * predictions = the plan's band-bucket collisions restricted to the
    * same blocks (the truth side can't see cross-block pairs, so the
    * comparison must not either). F1 comes out of integer space too:
    * F1 = 2·hits / (n_true + n_cand). All counts are exact longs; the
    * three ratios seal via the ratio4 device, NULL on empty
    * denominators. Same scale story as [[bandPlanCapture]], including
    * the `truthSample` hash-band sampled mode for 100 TB (counts
    * then describe the sampled sub-corpus; recall/precision stay
    * unbiased ratios among its pairs). */
  def lshPlanEval(df: DataFrame, text: Column, id: Column, block: Column,
                  shingleSize: Int = 3, numPerm: Int = 16, bands: Int = 4,
                  minBin10: Int = 6, truthSample: Double = 1.0): DataFrame = {
    require(numPerm % bands == 0, "numPerm must divide into bands")
    val tok = lshTok(df, text, id, block, shingleSize, numPerm, truthSample)
    val t = tok.select("__id", "__blk", "__g")
    val truth = blockPairs(t, t)
      .where(col("__i") * 10 >= (col("__ab") - col("__i")) * minBin10)
      .select(col("id_a"), col("id_b"), lit(1L).as("__true"))
    val banded = bandExplode(tok.where(col("__sig").isNotNull)
      .select(col("__id"), col("__blk"), col("__sig")), numPerm, bands)
    val cand = bandPairs(banded, col("a.__blk") === col("b.__blk"))
      .select(col("id_a"), col("id_b"), lit(1L).as("__cand"))
    truth.join(cand, Seq("id_a", "id_b"), "full")
      .agg(sum(coalesce(col("__true"), lit(0L))).as("n_true"),
        sum(coalesce(col("__cand"), lit(0L))).as("n_cand"),
        sum(when(col("__true").isNotNull && col("__cand").isNotNull, 1L)
          .otherwise(0L)).as("n_hit"))
      .withColumn("__tc", col("n_true") + col("n_cand"))
      .withColumn("__h2", col("n_hit") * 2)
      .select(col("n_true"), col("n_cand"), col("n_hit"),
        when(col("n_true") > 0, Seal.ratio4("n_hit", "n_true"))
          .as("recall"),
        when(col("n_cand") > 0, Seal.ratio4("n_hit", "n_cand"))
          .as("precision"),
        when(col("__tc") > 0, Seal.ratio4("__h2", "__tc")).as("f1"))
  }

  /** Cross-split NEAR-duplicate leakage census — the eval-integrity gate
    * q174's exact n-gram contamination check can't provide: a test
    * document that is a 0.9-Jaccard paraphrase of a training document
    * inflates evals exactly like an exact copy (Lee et al. 2021), but
    * shares no long exact n-gram. For every unordered split pair
    * (train|test, train|val, …): MinHash band-collision candidates
    * RESTRICTED to cross-split pairs, verified with exact distinct-token
    * Jaccard ≥ minBin10/10 (integer-space threshold), rolled up to
    * candidate/leaked pair counts and distinct leaked docs per side.
    * Absent split pairs surface as explicit zero rows.
    *
    * Scale shape: [[crossSplitCandidates]] (one tokenize pass, band
    * pairs with the split predicate inside the join), verification over
    * the candidate-reduced token-array join, and a split-pair-keyed
    * rollup over a bounded spine. Candidates ∝ true cross-split
    * near-dups, never all-pairs. */
  def crossSplitNearDupLeak(df: DataFrame, text: Column, id: Column,
                            splitCol: Column, shingleSize: Int = 1,
                            numPerm: Int = 16, bands: Int = 4,
                            minBin10: Int = 7): DataFrame = {
    require(numPerm % bands == 0, "numPerm must divide into bands")
    require(minBin10 >= 1 && minBin10 <= 10, "minBin10 in [1, 10]")
    val (tok, cand) = crossSplitCandidates(df, text, id, splitCol,
      shingleSize, numPerm, bands)
    leakCensusTail(cand, tok, minBin10, splitSizes = false)
  }

  /** Sampled-verify twin of [[crossSplitNearDupLeak]] — the 100 TB
    * audit-cost control. Candidate generation stays EXACT (the same
    * cross-split band collisions, counted in full per split pair), but
    * the token-array Jaccard verify — the dominant cost at the measured
    * sf1 regime, where every candidate pair drags two token-hash arrays
    * through a shuffle — runs only on a deterministic hash-sampled pair
    * subset: hash60(id_a:id_b:salt) mod 1e6 < frac·1e6, the
    * [[Sampling.hashSample]] convention, so the sample is reproducible
    * run-to-run and replayable by the oracle. Output per split pair:
    * exact n_candidates, n_sampled, n_leaked_sampled, the sampled leak
    * rate (Seal 4-decimal integer rounding), and the rate-scaled
    * estimate est_leaked = halfup(n_candidates·n_leaked_sampled /
    * n_sampled) computed in exact decimal(38,0) integer arithmetic (no
    * FP in the estimate path). The estimate's s.e. shrinks as
    * 1/√n_sampled while verify cost scales with frac — the sampled-truth
    * trade the r10 calibration quartet measured (PLANS §sampled-truth),
    * promoted to a first-class oracle-gated operator. */
  def crossSplitNearDupLeakSampled(df: DataFrame, text: Column, id: Column,
                                   splitCol: Column, frac: Double,
                                   salt: String = "pl",
                                   shingleSize: Int = 1, numPerm: Int = 16,
                                   bands: Int = 4,
                                   minBin10: Int = 7): DataFrame = {
    require(numPerm % bands == 0, "numPerm must divide into bands")
    require(minBin10 >= 1 && minBin10 <= 10, "minBin10 in [1, 10]")
    require(frac > 0 && frac <= 1, s"frac must be in (0, 1], got $frac")
    val (tok, cand) = crossSplitCandidates(df, text, id, splitCol,
      shingleSize, numPerm, bands)
    // ONE streaming pass, nothing pair-sized ever materializes (the
    // q350 sf1 lesson: checkpointing the quadratic candidate frame
    // fills the disk exactly when the census matters), and the pipe is
    // leakCensusTail's EXACT inner-join shape — a measured decision:
    // the first cut gated the array joins with the sample flag inside
    // LEFT-join conditions, and the off-shape joins cost ~2.2× the
    // exact tail per verified pair at the sf1 probe regime (PLANS §r11
    // q352), burying the sampling win. Here the only deviation from the
    // exact tail is one projection per side that NULLS OUT the token
    // array for non-sampled pairs BEFORE the next shuffle — the
    // (1 − frac) array bytes never cross the wire, which is the entire
    // intended saving; the pair stream itself (ids + labels) flows in
    // full because the candidate counts are exact by contract.
    val verified = cand
      .withColumn("__smp",
        pmod(hash60(concat(col("id_a").cast("string"), lit(":"),
          col("id_b").cast("string"), lit(":"), lit(salt))), lit(1000000L))
          < lit((frac * 1000000L).toLong))
      .join(tok.select(col("__id").as("id_a"), col("__sp").as("sp_a"),
        col("__g").as("ga0")), "id_a")
      .select(col("id_a"), col("id_b"), col("__smp"), col("sp_a"),
        when(col("__smp"), col("ga0")).as("ga"))
      .join(tok.select(col("__id").as("id_b"), col("__sp").as("sp_b"),
        col("__g").as("gb0")), "id_b")
      .select(col("id_a"), col("id_b"), col("__smp"),
        col("sp_a"), col("sp_b"),
        col("ga"), when(col("__smp"), col("gb0")).as("gb"))
      .withColumn("__i", when(col("__smp"),
        org.apache.spark.sql.graft.SparseExprs
          .sortedIntersectCountLong(col("ga"), col("gb"))))
      .withColumn("__u", when(col("__smp"),
        (size(col("ga")) + size(col("gb"))).cast("long") - col("__i")))
      .groupBy(least(col("sp_a"), col("sp_b")).as("split_a"),
        greatest(col("sp_a"), col("sp_b")).as("split_b"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("__smp"), 1L).otherwise(0L)).as("n_sampled"),
        sum(when(col("__smp") &&
            col("__i") * 10 >= col("__u") * minBin10, 1L)
          .otherwise(0L)).as("n_leaked_sampled"))
    // observed-splits spine with explicit zero rows (q349 convention)
    val spark = tok.sparkSession
    val splits = tok.select(col("__sp").cast("string").as("s")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val pairsSeq = for {
      i <- splits.indices; j <- (i + 1) until splits.length
    } yield (splits(i), splits(j))
    val out =
      if (pairsSeq.isEmpty) verified.limit(0)
      else {
        val spine = spark.range(1)
          .select(explode(array(pairsSeq.map { case (a, b) =>
            struct(lit(a).as("split_a"), lit(b).as("split_b")) }: _*)).as("p"))
          .select(col("p.split_a").as("split_a"),
            col("p.split_b").as("split_b"))
        spine.join(verified, Seq("split_a", "split_b"), "left")
      }
    val nc = coalesce(col("n_candidates"), lit(0L))
    val ns = coalesce(col("n_sampled"), lit(0L))
    val nl = coalesce(col("n_leaked_sampled"), lit(0L))
    def d38(c: Column) = c.cast("decimal(38,0)")
    out.select(col("split_a"), col("split_b"),
        nc.as("n_candidates"), ns.as("n_sampled"),
        nl.as("n_leaked_sampled"),
        when(ns > 0, Seal.ratio4c(nl, ns)).as("leak_rate"),
        when(ns > 0, org.apache.spark.sql.graft.VectorExprs
            .idiv(lit(2).cast("decimal(38,0)") * d38(nc) * d38(nl) + d38(ns),
              lit(2).cast("decimal(38,0)") * d38(ns))
            .cast("long"))
          .otherwise(lit(0L)).as("est_leaked"))
      .orderBy("split_a", "split_b")
  }

  /** The candidate side of [[crossSplitNearDupLeak]] and its sampled
    * twin: the LSH token frame with split label `__sp` (docs with a null
    * id or split dropped), and its band-collision pairs (id_a, id_b)
    * that cross splits — the split predicate sits inside the band join,
    * so same-split collisions never materialize. */
  private def crossSplitCandidates(df: DataFrame, text: Column, id: Column,
                                   splitCol: Column, shingleSize: Int,
                                   numPerm: Int, bands: Int)
      : (DataFrame, DataFrame) = {
    val tok = lshTokens(df, text, id, Seq(splitCol.cast("string").as("__sp")),
      Some(col("__sp").isNotNull && col("__id").isNotNull), shingleSize,
      numPerm)
    val banded = bandExplode(tok.where(col("__sig").isNotNull)
      .select(col("__id"), col("__sp"), col("__sig")), numPerm, bands)
    (tok, bandPairs(banded, col("a.__sp") =!= col("b.__sp")))
  }

  /** Shared verify+rollup tail of the cross-split leak census
    * ([[crossSplitNearDupLeak]], [[clusterSafeSplitCensus]]): joins the
    * candidate pairs back to the checkpointed token frame
    * (__id, __sp, __g) for split labels and the sorted unigram-hash
    * verify arrays, verifies with the allocation-free sorted-merge
    * kernel, and rolls up onto the bounded split-pair spine with
    * explicit zero rows. `splitSizes = true` appends per-side split
    * masses (n_docs_a / n_docs_b) so an all-zero census can't hide a
    * degenerate everything-in-one-split assignment. `declaredSpine`
    * non-empty pins the spine to that split enum (every pair reported
    * even when a split received zero docs); empty = observed splits
    * only (the q349/q350 convention). */
  private def leakCensusTail(cand: DataFrame, tok: DataFrame,
                             minBin10: Int,
                             splitSizes: Boolean,
                             declaredSpine: Seq[String] = Nil): DataFrame = {
    val ga = tok.select(col("__id").as("id_a"), col("__sp").as("sp_a"),
      col("__g").as("ga"))
    val gb = tok.select(col("__id").as("id_b"), col("__sp").as("sp_b"),
      col("__g").as("gb"))
    val verified = cand.join(ga, "id_a").join(gb, "id_b")
      .withColumn("__i", org.apache.spark.sql.graft.SparseExprs
        .sortedIntersectCountLong(col("ga"), col("gb")))
      .withColumn("__u",
        (size(col("ga")) + size(col("gb"))).cast("long") - col("__i"))
      .select(
        least(col("sp_a"), col("sp_b")).as("split_a"),
        greatest(col("sp_a"), col("sp_b")).as("split_b"),
        when(col("sp_a") <= col("sp_b"), col("id_a")).otherwise(col("id_b"))
          .as("doc_a"),
        when(col("sp_a") <= col("sp_b"), col("id_b")).otherwise(col("id_a"))
          .as("doc_b"),
        (col("__i") * 10 >= col("__u") * minBin10).as("__leak"))
    val agg = verified.groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("__leak"), 1L).otherwise(0L)).as("n_leaked"),
        countDistinct(when(col("__leak"), col("doc_a"))).as("docs_leaked_a"),
        countDistinct(when(col("__leak"), col("doc_b"))).as("docs_leaked_b"))
    // split names are an enum by the splitAssign contract (a handful of
    // literals), so the pair spine is a bounded driver-side literal —
    // never a non-equi self-join the planner could only run as a
    // cartesian/BNLJ (the kmeans-codebook bounded-collect convention)
    val spark = tok.sparkSession
    val splits =
      if (declaredSpine.nonEmpty) declaredSpine.distinct.sorted
      else tok.select(col("__sp").cast("string").as("s")).distinct()
        .collect().map(_.getString(0)).sorted.toSeq
    val pairsSeq = for {
      i <- splits.indices; j <- (i + 1) until splits.length
    } yield (splits(i), splits(j))
    if (pairsSeq.isEmpty) {
      // < 2 splits: nothing can leak, empty report (schema-stable)
      val empty = agg.limit(0)
      return if (!splitSizes) empty
        else empty.withColumn("n_docs_a", lit(0L))
          .withColumn("n_docs_b", lit(0L))
    }
    val spine = spark.range(1).select(explode(array(pairsSeq.map { case (a, b) =>
        struct(lit(a).as("split_a"), lit(b).as("split_b")) }: _*)).as("p"))
      .select(col("p.split_a").as("split_a"), col("p.split_b").as("split_b"))
    val census = spine.join(agg, Seq("split_a", "split_b"), "left")
      .select(col("split_a"), col("split_b"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
        coalesce(col("docs_leaked_a"), lit(0L)).as("docs_leaked_a"),
        coalesce(col("docs_leaked_b"), lit(0L)).as("docs_leaked_b"))
    if (!splitSizes) census.orderBy("split_a", "split_b")
    else {
      // split-count-sized frame (bounded by the split enum); left join +
      // coalesce: a DECLARED split may have received zero docs, and that
      // zero is exactly what the mass columns exist to expose
      val sizes = tok.groupBy(col("__sp").cast("string").as("s"))
        .agg(count(lit(1)).as("n"))
      census
        .join(sizes.select(col("s").as("split_a"), col("n").as("n_docs_a")),
          Seq("split_a"), "left")
        .join(sizes.select(col("s").as("split_b"), col("n").as("n_docs_b")),
          Seq("split_b"), "left")
        .select(col("split_a"), col("split_b"), col("n_candidates"),
          col("n_leaked"), col("docs_leaked_a"), col("docs_leaked_b"),
          coalesce(col("n_docs_a"), lit(0L)).as("n_docs_a"),
          coalesce(col("n_docs_b"), lit(0L)).as("n_docs_b"))
        .orderBy("split_a", "split_b")
    }
  }

  /** q349's remedy FUSED into one corpus pass: cluster-safe split
    * assignment — split by the near-dup CLUSTER (connected components
    * over MinHash band collisions), never the document, so no
    * collision-connected pair can straddle splits — immediately audited
    * by its own cross-split leak census.
    *
    * ONE tokenize/MinhashSig scan (checkpointed) feeds all three
    * consumers that a naive composition would each re-derive:
    * (a) the CC spine — as [[minhashStarEdges]]-style star edges, never
    *     the C(k,2) collision pairs (CC consumes connectivity only, and
    *     the pair set is quadratic per bucket: the sf1 dup-rich probe
    *     fixture, whose unigram banding degenerates into huge buckets,
    *     fills the disk materializing it),
    * (b) the census's cross-split candidate set — only buckets holding
    *     ≥ 2 distinct splits can emit a cross-split pair, so single-split
    *     buckets are pruned BEFORE pair enumeration (algebra, not an
    *     assertion: a bucket whose members share one split contributes
    *     zero cross-split pairs by definition), and the surviving mixed
    *     buckets self-join with the cross-split predicate INSIDE the
    *     join (the [[crossSplitNearDupLeak]] convention) — the audit
    *     costs one linear aggregate when there is nothing to report and
    *     ∝ mixed-bucket mass when there is,
    * (c) the sorted unigram-hash verify arrays.
    * By construction every band bucket is same-component ⇒ same split,
    * so the census is all-zero — computed honestly through the full
    * candidate + verify path, not asserted.
    *
    * `splitBy` maps the component key (the min doc id of the doc's
    * cluster, the doc's own id for singletons) to a split label —
    * typically `Sampling.splitAssign(_, fracs, salt)`; keeping it a
    * function keeps this operator independent of any one assignment
    * scheme. `splitSizes` (see [[leakCensusTail]]) appends per-side
    * split masses so the all-zero census can't hide a degenerate
    * assignment; `spineSplits` pins the report spine to the declared
    * split enum — on a dup-rich corpus the component-keyed assignment
    * can leave a declared split EMPTY (one giant component carries most
    * of the mass), and an observed-splits spine would silently report
    * nothing instead of the zero-doc rows that expose it. */
  def clusterSafeSplitCensus(df: DataFrame, text: Column, id: Column,
                             splitBy: Column => Column,
                             shingleSize: Int = 1, numPerm: Int = 16,
                             bands: Int = 4, minBin10: Int = 7,
                             splitSizes: Boolean = false,
                             spineSplits: Seq[String] = Nil): DataFrame = {
    require(numPerm % bands == 0, "numPerm must divide into bands")
    require(minBin10 >= 1 && minBin10 <= 10, "minBin10 in [1, 10]")
    // THE one corpus scan: signature + verify arrays, checkpointed
    val base = lshTokens(df, text, id, Nil, Some(col("__id").isNotNull),
      shingleSize, numPerm)
    // checkpointed: four downstream passes (star roots + join-back,
    // census bucket-split agg + semi-join) read the banded frame; each
    // would otherwise re-run the explode over the base checkpoint
    val banded = bandExplode(base.where(col("__sig").isNotNull)
      .select(col("__id"), col("__sig")), numPerm, bands)
      .localCheckpoint()
    // CC spine = star edges, LINEAR in banded rows — identical
    // components to the full collision pair set (see minhashStarEdges),
    // which is quadratic per bucket and is never materialized here
    val labels = connectedComponents(starEdges(banded))
      .select(col("id").as("__lid"), col("comp"))
    // narrow (id, split) frame with multiple consumers (the banded
    // census join + the census token join): checkpoint so the labels
    // join runs once, not per consumer
    val spl = base.select(col("__id"))
      .join(labels, col("__id") === col("__lid"), "left")
      .select(col("__id"),
        splitBy(coalesce(col("comp"), col("__id"))).as("__sp"))
      .localCheckpoint()
    // census candidates: prune single-split buckets (they cannot emit a
    // cross-split pair), then enumerate only the mixed buckets with the
    // cross-split predicate inside the self-join — same candidate set as
    // the full pair enumeration, without ever materializing the
    // same-split bulk
    val sb = banded.join(spl, Seq("__id"))
    val mixedKeys = sb.groupBy(col("__band"), col("__bucket"))
      .agg(min(col("__sp")).as("__lo"), max(col("__sp")).as("__hi"))
      .where(col("__lo") =!= col("__hi"))
      .select(col("__band"), col("__bucket"))
    val mixed = sb.join(mixedKeys, Seq("__band", "__bucket"), "left_semi")
    val cand = bandPairs(mixed, col("a.__sp") =!= col("b.__sp"))
    leakCensusTail(cand, base.join(spl, Seq("__id"))
      .select(col("__id"), col("__sp"), col("__g")), minBin10, splitSizes,
      spineSplits)
  }

  /** Boilerplate-prefix census: how many documents share their first
    * `k` tokens — the template/header detector (crawled pages with a
    * shared banner, log lines with a fixed preamble). Prefixes shorter
    * than k count as their full length, so short exact dups surface
    * too. One prefix-keyed aggregation; the sample prefix rides along
    * via min (deterministic). */
  def prefixBoilerplate(df: DataFrame, id: Column, text: Column,
                        k: Int = 8, minDocs: Long = 2): DataFrame = {
    require(k >= 1 && minDocs >= 1, "k and minDocs must be positive")
    val pfx = array_join(slice(split(text, " "), 1, k), " ")
    df.select(id.as("id"), pfx.as("prefix"))
      .where(col("id").isNotNull && col("prefix").isNotNull)
      .groupBy("prefix")
      .agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= minDocs)
      .orderBy(desc("n_docs"), col("prefix"))
  }
}
