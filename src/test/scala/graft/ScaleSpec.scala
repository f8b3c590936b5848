package graft

import org.apache.spark.sql.functions._

/** Scale-mechanism specs: bucketed co-located joins (no Exchange) and
  * salted skew joins (equivalence with the unsalted plan). */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  private def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect() // force AQE final plan
    // AQE wraps materialized shuffles in query stages the TreeNode collect
    // doesn't descend into — count exchange nodes in the final plan string
    "(ShuffleQueryStage|Exchange)".r
      .findAllIn(df.queryExecution.executedPlan.toString).size
  }

  test("bucketed staging: join on the bucket key plans with zero Exchange") {
    val c = Tables.t(spark, sf, "customer").select("c_custkey", "c_acctbal")
      .withColumnRenamed("c_custkey", "custkey")
    val o = Tables.t(spark, sf, "orders").select("o_custkey", "o_totalprice")
      .withColumnRenamed("o_custkey", "custkey")
    Staging.stageBucketed(c, "b_customer", "custkey", 4)
    Staging.stageBucketed(o, "b_orders", "custkey", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Staging.load(spark, "b_customer")
        .join(Staging.load(spark, "b_orders"), "custkey")
      assert(exchanges(joined) === 0,
        s"expected shuffle-free bucketed join:\n${joined.queryExecution.executedPlan}")
      // and the same join unbucketed DOES shuffle
      val plain = c.join(o, "custkey")
      assert(exchanges(plain) > 0)
      // results identical
      assert(joined.orderBy("custkey", "o_totalprice").collect().toSeq ===
        plain.orderBy("custkey", "o_totalprice").collect().toSeq)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("staged LSH index: minhashAgainstIndex equals minhashAgainst and " +
      "drops the corpus-side Exchange (bucketed scan feeds the semi-join)") {
    // no limit(): GlobalLimit's SinglePartition output satisfies every
    // clustering requirement and would erase the very exchanges this
    // test pins
    val docs = Tables.t(spark, sf, "documents")
    val corpus = docs.where(col("doc_id") < 250)
    val batch = docs.where(col("doc_id") >= 250)
    Staging.stageBucketed(
      Dedup.lshIndexFrame(corpus, col("text"), col("doc_id")),
      "b_lsh_idx", "lsh_key", 4)
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // AQE off for the plan pin: its final-plan printout repeats the
      // initial plan, which makes raw Exchange counts meaningless
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val staged = Dedup.minhashAgainstIndex(batch,
        Staging.load(spark, "b_lsh_idx"), col("text"), col("doc_id"))
      val inline = Dedup.minhashAgainst(batch, corpus, col("text"),
        col("doc_id"))
      val stagedPlan = staged.queryExecution.executedPlan.toString
      val inlinePlan = inline.queryExecution.executedPlan.toString
      def keyExchanges(plan: String, key: String): Int =
        s"Exchange hashpartitioning\\($key".r.findAllIn(plan).size
      // inline: BOTH sides of the band semi-join shuffle on the key;
      // staged: only the batch side — the bucketed index scan satisfies
      // the requirement from the catalog
      assert(keyExchanges(inlinePlan, "__band") === 2, inlinePlan)
      assert(keyExchanges(stagedPlan, "lsh_key") === 1, stagedPlan)
      assert(stagedPlan.contains("Bucketed: true"),
        s"index scan should read buckets:\n$stagedPlan")
      assert(staged.orderBy("doc_id").select("doc_id").collect().toSeq ===
        inline.orderBy("doc_id").select("doc_id").collect().toSeq)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }

  test("staged IVF index: ivfKnnJoinIndex equals ivfKnnJoin and drops " +
      "the corpus-side Exchange (bucketed cell scan feeds the join)") {
    val e = Tables.t(spark, sf, "embeddings")
    val cents = Similarity.kmeansCentroids(e, col("embedding"),
      col("vec_id"), c = 8, iters = 1)
    Staging.stageBucketed(
      Similarity.ivfIndexFrame(e, col("embedding"), col("vec_id"), cents),
      "b_ivf_idx", "cell", 4)
    val queries = e.filter(col("label") === 1)
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val staged = Similarity.ivfKnnJoinIndex(Staging.load(spark, "b_ivf_idx"),
        queries, col("embedding"), col("vec_id"), k = 3,
        centroids = cents, nProbe = 2)
      val inline = Similarity.ivfKnnJoin(e, col("embedding"), col("vec_id"),
        queries, col("embedding"), col("vec_id"), k = 3,
        centroids = cents, nProbe = 2)
      val stagedPlan = staged.queryExecution.executedPlan.toString
      val inlinePlan = inline.queryExecution.executedPlan.toString
      def keyExchanges(plan: String, key: String): Int =
        s"Exchange hashpartitioning\\($key".r.findAllIn(plan).size
      // inline: BOTH sides shuffle on the cell key; staged: only the
      // query batch — the bucketed index scan satisfies the join's
      // distribution from the catalog
      assert(keyExchanges(inlinePlan, "__cell") === 2, inlinePlan)
      assert(keyExchanges(stagedPlan, "cell") === 1, stagedPlan)
      assert(stagedPlan.contains("Bucketed: true"),
        s"index scan should read buckets:\n$stagedPlan")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select(col("qid"), col("rank"), col("id"),
            round(col("cos_sim"), 6).as("c"))
          .orderBy("qid", "rank").collect().toSeq
      assert(canon(staged) === canon(inline))
      assert(canon(staged).nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }

  test("filtered ANN (q384 shape): the metadata predicate pushes into " +
      "the bucketed index scan, and pre-filtered serving equals the " +
      "inline pre-filtered join") {
    val e = Tables.t(spark, sf, "embeddings")
    val docs = Tables.t(spark, sf, "documents")
    val cents = Similarity.kmeansCentroids(e, col("embedding"),
      col("vec_id"), c = 8, iters = 1)
    Staging.stageBucketed(
      Similarity.ivfIndexFrame(e, col("embedding"), col("vec_id"), cents)
        .join(docs.select(col("doc_id").as("id"), col("source")), "id"),
      "b_ivf_filt", "cell", 4)
    val pred = col("source").isin("src0", "src1", "src2")
    val queries = e.filter(col("label") === 1)
    val served = Similarity.ivfKnnJoinIndex(
      Staging.load(spark, "b_ivf_filt").where(pred),
      queries, col("embedding"), col("vec_id"), k = 3,
      centroids = cents, nProbe = 2)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"),
      s"filtered index scan must stay bucketed:\n$plan")
    assert(plan.contains("PushedFilters") && "In\\(source".r
        .findFirstIn(plan).nonEmpty,
      s"source predicate not pushed to the index scan:\n$plan")
    // truth: pre-filter the corpus relationally, then the inline join
    val corpusF = e
      .join(docs.select(col("doc_id").as("vec_id"), col("source")), "vec_id")
      .where(pred)
    val inline = Similarity.ivfKnnJoin(corpusF, col("embedding"),
      col("vec_id"), queries, col("embedding"), col("vec_id"), k = 3,
      centroids = cents, nProbe = 2)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("qid"), col("rank"), col("id"),
          round(col("cos_sim"), 6).as("c"))
        .orderBy("qid", "rank").collect().toSeq
    assert(canon(served) === canon(inline))
    assert(canon(served).nonEmpty)
  }

  test("staged postings: tfidfTopKFromPostings equals the inline " +
      "tfidfQueryTopK and reads the bucketed term scan") {
    val docs = Tables.t(spark, sf, "documents")
    Staging.stageBucketed(
      Curate.tokenPostings(docs, col("doc_id"), col("text")),
      "b_postings", "term", 4)
    val staged = Curate.tfidfTopKFromPostings(
      Staging.load(spark, "b_postings"), col("id") % 10 === 0, kLex = 5)
    val inline = Curate.tfidfQueryTopK(docs, col("doc_id"), col("text"),
      col("doc_id") % 10 === 0, kLex = 5)
    // the serving body checkpoints its weights, so pin the bucketed
    // claim on the fragment that reads the index: the term-keyed df
    // aggregation must be satisfied by the bucket distribution — no
    // Exchange between the scan and the agg
    val dfAgg = Staging.load(spark, "b_postings")
      .groupBy("term").agg(count(lit(1)).as("df"))
    val plan = dfAgg.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"),
      s"postings scan should read buckets:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(term"),
      s"term agg must not reshuffle the bucketed postings:\n$plan")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "rank").collect().toSeq
    assert(canon(staged) === canon(inline))
    assert(canon(staged).nonEmpty)
  }

  test("ivfRecallCurve panelFrac: the deterministic panel subsample " +
      "equals the full computation on the pre-filtered panel") {
    val e = Tables.t(spark, sf, "embeddings")
    val cents = Similarity.kmeansCentroids(e, col("embedding"),
      col("vec_id"), c = 8, iters = 1)
    val q = e.filter(col("label") === 1)
    val sampled = Similarity.ivfRecallCurve(e, col("embedding"),
      col("vec_id"), q, col("embedding"), col("vec_id"), k = 5,
      centroids = cents, probes = Seq(1, 2), panelFrac = 0.5)
      .collect().toSeq
    val pre = q.where(pmod(Dedup.hash60(concat(col("vec_id").cast("string"),
      lit("ivfrc"))), lit(1000000L)) < lit(500000L))
    val full = Similarity.ivfRecallCurve(e, col("embedding"),
      col("vec_id"), pre, col("embedding"), col("vec_id"), k = 5,
      centroids = cents, probes = Seq(1, 2))
      .collect().toSeq
    assert(sampled === full)
    assert(sampled.head.getLong(1) > 0 &&
      sampled.head.getLong(1) < q.count(), "subsample is strict")
  }

  test("appendBucketed: index append preserves the bucket spec and the " +
      "two-day staged ingest equals the inline two-step dedup") {
    val docs = Tables.t(spark, sf, "documents")
    val corpus = docs.where(col("doc_id") < 200)
    val batch1 = docs.where(col("doc_id") >= 200 && col("doc_id") < 350)
    val batch2 = docs.where(col("doc_id") >= 350)
    Staging.stageBucketed(
      Dedup.lshIndexFrame(corpus, col("text"), col("doc_id")),
      "b_lsh_ing", "lsh_key", 4)
    val day1 = Dedup.minhashAgainstIndex(batch1,
        Staging.load(spark, "b_lsh_ing"), col("text"), col("doc_id"))
      .localCheckpoint()
    Staging.appendBucketed(
      Dedup.lshIndexFrame(day1, col("text"), col("doc_id")),
      "b_lsh_ing")
    // appended table keeps its bucket spec in the catalog
    val spec = spark.sql("DESCRIBE EXTENDED b_lsh_ing").collect()
      .map(r => s"${r.getString(0)}=${r.getString(1)}").mkString("; ")
    assert(spec.contains("Num Buckets=4"), spec)
    val day2 = Dedup.minhashAgainstIndex(batch2,
      Staging.load(spark, "b_lsh_ing"), col("text"), col("doc_id"))
    // inline reference: day-2 dedups against corpus ∪ day-1 survivors
    val inline1 = Dedup.minhashAgainst(batch1, corpus, col("text"),
      col("doc_id"))
    val inline2 = Dedup.minhashAgainst(batch2,
      corpus.unionByName(inline1), col("text"), col("doc_id"))
    assert(day1.orderBy("doc_id").select("doc_id").collect().toSeq ===
      inline1.orderBy("doc_id").select("doc_id").collect().toSeq)
    assert(day2.orderBy("doc_id").select("doc_id").collect().toSeq ===
      inline2.orderBy("doc_id").select("doc_id").collect().toSeq)
  }

  test("streaming ingest-dedup loop equals the inline two-step (micro-" +
      "batches see prior survivors through the cloned-session cache)") {
    // the regression this pins: foreachBatch frames live on a CLONED
    // session; loading the index through the outer session reads a
    // stale file index after the first batch's append, silently
    // re-admitting day-2 near-dups of day-1 survivors
    val docs = Tables.t(spark, sf, "documents")
    val got = graft.streaming.IngestStreams
      .runIngestDedup(spark, sf, "t_sing", cut0 = 200, cut1 = 350)
      .select("ingest_day", "doc_id").collect().toSeq
      .map(r => (r.getInt(0), r.getLong(1)))
    val corpus = docs.where(col("doc_id") < 200)
    val day1 = Dedup.minhashAgainst(
      docs.where(col("doc_id") >= 200 && col("doc_id") < 350), corpus,
      col("text"), col("doc_id")).localCheckpoint()
    val day2 = Dedup.minhashAgainst(docs.where(col("doc_id") >= 350),
      corpus.unionByName(day1), col("text"), col("doc_id"))
    val want =
      day1.select("doc_id").collect().map(r => (1, r.getLong(0))).toSeq ++
        day2.select("doc_id").collect().map(r => (2, r.getLong(0))).toSeq
    assert(got.sorted === want.sorted)
    assert(got.count(_._1 == 2) > 0)
  }

  test("index compaction: re-staging the appended index shrinks the " +
      "file count (the LSM trade's compaction leg) with identical " +
      "dedup results") {
    val docs = Tables.t(spark, sf, "documents")
    Staging.stageBucketed(
      Dedup.lshIndexFrame(docs.where(col("doc_id") < 150),
        col("text"), col("doc_id")),
      "b_lsh_cmp", "lsh_key", 4)
    Seq((150L, 250L), (250L, 350L)).foreach { case (lo, hi) =>
      Staging.appendBucketed(
        Dedup.lshIndexFrame(
          docs.where(col("doc_id") >= lo && col("doc_id") < hi),
          col("text"), col("doc_id")),
        "b_lsh_cmp")
    }
    def files(table: String): Int = {
      val wh = new java.net.URI(
        spark.conf.get("spark.sql.warehouse.dir")).getPath
      new java.io.File(wh, table).listFiles()
        .count(_.getName.endsWith(".parquet"))
    }
    val batch = docs.where(col("doc_id") >= 350)
    def dedupIds(table: String) =
      Dedup.minhashAgainstIndex(batch, Staging.load(spark, table),
        col("text"), col("doc_id"))
        .select("doc_id").orderBy("doc_id").collect().toSeq
    val before = dedupIds("b_lsh_cmp")
    // compaction = re-stage the accumulated index, clustered by the
    // bucket key so each task owns exactly one bucket (bucketBy writes
    // one file per bucket PER TASK — unclustered input re-fragments):
    // one file per bucket again, contents unchanged
    Staging.stageBucketed(Staging.load(spark, "b_lsh_cmp")
      .localCheckpoint() // read fully BEFORE overwriting the source table
      .repartition(4, col("lsh_key")),
      "b_lsh_cmp2", "lsh_key", 4)
    // don't pin exact counts (bucketBy writes one file per bucket PER
    // TASK, so the appended total tracks upstream task counts): pin the
    // invariants — appends fragment, compaction lands at 1 file/bucket
    assert(files("b_lsh_cmp") > 4,
      "stage + 2 appends must fragment past one file per bucket")
    assert(files("b_lsh_cmp2") === 4, "compacted = 1 file/bucket")
    assert(files("b_lsh_cmp2") < files("b_lsh_cmp"))
    assert(dedupIds("b_lsh_cmp2") === before)
    assert(before.nonEmpty)
  }

  test("ivfRecluster: append-then-recluster equals the from-scratch " +
      "staged build (centroids + serve results), with the file count " +
      "back to one per bucket (the ANN compaction leg, r12)") {
    val e = Tables.t(spark, sf, "embeddings")
    def files(table: String): Int = {
      val wh = new java.net.URI(
        spark.conf.get("spark.sql.warehouse.dir")).getPath
      new java.io.File(wh, table).listFiles()
        .count(_.getName.endsWith(".parquet"))
    }
    // drift setup: stale codebook from the corpus half; the other half
    // appends under it (the q361 ingest loop)
    val stale = Similarity.kmeansCentroids(e.where(col("vec_id") < 500),
      col("embedding"), col("vec_id"), c = 16, iters = 2)
    withBuckets(4)(VStage.init(
      Similarity.ivfIndexFrame(e.where(col("vec_id") < 500),
        col("embedding"), col("vec_id"), stale), "t_ivf_rc", "cell"))
    // a crashed-and-replayed streaming append (q372) leaves exact
    // duplicates — compaction must drop them or the retrain ≡
    // from-scratch equivalence below breaks (duplicate low ids skew
    // the kmeans init; duplicate rows take two top-k ranks)
    Seq(1, 2).foreach { _ =>
      VStage.append(
        Similarity.ivfIndexFrame(e.where(col("vec_id") >= 500),
          col("embedding"), col("vec_id"), stale), "t_ivf_rc")
    }
    val cents = withBuckets(4)(Similarity.ivfRecluster(spark, "t_ivf_rc",
      c = 16, iters = 2))
    // from-scratch twin: train on the full table, stage fresh
    val fresh = Similarity.kmeansCentroids(e, col("embedding"),
      col("vec_id"), c = 16, iters = 2)
    assert(cents.map { case (i, a) => (i, a.toSeq) } ===
      fresh.map { case (i, a) => (i, a.toSeq) },
      "retraining on the index's own embeddings must equal from-scratch " +
        "training (same deterministic init, same data)")
    Staging.stageBucketed(
      Similarity.ivfIndexFrame(e, col("embedding"), col("vec_id"), fresh),
      "t_ivf_fs", "cell", 4)
    def serve(idx: org.apache.spark.sql.DataFrame,
              cs: Seq[(Long, Array[Double])]) =
      Similarity.ivfKnnJoinIndex(idx,
        e.filter(col("label") === 1), col("embedding"), col("vec_id"),
        k = 3, centroids = cs, nProbe = 2)
        .orderBy("qid", "rank").collect().toSeq
    assert(serve(VStage.load(spark, "t_ivf_rc"), cents) ===
      serve(Staging.load(spark, "t_ivf_fs"), fresh))
    // don't assert on the pre-compaction file count (task-count
    // dependent — the advisor's r11 brittleness note): the durable
    // invariant is the compacted layout, exactly one file per bucket
    assert(files(VStage.genTable("t_ivf_rc",
      VStage.currentGen(spark, "t_ivf_rc"))) === 4,
      "compacted = 1 file/bucket")
  }

  test("VStage: init/append/load round-trips, and recover repairs every " +
      "crash point of the generation swap (orphan build, stale old " +
      "generation, pointer tmp)") {
    import spark.implicits._
    val b = "t_vstage"
    VStage.destroy(spark, b)
    assert(!VStage.exists(spark, b))
    withBuckets(2)(VStage.init(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), b, "k"))
    assert(VStage.currentGen(spark, b) === 0L)
    VStage.append(Seq((3L, "c")).toDF("k", "v"), b)
    def content(): Seq[(Long, String)] = VStage.load(spark, b)
      .collect().toSeq.map(r => (r.getLong(0), r.getString(1))).sorted
    assert(content() === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // crash point A: orphan NEXT generation (build finished or partial,
    // pointer not moved) — dropped, old generation keeps serving
    Staging.stageBucketed(Seq((9L, "x")).toDF("k", "v"),
      VStage.genTable(b, 1), "k", 2)
    VStage.recover(spark, b)
    assert(VStage.currentGen(spark, b) === 0L)
    assert(content() === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(!spark.catalog.tableExists(VStage.genTable(b, 1)))
    // crash point B: pointer moved, superseded generation not dropped —
    // recover drops it, the new generation serves
    intercept[RuntimeException] {
      withBuckets(2)(VStage.compact(spark, b, "k", identity,
        onStep = s => if (s == "committed") throw new RuntimeException("kill")))
    }
    // the injected kill left gen 0 behind
    assert(new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath,
      VStage.genTable(b, 0)).exists())
    VStage.recover(spark, b)
    assert(VStage.currentGen(spark, b) === 1L)
    assert(content() === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(!spark.catalog.tableExists(VStage.genTable(b, 0)))
    // crash point C: stale pointer tmp — cleared, pointer intact
    val whp = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath, b + "._ptr.tmp")
    java.nio.file.Files.writeString(whp.toPath, "junk")
    VStage.recover(spark, b)
    assert(!whp.exists() && VStage.currentGen(spark, b) === 1L)
  }

  test("kill-mid-compaction drill (IVF recluster, the r12 weak): a crash " +
      "BEFORE the pointer swap leaves the pre-compaction index serving " +
      "the pre-compaction answer; a crash AFTER it serves the compacted " +
      "one — no crash point loses the serving index") {
    val e = Tables.t(spark, sf, "embeddings")
    val b = "t_ivf_kill"
    val stale = Similarity.kmeansCentroids(e.where(col("vec_id") < 500),
      col("embedding"), col("vec_id"), c = 16, iters = 2)
    withBuckets(4)(VStage.init(
      Similarity.ivfIndexFrame(e.where(col("vec_id") < 500),
        col("embedding"), col("vec_id"), stale), b, "cell"))
    VStage.append(
      Similarity.ivfIndexFrame(e.where(col("vec_id") >= 500),
        col("embedding"), col("vec_id"), stale), b)
    def serve(cs: Seq[(Long, Array[Double])]) =
      Similarity.ivfKnnJoinIndex(VStage.load(spark, b),
        e.filter(col("label") === 1), col("embedding"), col("vec_id"),
        k = 3, centroids = cs, nProbe = 2)
        .orderBy("qid", "rank").collect().toSeq
    val preCompaction = serve(stale)
    // kill 1: crash with the new generation fully staged but the
    // pointer NOT moved — recovery must serve the PRE-compaction answer
    intercept[RuntimeException] {
      withBuckets(4)(Similarity.ivfRecluster(spark, b, c = 16, iters = 2,
        onStep = s => if (s == "staged") throw new RuntimeException("kill")))
    }
    VStage.recover(spark, b)
    assert(VStage.currentGen(spark, b) === 0L)
    assert(serve(stale) === preCompaction,
      "crash before the pointer swap must leave the old index serving")
    // kill 2: crash after the pointer swap but before the old drop —
    // recovery must serve the COMPACTED index under the retrained
    // codebook, ≡ the from-scratch build
    intercept[RuntimeException] {
      withBuckets(4)(Similarity.ivfRecluster(spark, b, c = 16, iters = 2,
        onStep = s => if (s == "committed") throw new RuntimeException("kill")))
    }
    VStage.recover(spark, b)
    assert(VStage.currentGen(spark, b) === 1L)
    val retrained = Similarity.kmeansCentroids(e, col("embedding"),
      col("vec_id"), c = 16, iters = 2)
    Staging.stageBucketed(
      Similarity.ivfIndexFrame(e, col("embedding"), col("vec_id"),
        retrained), "t_ivf_kill_fs", "cell", 4)
    val fromScratch = Similarity.ivfKnnJoinIndex(
        Staging.load(spark, "t_ivf_kill_fs"),
        e.filter(col("label") === 1), col("embedding"), col("vec_id"),
        k = 3, centroids = retrained, nProbe = 2)
      .orderBy("qid", "rank").collect().toSeq
    assert(serve(retrained) === fromScratch,
      "crash after the pointer swap must leave the compacted index " +
        "serving, identical to a from-scratch build")
  }

  test("kill-mid-compaction drill (LSH dedup index): the re-stage " +
      "compaction is content-preserving, so EVERY crash point must " +
      "leave the index serving the same survivor set, and the completed " +
      "compaction lands at one file per bucket") {
    val docs = Tables.t(spark, sf, "documents")
    val b = "t_lsh_kill"
    withBuckets(4)(VStage.init(
      Dedup.lshIndexFrame(docs.where(col("doc_id") < 150),
        col("text"), col("doc_id")), b, "lsh_key"))
    Seq((150L, 250L), (250L, 350L)).foreach { case (lo, hi) =>
      VStage.append(
        Dedup.lshIndexFrame(
          docs.where(col("doc_id") >= lo && col("doc_id") < hi),
          col("text"), col("doc_id")), b)
    }
    val batch = docs.where(col("doc_id") >= 350)
    def survivors() = Dedup.minhashAgainstIndex(batch,
        VStage.load(spark, b), col("text"), col("doc_id"))
      .select("doc_id").orderBy("doc_id").collect().toSeq
    val before = survivors()
    assert(before.nonEmpty)
    val rebuild: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      _.dropDuplicates("lsh_key", "corpus_id")
    // crash before the pointer swap → old generation serves, unchanged
    intercept[RuntimeException] {
      withBuckets(4)(VStage.compact(spark, b, "lsh_key", rebuild,
        onStep = s => if (s == "staged") throw new RuntimeException("kill")))
    }
    VStage.recover(spark, b)
    assert(VStage.currentGen(spark, b) === 0L && survivors() === before)
    // completed compaction → same survivors, one file per bucket
    withBuckets(4)(VStage.compact(spark, b, "lsh_key", rebuild))
    assert(VStage.currentGen(spark, b) === 1L && survivors() === before)
    val wh = new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath
    assert(new java.io.File(wh, VStage.genTable(b, 1)).listFiles()
      .count(_.getName.endsWith(".parquet")) === 4,
      "compacted = 1 file/bucket")
  }

  test("graph vertex broadcasts: every vertex join of the fixture " +
      "plans carries the broadcast hint") {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 1L), (1L, 4L), (2L, 5L)).toDF("s", "d")
    def nHints(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect {
        case ResolvedHint(_, h) if h.strategy.contains(BROADCAST) => 1
      }.sum
    assert(nHints(Graph.pageRank(edges, col("s"), col("d"), iters = 2)) > 0,
      "default fixture plan must pin the broadcast")
    // the degree-join family: both endpoint degree joins, in each of
    // the two orientation arms
    assert(nHints(Graph.degreeAssortativity(edges, col("s"), col("d"))) === 4)
  }

  test("dedup vocab broadcasts: the banded near-dup operators (q305, " +
      "q326, q331) broadcast their vocabulary df table") {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val docs = Tables.t(spark, sf, "documents")
    // The banded operators checkpoint their candidate tables, so the
    // vocab-broadcast hint executes during CONSTRUCTION (inside the eager
    // localCheckpoint) and is invisible in the final DataFrame's analyzed
    // plan — observe every executed plan via a QueryExecutionListener
    // instead, and count hints across construction + the final collect.
    def hints(build: => org.apache.spark.sql.DataFrame): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution,
                               durationNs: Long): Unit =
          n.addAndGet(qe.analyzed.collect {
            case ResolvedHint(_, h) if h.strategy.contains(BROADCAST) => 1
          }.sum)
        override def onFailure(funcName: String, qe: QueryExecution,
                               exception: Exception): Unit = ()
      }
      spark.listenerManager.register(l)
      try {
        build.collect()
        org.apache.spark.sql.graft.ListenerBus.drain(spark.sparkContext)
        n.get
      } finally spark.listenerManager.unregister(l)
    }
    assert(hints(Dedup.weightedJaccardPairsBanded(docs, col("text"),
      col("doc_id"), col("source"), minW = 0.6)) > 0,
      "default path must pin the vocab broadcast")
    assert(hints(Dedup.ngramContainmentPairsBanded(docs, col("text"),
      col("doc_id"), col("source"), n = 1, minC = 0.9)) > 0)
    // q331's cosine twin carries TWO hints: the vocab df and the 1-row
    // nDocs census
    assert(hints(Curate.tfidfCosinePairsBanded(docs, col("doc_id"),
      col("text"), col("source"), minCos = 0.6)) >= 2)
  }

  test("ccIncremental: the corpus labels input is scanned exactly TWICE " +
      "(touched-endpoint subset + relabel), each join broadcasting the " +
      "batch-bounded side — the O(batch) ingest contract") {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, LogicalPlan, ResolvedHint}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.util.QueryExecutionListener
    // labels straight off parquet so the corpus input is identifiable in
    // every executed plan; batch edges are a LocalRelation
    val labels = Tables.t(spark, sf, "documents")
      .select(col("doc_id").as("id"), col("doc_id").as("comp"))
    val newE = Seq((1L, 9001L), (9001L, 9002L), (2L, 3L), (9010L, 9011L))
      .toDF("id_a", "id_b")
    def scansDocs(p: LogicalPlan): Boolean = p.exists {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.exists(_.toString.contains("documents"))
        case _ => false
      }
      case _ => false
    }
    def hasBcastHint(p: LogicalPlan): Boolean = p.exists {
      case ResolvedHint(_, h) => h.strategy.contains(BROADCAST)
      case _ => false
    }
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        captured.add(qe.analyzed)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    org.apache.spark.sql.graft.ListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(l)
    val got =
      try {
        val out = Dedup.ccIncremental(labels, newE)
        val got = out.collect()
        org.apache.spark.sql.graft.ListenerBus.drain(spark.sparkContext)
        got
      } finally spark.listenerManager.unregister(l)
    val plans = scala.jdk.CollectionConverters
      .IteratorHasAsScala(captured.iterator).asScala.toSeq
    val docScans = plans.filter(scansDocs)
    assert(docScans.size === 2,
      s"labels must be scanned exactly twice, saw ${docScans.size}")
    assert(docScans.forall(hasBcastHint),
      "every labels scan must sit behind a broadcast of the batch side")
    // toy-batch correctness: merges relabel through the patch, untouched
    // rows pass through, fresh pairs get fresh components
    val m = got.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 9001L, 9002L).forall(m(_) == 1L))
    assert(m(2L) === 2L && m(3L) === 2L)
    assert(m(9010L) === 9010L && m(9011L) === 9010L)
    assert(m(10L) === 10L) // untouched corpus row unchanged
  }

  test("batchIngestEdges: cross + within edges from exactly ONE batch " +
      "signature scan, equal to the two-scan composition") {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val docs = Tables.t(spark, sf, "documents")
    val corpus = docs.where(col("doc_id") < 300)
    val batch = docs.where(col("doc_id") >= 300)
    Staging.stageBucketed(
      Dedup.lshIndexFrame(corpus, col("text"), col("doc_id")),
      "b_bie_idx", "lsh_key", 4)
    def hasMinhash(p: LogicalPlan): Boolean =
      p.exists(_.expressions.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.graft.MinhashSig])))
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        captured.add(qe.analyzed)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    org.apache.spark.sql.graft.ListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(l)
    val got =
      try {
        val e = Dedup.batchIngestEdges(batch,
          Staging.load(spark, "b_bie_idx"), col("text"), col("doc_id"))
        val got = e.orderBy("id_a", "id_b").collect().toSeq
        org.apache.spark.sql.graft.ListenerBus.drain(spark.sparkContext)
        got
      } finally spark.listenerManager.unregister(l)
    val scans = scala.jdk.CollectionConverters
      .IteratorHasAsScala(captured.iterator).asScala.toSeq.count(hasMinhash)
    assert(scans === 1, s"expected ONE batch MinhashSig scan, saw $scans")
    // equality with the r11-pre-refactor two-scan composition
    val bands = Dedup.lshIndexFrame(batch, col("text"), col("doc_id"))
      .withColumnRenamed("corpus_id", "batch_id")
    val cross = bands.join(Staging.load(spark, "b_bie_idx"), Seq("lsh_key"))
      .groupBy(col("batch_id"), col("lsh_key"))
      .agg(min(col("corpus_id")).as("r"))
      .select(col("r").as("id_a"), col("batch_id").as("id_b"))
    val within = Dedup.minhashStarEdges(batch, col("text"), col("doc_id"))
    val want = cross.unionByName(within).distinct()
      .orderBy("id_a", "id_b").collect().toSeq
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("starEdgesFromIndex: edge set identical to minhashStarEdges over " +
      "the same corpus (the staged index IS the banded frame — r12 " +
      "one-scan bootstrap)") {
    val docs = Tables.t(spark, sf, "documents")
    val corpus = docs.where(col("doc_id") < 300)
    Staging.stageBucketed(
      Dedup.lshIndexFrame(corpus, col("text"), col("doc_id")),
      "t_sefi_idx", "lsh_key", 4)
    val fromIndex = Dedup.starEdgesFromIndex(Staging.load(spark, "t_sefi_idx"))
      .orderBy("id_a", "id_b").collect().toSeq
    val fromText = Dedup.minhashStarEdges(corpus, col("text"), col("doc_id"))
      .orderBy("id_a", "id_b").collect().toSeq
    assert(fromIndex === fromText)
    assert(fromIndex.nonEmpty)
  }

  test("q350 fused cluster-safe split: exactly ONE MinhashSig tokenize " +
      "execution across construction + the final census (r10 directive 1)") {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    // the naive composition ran the tokenize/signature scan TWICE (once
    // for the CC spine, once inside the census); the fused operator must
    // evaluate MinhashSig in exactly one executed plan — the shared
    // localCheckpoint — with every downstream job reading the checkpoint
    def hasMinhash(p: LogicalPlan): Boolean =
      p.exists(_.expressions.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.graft.MinhashSig])))
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        captured.add(qe.analyzed)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    org.apache.spark.sql.graft.ListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(l)
    val (tokenizeJobs, finalHasMinhash, rows) =
      try {
        val df = SparkEntry.queries("q350_cluster_safe_split")(spark, sf)
        val rows = df.collect()
        org.apache.spark.sql.graft.ListenerBus.drain(spark.sparkContext)
        val plans = scala.jdk.CollectionConverters
          .IteratorHasAsScala(captured.iterator).asScala.toSeq
        (plans.count(hasMinhash), hasMinhash(df.queryExecution.analyzed),
          rows)
      } finally spark.listenerManager.unregister(l)
    assert(tokenizeJobs === 1,
      s"expected exactly ONE MinhashSig scan, saw $tokenizeJobs")
    assert(!finalHasMinhash,
      "the final census plan must read the checkpoint, not re-tokenize")
    assert(rows.nonEmpty)
    // and the same single-scan contract for the q351 flagship (its
    // 3-shingle drop stage legitimately tokenizes once more — the fused
    // census itself adds exactly one)
    org.apache.spark.sql.graft.ListenerBus.drain(spark.sparkContext)
    captured.clear()
    spark.listenerManager.register(l)
    val t351 =
      try {
        val df = SparkEntry.queries("q351_training_prep_v3")(spark, sf)
        df.collect()
        org.apache.spark.sql.graft.ListenerBus.drain(spark.sparkContext)
        scala.jdk.CollectionConverters
          .IteratorHasAsScala(captured.iterator).asScala.toSeq
          .count(hasMinhash)
      } finally spark.listenerManager.unregister(l)
    assert(t351 === 2,
      s"q351 = one 3-shingle drop scan + one fused census scan, saw $t351")
  }

  test("saltedJoin equals plain inner join; hot key spread across salts") {
    // skewed big side: one hot key with 2000 rows, tail of 100 keys
    val big = ((1 to 2000).map(i => (7L, i.toLong)) ++
      (1 to 100).map(i => (i.toLong % 50, 10000L + i))).toDF("k", "payload")
    val small = (0L to 60L).map(k => (k, s"dim_$k")).toDF("k", "name")
    val salted = Skew.saltedJoin(big, small, "k", salts = 8)
      .orderBy("k", "payload").collect().toSeq
    val plain = big.join(small, Seq("k"))
      .orderBy("k", "payload").collect().toSeq
    assert(salted === plain)
  }

  test("hashSample: deterministic, nested by fraction, ~frac of rows") {
    val d = Tables.t(spark, sf, "documents")
    val s25 = Sampling.hashSample(d, col("doc_id"), 0.25, "t")
      .select("doc_id").as[Long].collect().toSet
    val s50 = Sampling.hashSample(d, col("doc_id"), 0.50, "t")
      .select("doc_id").as[Long].collect().toSet
    assert(s25.subsetOf(s50), "same-salt samples must be nested")
    val n = d.count().toDouble
    assert(math.abs(s25.size / n - 0.25) < 0.1)
    // rerun -> identical set (determinism)
    val again = Sampling.hashSample(d, col("doc_id"), 0.25, "t")
      .select("doc_id").as[Long].collect().toSet
    assert(again === s25)
  }

  test("splitAssign: total partition, stable under row addition") {
    val d = Tables.t(spark, sf, "documents")
    val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val assigned = d.withColumn("split", Sampling.splitAssign(col("doc_id"), fr, "x"))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(assigned.size === d.count())
    assert(assigned.values.toSet.subsetOf(Set("train", "val", "test")))
    // assignment of existing keys unchanged when computed over a subset
    val sub = d.limit(100)
      .withColumn("split", Sampling.splitAssign(col("doc_id"), fr, "x"))
      .select("doc_id", "split").as[(Long, String)].collect()
    sub.foreach { case (id, sp) => assert(assigned(id) === sp) }
  }

  test("stratifiedFixed: exactly n per big group, whole group when smaller, deterministic") {
    val df = ((1 to 100).map(i => ("big", i.toLong)) ++
      (1 to 3).map(i => ("small", 1000L + i))).toDF("g", "id")
    val s1 = Sampling.stratifiedFixed(df, col("g"), col("id"), n = 10)
      .as[(String, Long)].collect().toSet
    assert(s1.count(_._1 == "big") === 10)
    assert(s1.count(_._1 == "small") === 3) // group smaller than n kept whole
    val s2 = Sampling.stratifiedFixed(df, col("g"), col("id"), n = 10)
      .as[(String, Long)].collect().toSet
    assert(s1 === s2)
  }

  test("stageZordered: REAL per-file zone maps prune both dimensions; " +
    "x-sort layout can't prune y") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val e = Tables.t(spark, sf, "events")
      .where(col("user_id").isNotNull && col("value").isNotNull)
      .select(col("event_id"),
        pmod(col("user_id"), lit(16L)).as("xb"),
        pmod(expr("CAST(round(value * 100, 0) AS BIGINT)"), lit(16L))
          .as("yb"))
    def zones(path: String): Array[(Long, Long)] =
      new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".parquet")).map { f =>
          spark.read.parquet(f.getPath).agg(min("xb"), min("yb"))
            .as[(Long, Long)].head()
        }
    val zp = "target/test_stage_zordered"
    Staging.stageZordered(e, zp, 8, 4, col("xb"), col("yb"))
    val zz = zones(zp)
    assert(zz.length > 4, "need several files to demonstrate pruning")
    // both-dimension predicate xb <= 3 AND yb <= 3: Morton codes of the
    // low 4x4 block are exactly z < 16, i.e. they cluster into the FIRST
    // z-range file(s) — a zone-map planner keeps almost nothing
    val keptBoth = zz.count { case (xm, ym) => xm <= 3 && ym <= 3 }
    assert(keptBoth < zz.length && keptBoth <= 2,
      s"z-order kept $keptBoth of ${zz.length} files under the 4x4 block")
    // y-only predicate: z-order still prunes (y bits live in the key)...
    val zKeptY = zz.count(_._2 <= 3)
    assert(zKeptY < zz.length,
      s"z-order kept all ${zz.length} files under the y predicate")
    // ...while the x-sorted control layout spans all y in every file
    val sp = "target/test_stage_zordered_xsort"
    e.orderBy("event_id").repartitionByRange(8, col("xb"))
      .sortWithinPartitions(col("xb")).write.mode("overwrite").parquet(sp)
    val ss = zones(sp)
    assert(ss.count(_._2 <= 3) === ss.length,
      "x-sorted files should all contain low-y rows (no y pruning)")
    // content preserved exactly; the filtered read-back is exact
    val back = spark.read.parquet(zp)
    assert(back.exceptAll(e).isEmpty && e.exceptAll(back).isEmpty)
    val got = back.where(col("xb") <= 3 && col("yb") <= 3).count()
    val exp = e.where(col("xb") <= 3 && col("yb") <= 3).count()
    assert(got === exp)
  }

  test("stagePartitioned: directory layout, partition filter prunes, content preserved") {
    import org.apache.spark.sql.functions._
    val e = Tables.t(spark, sf, "events")
      .select("event_id", "user_id", "event_type")
    val path = "target/test_stage_partitioned"
    Staging.stagePartitioned(e, path, "event_type")
    // hive layout: one directory per distinct partition value
    val dirs = new java.io.File(path).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs === Set("event_type=click", "event_type=view",
      "event_type=purchase", "event_type=signup", "event_type=error"))
    // the equality predicate must land in PartitionFilters (directory
    // pruning), NOT survive as a post-scan Filter
    val q = spark.read.parquet(path).where(col("event_type") === "click")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("event_type"),
      s"partition filter not pushed:\n$plan")
    // pruned read returns exactly the clicks
    assert(q.count() === e.where(col("event_type") === "click").count())
    // full-path read preserves content (partition column restored)
    val back = spark.read.parquet(path).select("event_id", "user_id", "event_type")
    assert(back.exceptAll(e).isEmpty && e.exceptAll(back).isEmpty)
  }
}
