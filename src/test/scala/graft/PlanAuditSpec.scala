package graft

/** Enforces the PLANS.md invariants over the whole query inventory: no
  * CartesianProduct anywhere, and BroadcastNestedLoopJoin only where a
  * one-row/tiny broadcast side makes it the right plan (global-stat
  * cross-joins, single query vectors, IVF probe lists). Catches plan
  * regressions — e.g. a lost broadcast hint or an accidental cross join —
  * at test time instead of at 100 TB. */
class PlanAuditSpec extends SparkSpec {
  // queries whose plan legitimately contains BroadcastNestedLoopJoin:
  // the build side is a broadcast single-row aggregate / query vector /
  // probe-cell list (see PLANS.md invariant 4)
  private val bnljOk = Set(
    "q07_norm_minmax", "q08_norm_zscore", "q09_norm_robust",
    "q10_composite_index", "q24_similarity_cosine", "q29_ann_lsh",
    "q39_ann_ivf", "q49_training_prep", "q54_sql_native_fn",
    "q72_ann_quantized", "q80_tfidf_terms", "q83_length_curriculum",
    "q92_bm25_terms", // (N, avgdl) one-row stats broadcast, like q80's N
    // 1-row per-source-count map broadcast (groupless agg of a
    // source-keyed agg) — the closed-form global-position arithmetic
    // reads counts from this single row (TrainOrder.strideInterleave)
    "q392_stride_interleave",
    // 1-row total-token broadcast: the closed-form inverse prefix sum
    // reads T from it (TrainOrder.rankResumePlan)
    "q394_rank_resume",
    // 1-row corpus-count broadcast for the decile cut
    // (TrainOrder.epochDisplacement)
    "q395_epoch_displacement",
    // 1-row count broadcasts feeding the closed-form ntile /
    // percent_rank over the distributed Ranked row_number (r13: the
    // single-partition-window fixes)
    "q124_ntile_bins", "q149_revenue_pct_rank", "q193_calibration_bins",
    "q286_calibration_error", "q295_crawl_decay",
    "q396_curriculum_order", "q397_curriculum_pacing",
    "q108_unigram_logprob", // 1-row total-token-count broadcast
    "q123_skew_report", // 1-row totals/gini/top10 broadcasts (r9 spine)
    "q126_pair_lift", // 1-row basket-census broadcast (lazy N, r8)
    "q283_assoc_rules", // 1-row basket-census broadcast (lazy N, r8)
    "q308_cohort_retention", // 1-row corpus-origin-day broadcast
    "q309_log_rank", // 1-row obs-end + arm-totals broadcasts
    "q313_silhouette", // label-cardinality centroid-vector broadcast
    "q362_ivf_recall_curve", // bounded eval-panel cross join: the exact
    // brute-force TRUTH side of the recall calibration — quadratic BY
    // DESIGN over the curated query panel (an eval set is small by
    // contract; at real scale the truth side is what gets sampled,
    // the q335 truthSample precedent)
    "q378_hybrid_retrieval", // exact vector leg: corpus × bounded
    // retrieval batch BY DESIGN — the brute-force baseline whose
    // staged-IVF replacement is the SAME query minus this join (q380)
    "q381_hard_negatives", // corpus × bounded anchor panel (exact
    // pass; the staged-IVF candidate swap is documented in the op)
    "q382_contrastive_triplets", // the same two panel-broadcast passes
    "q383_mmr_diversify", // candidate generation = the q378 exact leg
    "q314_neyman_allocation", // 1-row Σ N_h·S_h normalizer broadcast
    "q315_kruskal_wallis", // 1-row (N, k) + tie-total broadcasts
    "q316_moods_median", // 1-row global-median + margin broadcasts
    "q318_friedman", // treatment spine + 1-row (n, T) broadcasts
    "q319_token_budget_plan", // 1-row Σ parts·tokens denominator broadcast
    "q320_fd_histogram", // 1-row (n, lo, hi, IQR, ∛n) stats broadcast
    "q336_t_closeness", // 1-row value-envelope + 1-row n_all broadcasts
    "q338_kendall_w", // 1-row n-items + 1-row (m, T) tie-total broadcasts
    "q334_lsh_band_plan", // |plans|-row (3) literal plan-spine broadcast
    "q345_krippendorff_alpha", // 1-row totals/De/rater-count broadcasts
    "q347_join_cardinality", // 1-row per-side totals + joint-agg broadcasts
    "q339_zonemap_prune", // 1-row ord-envelope + 4-row literal pred spine
    "q109_pmi_collocations", // 1-row N_uni and N_bi broadcasts
    "q138_temperature_mixture", // 1-row Σ n^0.7 normalizer broadcast
    "q141_rfm_segments", // 1-row quartile cut-point broadcast
    "q147_ks_test", // 1-row (n_a, n_b) totals broadcast
    "q148_price_histogram", // 1-row global min/max broadcast
    "q150_ewma_daily_revenue", // horizon+1-row literal weight table
    "q153_mutual_information", // 1-row total-count broadcast
    "q157_benford_digits", // 1-row digit-total broadcast
    "q159_pareto_share", // 1-row totals + 3-row percentile markers
    "q165_psi_drift", // 1-row range/totals broadcast
    "q166_emd_drift", // 1-row range/totals broadcast
    "q168_cuped_readout", // 1-row min-day broadcast
    "q169_jsd_drift", // 1-row range/totals broadcast
    "q170_srm_check", // 1-row unit-total broadcast
    "q173_vocab_coverage", // 1-row token-total broadcast
    "q174_xsplit_contamination", // 1-row hit-count broadcast
    "q176_kaplan_meier", // 1-row obs-end + subject-total broadcasts
    "q183_quantile_effect", // 1x1 variant-percentile-row broadcast
    "q184_decile_lift", // 1-row cut-point + total broadcasts
    "q185_stream_psi", // bins-sized (10-row) dense-spine broadcast
    "q186_stream_srm", // 3-row design-spine broadcast
    "q187_moe_rollup", // 1-row grand-total broadcast
    "q190_bm25_search", // 1-row (N, avgdl) broadcast
    "q192_topk_precision_recall", // 1-row total-positives broadcast
    "q207_temporal_split_embargo", // 1-row counts × 1-row gap cross join
    "q209_group_kfold", // 1-row integrity-count broadcast
    "q211_cusum_changepoint", // 1-row (n, S) totals + 1-row peak broadcast
    "q213_woe_iv", // 1-row class-totals + 1-row IV broadcast
    "q214_brier_logloss", // 1-row max-score broadcast
    "q216_countmin_topk", // 1-row sketch broadcast (the CMS point query)
    "q218_bigram_perplexity", // 1-row vocabulary-size broadcast
    "q220_mrr", // 1-row group-census broadcast
    "q226_target_encoding", // 1-row global-prior broadcast
    "q227_stratified_ate", // 1-row stratum-census broadcast
    "q238_cramers_v", // r×c margin spine + 1-row totals broadcast
    "q239_cronbach_alpha", // 1-row unit-census broadcast
    "q242_propensity_caliper", // 1-row matched-totals broadcast
    "q244_dsir_weights", // 1-row vocab-totals broadcast
    "q245_seq_pattern_support", // 1-row key-census broadcast
    "q247_naive_bayes_lang", // class-list + 1-row V/ndocs broadcasts
    "q248_clustering_coeff", // three 1-row count broadcasts
    "q250_hurst_rs", // 1-row OLS-slope broadcast
    "q252_fisher_exact", // 1-row observed-table broadcast
    "q260_markov_stationary", // 1-row mass-total broadcast
    "q262_weighted_kappa", // level spine + 1-row total broadcast
    "q264_nelson_aalen", // 1-row obs-end + subject-total broadcasts
    "q265_ancova", // 1-row pooled-moments broadcast
    "q266_tfidf_cosine_pairs", // 1-row doc-count broadcast
    "q267_burstiness", // 1-row day-span broadcast
    "q270_gini_split_gain", // 1-row parent-stats broadcast
    "q276_kl_sources", // source-list + 1-row totals broadcasts
    "q277_runs_test", // 1-row median broadcast
    "q278_keyness_g2", // 1-row target/rest-totals broadcast
    "q280_erasure_audit", // 1-row tombstone-census broadcast
    "q281_nb_margins", // class-list + 1-row V/ndocs broadcasts
    "q287_entropy_rate", // 1-row mass-total broadcast
    "q288_histogram_quantile", // 1-row total + exact-percentile broadcasts
    "q292_control_chart", // 1-row limits broadcast
    "q293_term_burstiness", // 1-row doc-census broadcast
    "q299_hill_tail", // 1-row k-th order statistic broadcast
    "q300_corpus_scorecard", // 1-row census + entropy broadcasts
    "q301_log_odds_prior", // 1-row vocab-totals broadcast
    "q302_bhattacharyya", // 1-row label-totals broadcast
    "q303_partition_agreement", // four 1-row pair-count broadcasts
    "q304_v_measure") // 1-row entropy broadcasts

  test("rank-filter pattern gets WindowGroupLimit pushdown (per-partition top-k, not full sort)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // the canonical top-k-per-group shape used across the inventory:
    // row_number over (partition, total order) filtered to <= k. Spark
    // inserts WindowGroupLimit, which keeps only k rows per group BEFORE
    // the window sort — the difference between sorting k rows and sorting
    // the group at 100 TB. Pin that our version/settings deliver it.
    val df = (1 to 100).map(i => (i % 5, i)).toDF("g", "v")
    val w = Window.partitionBy("g").orderBy(desc("v"), col("v"))
    val plan = df.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit in:\n$plan")
  }

  test("scan pruning: the shared scored-units table reads only the columns " +
      "each consumer needs (q191 drops seg; q200 keeps it; neither reads " +
      "o_orderdate)") {
    // q191/q200 share ONE scoredUnits definition that always selects
    // c_mktsegment; this pin proves Catalyst prunes it out of q191's
    // customer scan (the justification for sharing the helper instead of
    // hand-specializing per query), and that the orders scan never reads
    // columns beyond the custkey/totalprice the spend aggregate uses.
    val p191 = SparkEntry.queries("q191_auc_roc")(spark, sf)
      .queryExecution.executedPlan.toString
    val p200 = SparkEntry.queries("q200_group_auc")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p191.contains("c_mktsegment"),
      "q191 should prune the unused segment column from the customer scan")
    assert(p200.contains("c_mktsegment"),
      "q200 groups by segment — its scan must read it")
    Seq("q191" -> p191, "q200" -> p200).foreach { case (n, p) =>
      assert(!p.contains("o_orderdate") && !p.contains("o_orderpriority"),
        s"$n reads orders columns beyond custkey/totalprice")
    }
  }

  // Queries whose plan carries an explicit broadcast() hint on a table the
  // boundedness classifier below can't PROVE small — each entry is
  // (query -> allowed count) and the comment is the justification: the
  // hinted build is an aggregate over a BOUNDED DOMAIN (labels, classes,
  // bands, dates, vertex ids, vocab …) whose cardinality is a documented
  // contract of the operator, not corpus row count. A query hinting a
  // corpus-derived table (the q305 regression this audit exists for) has
  // no entry here and fails the audit.
  private val hintOk: Map[String, Int] = Map(
    // NOTE (r9): the customer/supplier/part catalog-dim hints were
    // REMOVED (AQE re-broadcasts them at fixture scale for free; the
    // catalogs scale with SF, unlike nation/region) — only bounded
    // domains and contract-parameterized tables remain below
    "q171_hhi_concentration" -> 1, // 25-row per-nation weight totals (hhi)
    // bounded-domain aggregates: the grouping key is a enum-like domain
    // (region, segment, event type, weekday, language, class, rating
    // level, Markov state, treatment, matrix row/col, source, bin/band/
    // bucket/dim index, cohort week) — cardinality is a documented
    // contract of the operator, independent of corpus row count
    "q06_derived_bundle" -> 1, // 25-row region rollup
    "q115_negative_sample" -> 2, // per-band minima (bands = literal)
    "q127_mad_outliers" -> 2, // per-group median + MAD tables
    "q130_chi_square" -> 2, // event_type (5) × weekday (7) margins
    "q153_mutual_information" -> 2, // category margins
    "q154_source_vocab_overlap" -> 1, // per-source vocab sizes
    "q177_seasonal_decomp" -> 1, // 7-row day-of-week seasonal table
    "q179_trimmed_stats" -> 1, // per-group trim bounds
    "q182_ltv_cohort" -> 1, // cohort-week census (time-bounded)
    "q185_stream_psi" -> 1, // 10-row bin spine
    "q188_weighted_median" -> 1, // (group × 32-bucket) prefix spine
    "q201_auc_bucketed" -> 1, // 32-row bucket prefix table
    "q208_map_at_10" -> 1, // per-segment relevant counts
    "q219_pca_covariance" -> 1, // 64-row dimension-sum tables
    "q237_brown_forsythe" -> 1, // per-group medians
    "q238_cramers_v" -> 1, // category margins
    "q246_info_gain" -> 1, // per-feature totals (literal feature panel)
    "q247_naive_bayes_lang" -> 2, // language-class tables
    "q281_nb_margins" -> 3, // language-class tables
    "q260_markov_stationary" -> 4, // state-vector π per power iteration (+1 checkpoint-captured)
    "q262_weighted_kappa" -> 1, // rating-level counts
    "q263_iqr_fences" -> 1, // per-group quartiles
    "q273_winsorized_stats" -> 1, // per-group winsor bounds
    "q276_kl_sources" -> 1, // per-source totals
    "q287_entropy_rate" -> 5, // state-vector π per power iteration (+1 checkpoint-captured)
    "q294_median_polish" -> 2, // matrix row/col median tables
    "q304_v_measure" -> 2, // label-marginal tables
    "q308_cohort_retention" -> 1, // cohort-week sizes (time-bounded)
    "q313_silhouette" -> 1, // per-label centroid vectors
    "q318_friedman" -> 1, // treatment-spine dedups (treatment domain)
    // single query vectors / probe lists / top-k rows / literal-derived
    // small sets the classifier can't see through a Window or filter
    "q24_similarity_cosine" -> 1, // one query embedding
    "q29_ann_lsh" -> 1, // query (vector, bucket) row
    "q39_ann_ivf" -> 1, // query + probe-cell list
    "q72_ann_quantized" -> 1, // quantized query row
    "q183_quantile_effect" -> 1, // one percentile-cut-point row
    "q299_hill_tail" -> 1, // k-th order statistic (1 row)
    "q190_bm25_search" -> 1, // df over the literal query-term set
    // batch-bounded ingest patches: ccIncremental's three broadcasts
    // (touched-endpoint ids, their label subset, the component remap)
    // are each ≤ 2·|batch edges| rows by the operator's contract —
    // the batch-sized quotient device that makes incremental CC
    // corpus-shuffle-free (Dedup.scala ccIncremental scaladoc)
    "q355_dedup_incremental_cc" -> 3,
    // same contract + the batch components' touched-set broadcast
    "q356_split_stable_ingest" -> 4,
    // bounded eval-panel broadcast (the q362 recall-truth query panel)
    "q362_ivf_recall_curve" -> 1,
    // the replay-idempotency self-exclusion (Dedup.indexWithoutIds): one
    // broadcast of the micro-batch's own id column per spooled ingest
    // day — batch-bounded by construction
    "q358_stream_ingest_dedup" -> 2,
    // same device in the prep-front composition loop
    "q370_stream_ingest_prep" -> 2,
    // the ccIncremental contract (3 batch-bounded hints) plus the
    // replay self-exclusion broadcast (the micro-batch's own id
    // column, r13) once per streaming micro-batch — two spooled
    // ingest days
    "q364_stream_cluster_maintenance" -> 8,
    // splitStableAssign's 5 batch-bounded hints (endpoints, label
    // subset, remap, touched set, inheritance table) plus the replay
    // self-exclusion (r13) per micro-batch — two spooled ingest days
    "q365_stream_split_stable" -> 12,
    // the patch-log loop (deferred relabel): per micro-batch, the
    // ccContract endpoint/patch broadcasts plus the folded-patch-map
    // resolve and compose broadcasts — every one bounded by total
    // MOVES (≤ accumulated batch edges), never the corpus; the
    // fold-into-base compaction re-bounds the map (IngestStreams
    // .foldPatchLog) — two spooled ingest days + the final census
    // resolve
    "q368_stream_cluster_patchlog" -> 9,
    // q368's order-dependent sibling: splitStableAssignPatch's
    // endpoint/remap/touched/inheritance broadcasts + the patch-map
    // resolve and compose per micro-batch, + the final census resolve —
    // all bounded by batch edges or total moves, never the corpus
    "q369_stream_split_patchlog" -> 13,
    // the q368 patch-log contract over FOUR spooled days with the
    // auto-fold live: per batch the ccContract endpoint/patch/
    // self-exclusion broadcasts, plus the patch-map resolve/compose
    // and the fold's own resolved read — every hinted frame bounded
    // by batch edges or total moves, never the corpus
    "q374_stream_autofold_patchlog" -> 17,
    // the bounded eval-panel broadcast (q362's convention): the PQ
    // panel's (qid, vector) rows — calibration-bounded by contract
    // (the ADC lut frame is a LocalRelation the classifier proves)
    "q375_pq_panel_topk" -> 1,
    // q358's replay self-exclusion device under the mid-stream
    // compaction twin (same loop body, shared oracle with q358)
    "q377_stream_dedup_compact" -> 2,
    // the prep loop's self-exclusion broadcasts plus the benchmark
    // 5-gram set (the q63 decontamination convention: benchmark-sized
    // by contract, never the corpus). The gram set now pins ONCE
    // before the stream (a LogicalRDD the classifier can't prove) and
    // is re-broadcast at day-0 staging + each of the two micro-batches
    // — 3 gram-set hints + 2 replay self-exclusion hints
    "q379_stream_ingest_decon" -> 5,
    // retrieval-batch broadcasts (the q362/q375 panel convention): a
    // serving batch is bounded by CONTRACT, independent of corpus size
    // — the fixture derives the panel from doc_id % 50 only as a
    // stand-in for an external query batch. Hinted frames: the panel's
    // non-zero postings (lexical leg) and/or the panel's (vector,
    // norm) rows (vector leg / candidate generator)
    "q378_hybrid_retrieval" -> 2, // lexical panel postings + vector panel
    "q380_hybrid_retrieval_ivf" -> 1, // lexical panel postings
    "q381_hard_negatives" -> 1, // anchor panel (vectors + labels)
    "q382_contrastive_triplets" -> 1, // anchor panel (both legs share it)
    "q383_mmr_diversify" -> 1, // query panel of the candidate generator
    "q385_lexical_index_staged" -> 1, // panel postings slice
    "q386_lexical_idf_drift" -> 2, // panel postings, fresh + frozen serves
    "q387_hybrid_staged" -> 1, // panel postings slice
    "q388_stream_lexical_ingest" -> 1, // panel postings slice
    // panel postings + the 1-row maintained-N frame (a stats-log fold
    // read — vocabulary × days sized — not a corpus aggregate, so the
    // bounded() classifier can't prove it)
    "q389_stream_lexical_stats" -> 2,
    // documented small-by-contract reference sets
    "q122_fuzzy_names" -> 1, // reference name list (lookup-table side)
    "q210_jaro_winkler_pairs" -> 1, // reference name list
    "q63_decontaminate" -> 1, // benchmark n-gram set
    "q68_training_prep_pack" -> 1, // benchmark n-gram set
    "q90_bloom_decontaminate" -> 2, // Bloom-hit candidate set (≈true hits)
    "q280_erasure_audit" -> 1, // tombstone (deletion-request) list
    // vertex-sized graph tables: the Graph contract (a vertex set past
    // the broadcast budget is out of scope; ScaleSpec pins the hints).
    // Counts include the construction-time capture of per-iteration
    // checkpoint executions (each iteration's hinted vertex table
    // canonicalizes distinctly because it builds on that round's
    // checkpoint RDD) — stable while the default iteration counts are
    "q110_hits_ranking" -> 4, // per-iter hub/authority score tables
    "q140_pagerank" -> 5, // out-degree + rank + per-iter sum tables
    "q160_triangle_count" -> 1, // degree table (orientation join)
    "q248_clustering_coeff" -> 1, // degree table (orientation join)
    "q284_dag_layers" -> 1, // degree table (orientation join)
    "q249_degree_assortativity" -> 1, // endpoint degree tables ×2 arms
    // vocabulary-sized document-frequency tables, always broadcast
    // (Zipf-sublinear; ScaleSpec pins the hints) — the Graph contract
    // shape. These hints sit BEHIND the candidate checkpoint since the r9-close
    // trim, so they surface via the construction-time capture below
    "q305_weighted_jaccard_banded" -> 1,
    "q326_ngram_containment_banded" -> 1,
    "q331_tfidf_cosine_banded" -> 1)

  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate,
    GlobalLimit, Join, LocalRelation, LogicalPlan, OneRowRelation, Union,
    UnaryNode, Range => LRange}
  import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
    LogicalRelation}

  // fixed-cardinality TPC-H dimension scans: nation (25) / region (5)
  private def dimScan(p: LogicalPlan): Boolean = p match {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation =>
        val paths = fs.location.rootPaths.map(_.toString)
        paths.nonEmpty && paths.forall(s =>
          s.contains("nation.parquet") || s.contains("region.parquet"))
      case _ => false
    }
    case _ => false
  }
  // provably LOW-CARDINALITY grouping expression, independent of corpus
  // size: spark_partition_id() (≤ the configured shuffle-partition
  // count — the Ranked-device spine) and short prefixes of a hex digest
  // (≤ 16^len values — the TrainOrder.shardAssign spine). Attributes
  // deref through the subtree's Alias definitions so groupBy("__b")
  // proves even though the defining substring sits in a lower Project.
  private def lowCardGrouping(a: Aggregate): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Alias,
      AttributeReference, Cast, ExprId, Expression, Literal, Md5, Sha1,
      Sha2, SparkPartitionID, Substring}
    val defs: Map[ExprId, Expression] = a.child.collect { case n =>
      n.expressions.flatMap(_.collect { case al: Alias =>
        al.exprId -> al.child })
    }.flatten.toMap
    def deref(e: Expression, depth: Int = 0): Expression = e match {
      case ar: AttributeReference if depth < 32 =>
        defs.get(ar.exprId).map(deref(_, depth + 1)).getOrElse(ar)
      case al: Alias => deref(al.child, depth + 1)
      case c: Cast => deref(c.child, depth + 1)
      case other => other
    }
    def isDigest(e: Expression): Boolean = deref(e) match {
      case _: Md5 | _: Sha1 | _: Sha2 => true
      case _ => false
    }
    a.groupingExpressions.nonEmpty && a.groupingExpressions.forall(g =>
      deref(g) match {
        case _: SparkPartitionID => true
        case Substring(str, Literal(1, _), Literal(len: Int, _)) =>
          len <= 4 && isDigest(str)
        case _ => false
      })
  }

  // provably row-bounded regardless of input scale: global (1-row)
  // aggregates, aggregates grouped by provably-low-cardinality keys,
  // literal relations, small ranges, literal-bounded limits, dim scans
  // — closed under project/filter/window/generate-over-literal-spines,
  // joins and unions of bounded sides, and grouped aggs over bounded
  // children
  private def bounded(p: LogicalPlan): Boolean = p match {
    case a: Aggregate => a.groupingExpressions.isEmpty ||
      bounded(a.child) || lowCardGrouping(a)
    case _: LocalRelation => true
    case _: OneRowRelation => true
    case r: LRange => r.numElements <= BigInt(100000)
    case g: GlobalLimit => g.maxRows.exists(_ <= 100000L) || bounded(g.child)
    case j: Join => bounded(j.left) && bounded(j.right)
    case u: Union => u.children.forall(bounded)
    case l if dimScan(l) => true
    case u: UnaryNode => bounded(u.child)
    case _ => false
  }

  /** Analyzed plan of each query PLUS every construction-time execution.
    * Operators that localCheckpoint internally EXECUTE those stages
    * eagerly at construction time, truncating them out of the final
    * DataFrame's analyzed plan — a corpus-sized broadcast (or window)
    * could hide behind a checkpoint and a plain plan walk would never
    * see it. Capture every construction-time execution via a
    * QueryExecutionListener and audit those plans too (suites run
    * sequentially in the forked test JVM, so the capture can't pick up
    * foreign executions). Calls `audit(name, plans)` per query and
    * returns the concatenated violations. */
  private def auditAllQueryPlans(
      audit: (String, Seq[LogicalPlan]) => Seq[String]): Seq[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        captured.add(qe.analyzed)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    def drain(): Unit =
      org.apache.spark.sql.graft.ListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        drain(); captured.clear()
        val analyzed =
          try fn(spark, sf).queryExecution.analyzed
          catch { case e: Throwable => fail(s"$name failed to analyze: $e") }
        drain()
        val plans = analyzed +:
          scala.jdk.CollectionConverters.IteratorHasAsScala(
            captured.iterator).asScala.toSeq
        audit(name, plans)
    } finally spark.listenerManager.unregister(listener)
  }

  test("explicit broadcast() hints only on provably bounded builds or " +
      "whitelisted bounded-domain tables — never a corpus-sized table") {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST,
      ResolvedHint}
    val violations = auditAllQueryPlans { (name, plans) =>
      val hinted = plans.flatMap(_.collect {
        case ResolvedHint(child, hints)
          if hints.strategy.contains(BROADCAST) => child
      })
      // one hint SITE can appear many times across the analyzed trees
      // (an un-deduplicated subtree referenced from several branches,
      // or one checkpoint stage feeding another): count distinct
      // canonical subtrees, not occurrences
      val unproven = hinted.filterNot(bounded)
        .groupBy(_.canonicalized).map(_._2.head).toSeq
      if (unproven.size > hintOk.getOrElse(name, 0))
        unproven.map(c => s"$name: broadcast hint on unproven " +
          s"${c.nodeName}[${c.output.map(_.name).mkString(",")}]")
      else Nil
    }
    assert(violations.isEmpty, violations.mkString("\n"))
  }

  // queries whose plan legitimately carries an UNPARTITIONED window the
  // bounded() classifier can't prove: each entry names the spine and
  // why its row count is independent of (or saturating in) corpus
  // size. Value = number of distinct canonical unproven global-window
  // children allowed. NOT whitelisted (fixed instead, r13): the
  // corpus-proportional windows — per-doc ntile (q124/q193/q286/q295),
  // per-supplier rank/cumsum (q149/q159), per-unit Spearman ranks
  // (q203), the doc-grain Heaps cumulative (q274) — all re-platformed
  // onto the distributed Ranked prefix device, whose partition spine
  // the classifier PROVES via its spark_partition_id grouping.
  private val globalWinOk: Map[String, Int] = Map(
    // day-grain spines: grouped by calendar day — bounded by the time
    // domain (~2.4k days in the fixture window; thousands at any
    // corpus size), not by rows
    "q163_calendar_gap_fill" -> 1, "q164_rolling_corr" -> 1,
    "q177_seasonal_decomp" -> 2, "q197_compaction_plan" -> 1,
    "q211_cusum_changepoint" -> 2, "q250_hurst_rs" -> 1,
    "q271_peak_detection" -> 4, "q277_runs_test" -> 1,
    "q292_control_chart" -> 1, "q298_seasonal_index" -> 2,
    "q325_sequential_monitor" -> 1,
    // event-time spines (distinct event days of the survival tables) —
    // the same calendar bound
    "q176_kaplan_meier" -> 2, "q264_nelson_aalen" -> 2,
    "q309_log_rank" -> 2,
    // literal bin / band / decile spines: grouped by a bounded bucket
    // expression (10–32 values by construction) — the classifier can't
    // see the bucket arithmetic's range
    "q166_emd_drift" -> 1, "q184_decile_lift" -> 1,
    "q201_auc_bucketed" -> 1, "q223_qini_uplift" -> 4,
    "q288_histogram_quantile" -> 1, "q336_t_closeness" -> 1,
    // vocabulary spines — Zipf-sublinear in the corpus (the banded
    // near-dup operators' vocabulary broadcast precedent)
    "q134_zipf_fit" -> 1, "q173_vocab_coverage" -> 1,
    // count-histogram spine (distinct key-count VALUES, which saturate
    // far below key cardinality — Skew.keyDistribution's spine)
    "q123_skew_report" -> 1,
    // WindowGroupLimit-bounded: the rk ≤ max(ks) filter sits directly
    // above the row_number window, so the single-partition sort reads
    // max(ks) rows per map partition, not the corpus (the rank-filter
    // pushdown this suite pins above)
    "q192_topk_precision_recall" -> 1,
    // k-th-order-statistic tail: the window runs over the top-k rows
    // selected by a bounded ordered take (k by contract)
    "q299_hill_tail" -> 1)

  test("unpartitioned Window (single-partition at scale) only over " +
      "provably bounded or whitelisted spine frames — never the corpus") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val violations = auditAllQueryPlans { (name, plans) =>
      val global = plans.flatMap(_.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w.child
      })
      val unproven = global.filterNot(bounded)
        .groupBy(_.canonicalized).map(_._2.head).toSeq
      if (unproven.size > globalWinOk.getOrElse(name, 0))
        unproven.map(c => s"$name: unpartitioned window over unproven " +
          s"${c.nodeName}[${c.output.map(_.name).mkString(",")}]")
      else Nil
    }
    assert(violations.isEmpty, violations.mkString("\n"))
  }

  test("no CartesianProduct in any query plan; BNLJ only on whitelisted 1-row builds") {
    val violations = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan =
        try fn(spark, sf).queryExecution.executedPlan.toString
        catch { case e: Throwable => fail(s"$name failed to plan: $e") }
      val cart = if (plan.contains("CartesianProduct")) Seq(s"$name: CartesianProduct") else Nil
      val bnlj = if (plan.contains("BroadcastNestedLoopJoin") && !bnljOk(name))
        Seq(s"$name: unexpected BroadcastNestedLoopJoin") else Nil
      cart ++ bnlj
    }
    assert(violations.isEmpty, violations.mkString("\n"))
  }
}
