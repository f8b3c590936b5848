package graft

import org.apache.spark.sql.functions._
import Queries.QDef

/** Scale-engineering & release-audit batch (q336+): t-closeness (the
  * privacy-ladder member k-anonymity/l-diversity miss), standardized
  * effect sizes, Kendall's concordance, zone-map pruning evaluation,
  * salt-factor planning, and Bloom-filter sizing. Same oracle
  * conventions as [[Queries]] (FIXTURES.md): integer quantization
  * before cross-row sums, Seal-device integer rounding on exact
  * rationals, dense literal spines, total ORDER BY.
  */
object PlanningQueries {
  private def T(s: org.apache.spark.sql.SparkSession, dir: String, n: String) =
    Tables.t(s, dir, n)

  /** [[Privacy.tClosenessReport]]: per (segment × nation) equivalence
    * class, the normalized 1-D Wasserstein distance between the class's
    * account-balance distribution (10 equal-width bins of the global
    * cent range) and the whole table's — the release gate that catches
    * a class leaking "this group is rich" even when it clears k and l. */
  private val q336 = QDef("q336_t_closeness",
    (s, dir) => Privacy.tClosenessReport(T(s, dir, "customer"),
      Seq("seg" -> col("c_mktsegment"),
        "nk" -> col("c_nationkey").cast("long")),
      expr("CAST(round(c_acctbal * 100, 0) AS BIGINT)"), bins = 10)
      .orderBy("seg", "nk"),
    Some(s"""WITH b AS (SELECT c_mktsegment AS seg,
      |        CAST(c_nationkey AS BIGINT) AS nk,
      |        CAST(round(c_acctbal * 100, 0) AS BIGINT) AS v
      |      FROM customer WHERE c_acctbal IS NOT NULL
      |        AND c_mktsegment IS NOT NULL AND c_nationkey IS NOT NULL),
      |env AS (SELECT min(v) AS lo, max(v) AS hi FROM b),
      |bi AS (SELECT seg, nk, ((v - lo) * 10) // (hi - lo + 1) AS bin
      |       FROM b CROSS JOIN env),
      |cells AS (SELECT seg, nk, bin, count(*) AS c FROM bi GROUP BY 1, 2, 3),
      |grp AS (SELECT seg, nk, sum(c) AS n_g FROM cells GROUP BY 1, 2),
      |spine AS (SELECT seg, nk, n_g, unnest(range(0, 10)) AS bin FROM grp),
      |dense AS (SELECT s.seg, s.nk, s.n_g, s.bin, coalesce(c.c, 0) AS c
      |          FROM spine s LEFT JOIN cells c
      |          ON s.seg = c.seg AND s.nk = c.nk AND s.bin = c.bin),
      |gc AS (SELECT bin, sum(c) AS cb FROM dense GROUP BY 1),
      |gcum AS (SELECT bin, CAST(sum(cb) OVER (ORDER BY bin) AS BIGINT)
      |           AS cum_all FROM gc),
      |na AS (SELECT sum(cb) AS n_all FROM gc),
      |cums AS (SELECT seg, nk, n_g, bin,
      |         CAST(sum(c) OVER (PARTITION BY seg, nk ORDER BY bin)
      |           AS BIGINT) AS cum_g
      |         FROM dense),
      |terms AS (SELECT seg, nk, n_g, n_all,
      |          abs(CAST(cum_g AS HUGEINT) * n_all
      |            - CAST(cum_all AS HUGEINT) * n_g) AS term
      |          FROM cums JOIN gcum USING (bin) CROSS JOIN na),
      |fin AS (SELECT seg, nk, n_g, sum(term) AS emd_num,
      |        CAST(n_g AS HUGEINT) * n_all * 9 AS emd_den
      |        FROM terms GROUP BY 1, 2, 3, n_all)
      |SELECT seg, nk, CAST(n_g AS BIGINT) AS n,
      |  ${Seal.sqlRatio4("emd_num", "emd_den")} AS t_emd
      |FROM fin ORDER BY seg, nk""".stripMargin))

  /** [[Trend.effectSizePanel]]: Cohen's d / Hedges' g / Glass's Δ of
    * document length between the q165/q166 drift slices — the MAGNITUDE
    * readout next to their drift scores. */
  private val q337 = QDef("q337_effect_sizes",
    (s, dir) => Trend.effectSizePanel(T(s, dir, "documents"),
      col("source"), col("n_chars"), "src0", "src1"),
    Some(s"""WITH g AS (SELECT source AS l, CAST(n_chars AS BIGINT) AS v
      |      FROM documents WHERE source IN ('src0', 'src1')
      |        AND n_chars IS NOT NULL),
      |s AS (SELECT
      |    CAST(sum(CASE WHEN l = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN l = 'src0' THEN v ELSE 0 END) AS BIGINT) AS s_a,
      |    sum(CASE WHEN l = 'src0' THEN CAST(v AS HUGEINT) * v
      |        ELSE CAST(0 AS HUGEINT) END) AS ss_a,
      |    CAST(sum(CASE WHEN l = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN l = 'src1' THEN v ELSE 0 END) AS BIGINT) AS s_b,
      |    sum(CASE WHEN l = 'src1' THEN CAST(v AS HUGEINT) * v
      |        ELSE CAST(0 AS HUGEINT) END) AS ss_b
      |  FROM g),
      |t AS (SELECT n_a, n_b, s_a, s_b,
      |    CAST(n_a AS HUGEINT) * ss_a - CAST(s_a AS HUGEINT) * s_a AS ssq_a,
      |    CAST(n_b AS HUGEINT) * ss_b - CAST(s_b AS HUGEINT) * s_b AS ssq_b
      |  FROM s),
      |u AS (SELECT n_a, n_b, ssq_a, ssq_b,
      |    CAST(s_a AS HUGEINT) * n_b - CAST(s_b AS HUGEINT) * n_a AS md_num,
      |    CAST(nullif(n_a, 0) AS HUGEINT) * nullif(n_b, 0) AS md_den
      |  FROM t),
      |v2 AS (SELECT n_a, n_b, ssq_b, md_num, md_den,
      |    CAST(md_num AS DOUBLE) / CAST(md_den AS DOUBLE) AS mdiff,
      |    (CAST(ssq_a AS DOUBLE) / CAST(nullif(n_a, 0) AS DOUBLE)
      |     + CAST(ssq_b AS DOUBLE) / CAST(nullif(n_b, 0) AS DOUBLE))
      |      / CAST(nullif(n_a + n_b - 2, 0) AS DOUBLE) AS sp2
      |  FROM u),
      |v3 AS (SELECT n_a, n_b, md_num, md_den, mdiff,
      |    mdiff / nullif(sqrt(sp2), 0.0) AS d_raw,
      |    nullif(sqrt(CAST(ssq_b AS DOUBLE) /
      |      CAST(nullif(CAST(n_b AS HUGEINT) * (n_b - 1), 0) AS DOUBLE)),
      |      0.0) AS sd_b
      |  FROM v2)
      |SELECT 'src0' AS label_a, 'src1' AS label_b, n_a, n_b,
      |  ${Seal.sqlRatio4("md_num", "md_den")} AS mean_diff,
      |  round(d_raw, 4) AS cohens_d,
      |  round(d_raw * (1.0 - 3.0 /
      |    CAST(nullif(4 * (n_a + n_b - 2) - 1, 0) AS DOUBLE)), 4)
      |    AS hedges_g,
      |  round(mdiff / sd_b, 4) AS glass_delta
      |FROM v3""".stripMargin))

  /** [[Inference.kendallW]]: do the five event streams agree on WHICH
    * weekdays carry the value? Judges = event types, items = ISO
    * weekdays, value = total event cents per (type, dow) — W near 1
    * means one weekly shape, W near 0 means each stream peaks on its
    * own days. */
  private val q338 = QDef("q338_kendall_w",
    (s, dir) => {
      val per = T(s, dir, "events")
        .where(col("ts").isNotNull && col("value").isNotNull)
        .groupBy(col("event_type").as("j"),
          (weekday(col("ts")) + 1).cast("long").as("dow"))
        .agg(sum(expr("CAST(round(value * 100, 0) AS BIGINT)")).as("cents"))
      Inference.kendallW(per, col("j"), col("dow"), col("cents"))
    },
    Some(s"""WITH per AS (SELECT event_type AS j,
      |        CAST(isodow(ts) AS BIGINT) AS dow,
      |        sum(CAST(round(value * 100, 0) AS BIGINT)) AS x
      |      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      |      GROUP BY 1, 2),
      |nn AS (SELECT count(DISTINCT dow) AS n FROM per),
      |comp AS (SELECT j FROM per GROUP BY j
      |         HAVING count(*) = (SELECT n FROM nn)
      |           AND count(DISTINCT dow) = (SELECT n FROM nn)),
      |d AS (SELECT per.* FROM per JOIN comp USING (j)),
      |byv AS (SELECT j, x, count(*) AS m FROM d GROUP BY 1, 2),
      |sp AS (SELECT j, x, m,
      |        CAST(sum(m) OVER (PARTITION BY j ORDER BY x) AS BIGINT)
      |          AS cum,
      |        m * m * m - m AS tc
      |       FROM byv),
      |rk AS (SELECT d.dow, 2 * sp.cum - sp.m + 1 AS r2
      |       FROM d JOIN sp ON d.j = sp.j AND d.x = sp.x),
      |isum AS (SELECT dow, CAST(sum(r2) AS BIGINT) AS r2j
      |         FROM rk GROUP BY 1),
      |ties AS (SELECT count(DISTINCT j) AS m,
      |          coalesce(CAST(sum(tc) AS BIGINT), 0) AS t FROM sp),
      |ag AS (SELECT m, t, count(*) AS n,
      |        sum(CAST(r2j AS HUGEINT) * r2j) AS sr2
      |       FROM isum CROSS JOIN ties GROUP BY 1, 2),
      |fin AS (SELECT m, n, t,
      |        sr2 - CAST(n AS HUGEINT) * m * m * (n + 1) * (n + 1) AS s4
      |       FROM ag),
      |fr AS (SELECT m, n,
      |        3 * s4 AS wnum,
      |        nullif(CAST(m AS HUGEINT) * m *
      |          (CAST(n AS HUGEINT) * n * n - n)
      |          - CAST(m AS HUGEINT) * t, 0) AS wden,
      |        3 * s4 * (n - 1) AS cnum,
      |        nullif(CAST(m AS HUGEINT) *
      |          (CAST(n AS HUGEINT) * n * n - n) - t, 0) AS cden
      |       FROM fin)
      |SELECT CAST(m AS BIGINT) AS k_judges, CAST(n AS BIGINT) AS n_items,
      |  ${Seal.sqlRatio4("wnum", "wden")} AS w,
      |  ${Seal.sqlRatio4("cnum", "cden")} AS chi2
      |FROM fr""".stripMargin))

  /** [[Layout.zonemapPruneEval]] over lineitem (suppkey × partkey, low
    * 8 bits, 64 simulated files): the measured file-skipping table
    * behind the q142 Z-order layout — natural order prunes nothing,
    * sort-by-suppkey prunes only suppkey predicates, Z-order prunes
    * both dimensions. */
  private val q339 = QDef("q339_zonemap_prune",
    (s, dir) => Layout.zonemapPruneEval(T(s, dir, "lineitem"),
      col("l_orderkey"), col("l_suppkey"), col("l_partkey"),
      bits = 8, files = 64,
      preds = Seq(
        ("x_0_15", Some((0L, 15L)), None),
        ("x_64_127", Some((64L, 127L)), None),
        ("xy_0_15", Some((0L, 15L)), Some((0L, 15L))),
        ("y_0_15", None, Some((0L, 15L))))),
    Some(s"""WITH b AS (SELECT CAST(l_orderkey AS BIGINT) AS o,
      |        (CAST(l_suppkey AS BIGINT) & 255) AS xm,
      |        (CAST(l_partkey AS BIGINT) & 255) AS ym,
      |        ${Layout.zorderSql("l_suppkey", "l_partkey", 8)} AS z
      |      FROM lineitem WHERE l_orderkey IS NOT NULL),
      |env AS (SELECT min(o) AS lo_o, max(o) AS hi_o FROM b),
      |asn AS (
      |  SELECT 'natural' AS layout,
      |    ((o - lo_o) * 64) // (hi_o - lo_o + 1) AS f, xm, ym
      |  FROM b CROSS JOIN env
      |  UNION ALL
      |  SELECT 'sort_x', (xm * 64) // 256, xm, ym FROM b
      |  UNION ALL
      |  SELECT 'zorder', z >> 10, xm, ym FROM b),
      |zones AS (SELECT layout, f, count(*) AS n_rows,
      |        min(xm) AS x_min, max(xm) AS x_max,
      |        min(ym) AS y_min, max(ym) AS y_max
      |      FROM asn GROUP BY 1, 2),
      |tot AS (SELECT layout, count(*) AS n_files, sum(n_rows) AS rows_total
      |        FROM zones GROUP BY 1),
      |preds AS (SELECT * FROM (VALUES
      |    ('x_0_15', 0, 15, NULL, NULL),
      |    ('x_64_127', 64, 127, NULL, NULL),
      |    ('xy_0_15', 0, 15, 0, 15),
      |    ('y_0_15', NULL, NULL, 0, 15))
      |  AS p(predicate, xlo, xhi, ylo, yhi)),
      |kept AS (SELECT layout, predicate,
      |        sum(CASE WHEN coalesce(x_max >= xlo, TRUE)
      |              AND coalesce(x_min <= xhi, TRUE)
      |              AND coalesce(y_max >= ylo, TRUE)
      |              AND coalesce(y_min <= yhi, TRUE)
      |            THEN 1 ELSE 0 END) AS n_files_kept,
      |        sum(CASE WHEN coalesce(x_max >= xlo, TRUE)
      |              AND coalesce(x_min <= xhi, TRUE)
      |              AND coalesce(y_max >= ylo, TRUE)
      |              AND coalesce(y_min <= yhi, TRUE)
      |            THEN n_rows ELSE 0 END) AS rows_scanned
      |      FROM zones CROSS JOIN preds GROUP BY 1, 2),
      |fin AS (SELECT k.layout, k.predicate,
      |        CAST(t.n_files AS BIGINT) AS n_files,
      |        CAST(k.n_files_kept AS BIGINT) AS n_files_kept,
      |        CAST(k.rows_scanned AS BIGINT) AS rows_scanned,
      |        t.n_files - k.n_files_kept AS n_pruned, t.rows_total
      |      FROM kept k JOIN tot t USING (layout))
      |SELECT layout, predicate, n_files, n_files_kept, rows_scanned,
      |  ${Seal.sqlRatio4("n_pruned", "n_files")} AS files_pruned_share,
      |  ${Seal.sqlRatio4("rows_scanned", "rows_total")} AS rows_scanned_share
      |FROM fin ORDER BY layout, predicate""".stripMargin))

  /** [[Skew.saltPlanEval]] on the event-type shuffle key (a handful of
    * hot values by construction): the diminishing-returns table that
    * picks the salt factor for [[Skew.saltedJoin]]. */
  private val q340 = QDef("q340_salt_plan",
    (s, dir) => Skew.saltPlanEval(T(s, dir, "events"),
      col("event_type"), col("event_id"), Seq(1, 2, 4, 8, 16)),
    Some(s"""WITH fine AS (SELECT event_type AS k, event_id % 16 AS salt,
      |        count(*) AS c
      |      FROM events WHERE event_type IS NOT NULL
      |        AND event_id IS NOT NULL
      |      GROUP BY 1, 2),
      |fx AS (SELECT unnest([1, 2, 4, 8, 16]) AS s),
      |per AS (SELECT s, k, salt % s AS ss, sum(c) AS c
      |        FROM fine CROSS JOIN fx GROUP BY 1, 2, 3),
      |agg AS (SELECT s, count(*) AS n_buckets, sum(c) AS n_rows,
      |        max(c) AS max_bucket_rows
      |       FROM per GROUP BY 1)
      |SELECT CAST(s AS BIGINT) AS salt_factor,
      |  CAST(n_buckets AS BIGINT) AS n_buckets,
      |  CAST(n_rows AS BIGINT) AS n_rows,
      |  CAST(max_bucket_rows AS BIGINT) AS max_bucket_rows,
      |  ${Seal.sqlRatio4("max_bucket_rows", "n_rows")} AS hotspot_share
      |FROM agg ORDER BY salt_factor""".stripMargin))

  /** [[Decontaminate.bloomPlan]] sizing the q90 passage bitset: distinct
    * 10-token passages of the doc_id < 250 corpus side, tabulated over
    * bits/key × hash-count candidates with the information-optimal hash
    * count flagged per row. */
  private val q341 = QDef("q341_bloom_plan",
    (s, dir) => Decontaminate.bloomPlan(
      T(s, dir, "documents").where(col("doc_id") < 250), col("text"),
      k = 10, bitsPerKey = Seq(8, 12, 16, 20), maxHashes = 8),
    Some {
      val powCase = (1 to 8).map(i =>
        s"WHEN h = $i THEN ${Seq.fill(i)("b1").mkString(" * ")}")
        .mkString("CASE ", " ", " END")
      val denCase = (1 to 8).map(i =>
        s"WHEN h = $i THEN CAST('${java.math.BigInteger.TEN.pow(4 * i - 4)}' AS HUGEINT)")
        .mkString("CASE ", " ", " END")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
      |      FROM documents WHERE doc_id < 250),
      |ch AS (SELECT array_to_string(tk[(i-1)*10+1:(i-1)*10+10], ' ') AS p
      |       FROM t, LATERAL unnest(range(1,
      |         CAST(floor(len(tk)/10) AS BIGINT)+1)) AS r(i)),
      |nk AS (SELECT count(DISTINCT p) AS n_keys FROM ch),
      |sp AS (SELECT n_keys, b, h
      |       FROM nk, unnest([8, 12, 16, 20]) AS bb(b),
      |         unnest(range(1, 9)) AS hh(h)),
      |c1 AS (SELECT n_keys, b, h,
      |        CAST(round(exp(-CAST(h AS DOUBLE) / CAST(b AS DOUBLE))
      |          * 100000000.0, 0) AS BIGINT) AS e8
      |       FROM sp),
      |c2 AS (SELECT n_keys, b, h,
      |        CAST((2 * (100000000 - e8) + 10000) // 20000 AS HUGEINT)
      |          AS b1
      |       FROM c1),
      |c3 AS (SELECT n_keys, b, h, $powCase AS fprnum, $denCase AS pden
      |       FROM c2),
      |fin AS (SELECT CAST(n_keys AS BIGINT) AS n_keys,
      |        CAST(b AS BIGINT) AS bits_per_key,
      |        CAST(h AS BIGINT) AS n_hashes,
      |        CAST(n_keys * b AS BIGINT) AS m_bits,
      |        CAST((2 * fprnum + pden) // (2 * pden) AS DOUBLE) / 10000.0
      |          AS fpr,
      |        h = ((2 * b * 693147 + 1000000) // 2000000) AS is_optimal_h
      |       FROM c3)
      |SELECT * FROM fin ORDER BY bits_per_key, n_hashes""".stripMargin
    })

  /** [[Staging.stageZordered]] roundtrip — the EXECUTED z-order layout
    * that q339 only scores by simulation. Like q101 this IS the sink
    * operator, side effects included: stage events z-order-clustered by
    * (user bucket × cent bucket), read back through a BOTH-dimension
    * range predicate (the scan shape whose files real parquet zone maps
    * skip — actual file-level pruning is pinned in
    * [[graft.ScaleSpec]]), aggregate per type. Oracle: the same
    * aggregate straight off the original table. */
  private val q342 = QDef("q342_zorder_stage",
    (s, dir) => {
      val path = java.nio.file.Files
        .createTempDirectory("graft_zorder_q342").toString
      val e = T(s, dir, "events")
        .where(col("user_id").isNotNull && col("value").isNotNull &&
          col("event_type").isNotNull)
        .select(col("event_type"),
          expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"),
          pmod(col("user_id"), lit(32L)).as("xb"))
        .withColumn("yb", pmod(col("cents"), lit(32L)))
      Staging.stageZordered(e, path, 16, 5, col("xb"), col("yb"))
      s.read.parquet(path)
        .where(col("xb") <= 7 && col("yb") <= 7)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("cents").as("total_cents"))
        .orderBy("event_type")
    },
    Some("""WITH e AS (SELECT event_type,
      |        CAST(round(value * 100, 0) AS BIGINT) AS cents,
      |        user_id % 32 AS xb
      |      FROM events
      |      WHERE user_id IS NOT NULL AND value IS NOT NULL
      |        AND event_type IS NOT NULL),
      |f AS (SELECT event_type, cents
      |      FROM (SELECT *, cents % 32 AS yb FROM e)
      |      WHERE xb <= 7 AND yb <= 7)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(cents) AS BIGINT) AS total_cents
      |FROM f GROUP BY 1 ORDER BY event_type""".stripMargin))

  /** [[Packing.packPlanEval]]: the sequence-length budget sweep — for
    * each candidate budget, one-doc-per-slot padding efficiency vs
    * concat-then-split span-packing utilization from one corpus scan.
    * The "measure, don't guess" readout behind the q62/q75/q321 budget
    * knob: the gap between the two columns is what a real packer buys
    * at that length. */
  private val q343 = QDef("q343_pack_plan",
    (s, dir) => Packing.packPlanEval(
      T(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(col("source"), size(split(col("text"), " ")).as("nt")),
      col("nt"), col("source"), Seq(128L, 256L, 512L, 1024L)),
    Some(s"""WITH d AS (SELECT source AS sh,
      |        CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      |      FROM documents
      |      WHERE text IS NOT NULL AND source IS NOT NULL
      |        AND len(string_split(text, ' ')) > 0),
      |bs AS (SELECT unnest([128, 256, 512, 1024]) AS b),
      |pd AS (SELECT b, CAST(count(*) AS BIGINT) AS n_docs,
      |        CAST(sum(nt) AS BIGINT) AS tokens,
      |        CAST(sum((nt + b - 1) // b) AS BIGINT) AS slots
      |      FROM d CROSS JOIN bs GROUP BY 1),
      |ps0 AS (SELECT sh, CAST(sum(nt) AS BIGINT) AS st FROM d GROUP BY 1),
      |ps AS (SELECT b, CAST(sum((st + b - 1) // b) AS BIGINT) AS chunks
      |      FROM ps0 CROSS JOIN bs GROUP BY 1),
      |fin AS (SELECT CAST(pd.b AS BIGINT) AS budget, n_docs, tokens,
      |        slots, CAST(slots AS HUGEINT) * pd.b AS pcap,
      |        chunks, CAST(chunks AS HUGEINT) * pd.b AS scap
      |      FROM pd JOIN ps USING (b))
      |SELECT budget, n_docs, tokens, slots,
      |  ${Seal.sqlRatio4("tokens", "pcap")} AS pad_efficiency,
      |  chunks,
      |  ${Seal.sqlRatio4("tokens", "scap")} AS span_utilization
      |FROM fin ORDER BY budget""".stripMargin))

  /** [[Curate.ngramDiversity]]: corpus n-gram diversity census per
    * source for n = 1, 2, 3 — distinct-gram ratio and hapax share, the
    * templated-data detector per-doc repetition metrics miss. Window
    * STRINGS on the oracle side vs xxhash64 fingerprints on the Spark
    * side (the q174 injectivity convention). */
  private val q344 = QDef("q344_ngram_diversity",
    (s, dir) => Curate.ngramDiversity(T(s, dir, "documents"),
      col("text"), col("source"), Seq(1, 2, 3)),
    Some("""WITH d AS (SELECT source, string_split(text, ' ') AS tk
      |      FROM documents WHERE source IS NOT NULL),
      |ns AS (SELECT unnest([1, 2, 3]) AS n),
      |g AS (SELECT source, n, unnest(CASE WHEN len(tk) >= n THEN
      |        list_transform(range(1, len(tk) - n + 2), p ->
      |          array_to_string(list_slice(tk, p, p + n - 1), ' '))
      |      ELSE [] END) AS gr
      |      FROM d CROSS JOIN ns),
      |cnt AS (SELECT source, n, gr, count(*) AS c FROM g GROUP BY 1, 2, 3),
      |agg AS (SELECT source, n, CAST(sum(c) AS BIGINT) AS total_grams,
      |        CAST(count(*) AS BIGINT) AS distinct_grams,
      |        CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |          AS hapax_grams
      |      FROM cnt GROUP BY 1, 2),
      |spine AS (SELECT DISTINCT source, n FROM d CROSS JOIN ns),
      |fin AS (SELECT s.source, CAST(s.n AS INTEGER) AS n,
      |        coalesce(a.total_grams, CAST(0 AS BIGINT)) AS total_grams,
      |        coalesce(a.distinct_grams, CAST(0 AS BIGINT))
      |          AS distinct_grams,
      |        coalesce(a.hapax_grams, CAST(0 AS BIGINT)) AS hapax_grams
      |      FROM spine s LEFT JOIN agg a
      |      ON s.source = a.source AND s.n = a.n)
      |SELECT source, n, total_grams, distinct_grams,
      |  CASE WHEN total_grams > 0 THEN
      |    """.stripMargin + Seal.sqlRatio4("distinct_grams", "total_grams") +
      """ END AS distinct_ratio,
      |  hapax_grams,
      |  CASE WHEN distinct_grams > 0 THEN
      |    """.stripMargin + Seal.sqlRatio4("hapax_grams", "distinct_grams") +
      """ END AS hapax_share
      |FROM fin ORDER BY source, n""".stripMargin))

  /** [[Inference.krippendorffAlpha]]: nominal-scale inter-rater
    * agreement with arbitrary rater counts and missing ratings — do a
    * nation's customers "agree" on market segment (α ≈ 0: segments are
    * assigned independently of nation, the designed negative control).
    * Exact integer counts; the one per-unit rational quantizes via the
    * mantelHaenszel 1e-6 fixed-point device in both engines. */
  private val q345 = QDef("q345_krippendorff_alpha",
    (s, dir) => Inference.krippendorffAlpha(T(s, dir, "customer"),
      col("c_nationkey"), col("c_custkey"), col("c_mktsegment"))
      .orderBy("n_units"),
    Some(s"""WITH d AS (SELECT c_nationkey AS u, c_custkey AS r,
      |        c_mktsegment AS c FROM customer
      |      WHERE c_nationkey IS NOT NULL AND c_custkey IS NOT NULL
      |        AND c_mktsegment IS NOT NULL),
      |nr AS (SELECT CAST(count(DISTINCT r) AS BIGINT) AS n_raters FROM d),
      |byuc AS (SELECT u, c, CAST(count(*) AS BIGINT) AS nuc FROM d
      |       GROUP BY 1, 2),
      |peru AS (SELECT u, CAST(sum(nuc) AS BIGINT) AS mu,
      |        CAST(sum(nuc * nuc) AS BIGINT) AS ssq
      |      FROM byuc GROUP BY 1 HAVING sum(nuc) >= 2),
      |units AS (SELECT u, mu,
      |        CAST(round(CAST(mu * mu - ssq AS DOUBLE) /
      |          CAST(mu - 1 AS DOUBLE) * 1000000, 0) AS BIGINT) AS t6
      |      FROM peru),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_units,
      |        CAST(sum(mu) AS BIGINT) AS nn,
      |        CAST(sum(t6) AS BIGINT) AS st6 FROM units),
      |pooled AS (SELECT c, CAST(sum(nuc) AS BIGINT) AS nc
      |      FROM byuc JOIN units USING (u) GROUP BY 1),
      |de AS (SELECT CAST(sum(CAST(nc AS HUGEINT) * (nn - nc)) AS HUGEINT)
      |          AS sde,
      |        CAST(count(*) AS BIGINT) AS n_categories
      |      FROM pooled CROSS JOIN tot),
      |fin AS (SELECT n_units, n_raters, n_categories, nn AS n_ratings,
      |        CAST(nn - 1 AS HUGEINT) * st6 AS num,
      |        nullif(CAST(1000000 AS HUGEINT) * sde, 0) AS den
      |      FROM tot CROSS JOIN de CROSS JOIN nr)
      |SELECT n_units, n_raters, n_categories, n_ratings,
      |  ${Seal.sqlRatio4("(den - num)", "den")} AS alpha
      |FROM fin ORDER BY n_units""".stripMargin))

  /** [[EventStreams.runConversionJoinOuter]]: stream-stream LEFT OUTER
    * interval join under two watermarks — the state-eviction emission
    * (unmatched signups surface as click_id = −1 once the watermark
    * proves no click can still arrive) that inner stream joins (q78)
    * never exercise. Oracle: the batch left join, null rows restricted
    * to signups whose match window closed at/before the final global
    * watermark min(max s_ts, max c_ts) − 2 h. */
  private val q346 = QDef("q346_stream_outer_join",
    (s, dir) => EventStreams.runConversionJoinOuter(s, dir,
      name = "graft_stream_conv_outer_q346")
      .orderBy("signup_id", "click_id"),
    Some("""WITH s AS (SELECT event_id AS signup_id, ts AS s_ts
      |      FROM events WHERE event_type = 'signup'),
      |c AS (SELECT event_id AS click_id, ts AS c_ts
      |      FROM events WHERE event_type = 'click'),
      |wm AS (SELECT least((SELECT max(s_ts) FROM s),
      |        (SELECT max(c_ts) FROM c)) - INTERVAL 2 HOUR AS w),
      |m AS (SELECT signup_id, click_id FROM s JOIN c
      |      ON c_ts >= s_ts AND c_ts < s_ts + INTERVAL 1 HOUR),
      |um AS (SELECT signup_id, CAST(-1 AS BIGINT) AS click_id
      |      FROM s, wm
      |      WHERE NOT EXISTS (SELECT 1 FROM c
      |          WHERE c_ts >= s_ts AND c_ts < s_ts + INTERVAL 1 HOUR)
      |        AND s_ts + INTERVAL 1 HOUR <= w)
      |SELECT signup_id, click_id FROM m
      |UNION ALL SELECT signup_id, click_id FROM um
      |ORDER BY signup_id, click_id""".stripMargin))

  /** [[Skew.joinCardinalityEval]]: exact equi-join output forecast from
    * the two sides' key histograms — events.user_id ⋈ orders.o_custkey,
    * the "how big is this join and does one key dominate it" readout a
    * planner reads before committing the shuffle. */
  private val q347 = QDef("q347_join_cardinality",
    (s, dir) => Skew.joinCardinalityEval(
      T(s, dir, "events"), col("user_id"),
      T(s, dir, "orders"), col("o_custkey"))
      .orderBy("n_keys_a"),
    Some(s"""WITH ca AS (SELECT user_id AS k, CAST(count(*) AS BIGINT) AS ca
      |      FROM events WHERE user_id IS NOT NULL GROUP BY 1),
      |cb AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS cb
      |      FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
      |ta AS (SELECT CAST(count(*) AS BIGINT) AS n_keys_a,
      |        CAST(sum(ca) AS BIGINT) AS rows_a FROM ca),
      |tb AS (SELECT CAST(count(*) AS BIGINT) AS n_keys_b,
      |        CAST(sum(cb) AS BIGINT) AS rows_b FROM cb),
      |j AS (SELECT ca.k, CAST(ca AS HUGEINT) * cb AS o
      |      FROM ca JOIN cb USING (k)),
      |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_keys_joint,
      |        coalesce(sum(o), 0) AS predicted_rows,
      |        coalesce(max(o), 0) AS max_key_rows FROM j)
      |SELECT n_keys_a, n_keys_b, rows_a, rows_b, n_keys_joint,
      |  CAST(predicted_rows AS BIGINT) AS predicted_rows,
      |  CAST(max_key_rows AS BIGINT) AS max_key_rows,
      |  CASE WHEN predicted_rows > 0 THEN
      |    ${Seal.sqlRatio4("max_key_rows", "predicted_rows")}
      |  END AS max_key_share
      |FROM ta CROSS JOIN tb CROSS JOIN ag""".stripMargin))

  /** Per-subspace k-means CTE chain for the PQ oracle — the q39
    * kmeansCtes device parameterized by a subspace slice [lo+1, lo+sub]
    * (all CTE names suffixed by the subspace index so four chains
    * coexist in one WITH). Replays [[Similarity.kmeansCentroids]] over
    * the sliced vectors: 1e4-quantized ints, lowest-vec_id init,
    * cosine assignment with lower-cid ties, integer-SUM centroids,
    * emptied cells carry. */
  private def pqCtes(s: Int, lo: Int, sub: Int, c: Int,
                     iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""a${s}_$i AS (SELECT vec_id, q, cid FROM (
         |  SELECT qv.vec_id, qv.q, k.cid,
         |    row_number() OVER (PARTITION BY qv.vec_id ORDER BY
         |      list_cosine_similarity(CAST(qv.q AS DOUBLE[]),
         |        CAST(k.cq AS DOUBLE[])) DESC, k.cid) AS rn
         |  FROM qv_$s qv, k${s}_${i - 1} k) WHERE rn = 1),
         |s${s}_$i AS (SELECT cid, i, CAST(sum(q[i+1]) AS BIGINT) AS sv
         |       FROM a${s}_$i, range(0, $sub) r(i) GROUP BY 1, 2),
         |n${s}_$i AS (SELECT cid, list(sv ORDER BY i) AS cq
         |       FROM s${s}_$i GROUP BY cid),
         |k${s}_$i AS (SELECT k.cid, coalesce(n.cq, k.cq) AS cq
         |       FROM k${s}_${i - 1} k LEFT JOIN n${s}_$i n
         |       ON k.cid = n.cid)""".stripMargin
    }.mkString(",\n")
    s"""qv_$s AS (SELECT vec_id, list_transform(
       |        list_slice(emb, ${lo + 1}, ${lo + sub}),
       |        x -> CAST(round(x*10000) AS BIGINT)) AS q FROM e),
       |k${s}_0 AS (SELECT vec_id AS cid, q AS cq FROM qv_$s
       |       ORDER BY vec_id LIMIT $c),
       |$steps,
       |cb_$s AS (SELECT cid, cq FROM k${s}_$iters),
       |as_$s AS (SELECT vec_id, cid AS cell FROM (
       |  SELECT e.vec_id, cb.cid, row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY list_cosine_similarity(
       |      CAST(list_slice(e.emb, ${lo + 1}, ${lo + sub}) AS DOUBLE[]),
       |      CAST(cb.cq AS DOUBLE[])) DESC, cb.cid) AS rn
       |  FROM e, cb_$s cb) WHERE rn = 1),
       |qq_$s AS (SELECT list_transform(
       |        list_slice(qemb, ${lo + 1}, ${lo + sub}),
       |        x -> CAST(round(x*10000) AS BIGINT)) AS q FROM q),
       |lut_$s AS (SELECT cb.cid, CAST(list_sum(list_transform(
       |        range(1, ${sub + 1}), i -> qq.q[i] * cb.cq[i])) AS BIGINT)
       |          AS v
       |       FROM cb_$s cb, qq_$s qq)""".stripMargin
  }

  /** Shared PQ codebooks per fixture dir — trained once, reused across
    * bench/verify invocations (the q39 trainedCodebook convention: a
    * serving path loads the codebook, it doesn't retrain; training is
    * deterministic per dir so sharing cannot change results). */
  private val pqBooks = scala.collection.concurrent.TrieMap
    .empty[String, Seq[Seq[(Long, Array[Double])]]]

  /** [[Similarity.pqTopK]]: product-quantization ANN — 4 subspaces × 8
    * codes over the 64-dim embeddings, exact-integer ADC lookup-table
    * scoring, 50-vector shortlist, exact cosine re-rank to the top 10.
    * The memory-scaling step past q72's int8 path: the scale-path probe
    * table is m·log₂(codes) = 12 BITS per vector. */
  private val q348 = QDef("q348_ann_pq",
    (s, dir) => {
      val e = T(s, dir, "embeddings")
      val books = pqBooks.getOrElseUpdate(dir,
        Similarity.pqCodebooks(e, col("embedding"), col("vec_id"),
          dim = 64, m = 4, codes = 8))
      val q = e.orderBy("vec_id").limit(1)
      Similarity.pqTopK(e, col("embedding"), col("vec_id"),
          q, col("embedding"), dim = 64, k = 10, shortlist = 50,
          m = 4, codes = 8, books = books)
        .select(col("id"), round(col("cos_sim"), 4).as("cos_sim"))
        .orderBy(desc("cos_sim"), col("id"))
    },
    Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
      |      FROM embeddings),
      |q AS (SELECT emb AS qemb FROM e ORDER BY vec_id LIMIT 1),
      |${(0 until 4).map(s0 => pqCtes(s0, s0 * 16, 16, 8, 2)).mkString(",\n")},
      |enc AS (SELECT a0.vec_id, a0.cell AS c0, a1.cell AS c1,
      |        a2.cell AS c2, a3.cell AS c3
      |      FROM as_0 a0 JOIN as_1 a1 USING (vec_id)
      |        JOIN as_2 a2 USING (vec_id) JOIN as_3 a3 USING (vec_id)),
      |sc AS (SELECT enc.vec_id,
      |        l0.v + l1.v + l2.v + l3.v AS adc
      |      FROM enc JOIN lut_0 l0 ON l0.cid = enc.c0
      |        JOIN lut_1 l1 ON l1.cid = enc.c1
      |        JOIN lut_2 l2 ON l2.cid = enc.c2
      |        JOIN lut_3 l3 ON l3.cid = enc.c3),
      |sl AS (SELECT vec_id FROM sc ORDER BY adc DESC, vec_id LIMIT 50),
      |topk AS (SELECT e.vec_id AS id,
      |        list_cosine_similarity(e.emb, q.qemb) AS cs
      |      FROM e JOIN sl USING (vec_id), q
      |      ORDER BY cs DESC, id LIMIT 10)
      |SELECT id, round(cs, 4) AS cos_sim FROM topk
      |ORDER BY cos_sim DESC, id""".stripMargin))

  /** DuckDB 16-perm MinHash signature over unigram `hh` (the q25/q334
    * convention, re-derived from the shared parameter table). */
  private val sigSql16 = Dedup.minhashParams(16)
    .map { case (a, b) =>
      s"list_min(list_transform(hh, x -> (x*$a + $b) % ${Dedup.MinhashPrime}))" }
    .mkString("[", ", ", "]")

  /** [[Dedup.crossSplitNearDupLeak]]: near-duplicate leakage ACROSS the
    * q48 train/val/test hash splits — the eval-integrity gate q174's
    * exact n-gram check can't provide (a 0.9-Jaccard paraphrase of a
    * training doc inflates evals without sharing a long exact n-gram).
    * Candidates = cross-split MinHash band collisions; verify = exact
    * distinct-token Jaccard ≥ 0.7 in integer space. */
  private val q349 = QDef("q349_xsplit_neardup_leak",
    (s, dir) => Dedup.crossSplitNearDupLeak(
      T(s, dir, "documents")
        .withColumn("split", Sampling.splitAssign(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "sp")),
      col("text"), col("doc_id"), col("split"),
      shingleSize = 1, numPerm = 16, bands = 4, minBin10 = 7),
    Some(s"""WITH d AS (SELECT doc_id, text,
      |        CASE WHEN hv < 800000 THEN 'train'
      |             WHEN hv < 900000 THEN 'val' ELSE 'test' END AS sp
      |      FROM (SELECT doc_id, text,
      |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'sp'), 1, 15))
      |          ::BIGINT % 1000000 AS hv FROM documents)),
      |toks AS (SELECT doc_id, sp, string_split(text, ' ') AS t FROM d),
      |sh AS (SELECT doc_id, sp, list_distinct(t) AS shingles
      |      FROM toks WHERE len(t) >= 1),
      |hs AS (SELECT doc_id, sp, list_transform(shingles, s ->
      |        ('0x' || substr(md5(s), 1, 7))::BIGINT) AS hh
      |      FROM sh WHERE len(shingles) > 0),
      |sig AS (SELECT doc_id, sp, $sigSql16 AS sig FROM hs),
      |bd AS (SELECT doc_id, sp, b, list_slice(sig, 4*b + 1, 4*b + 4)
      |        AS bucket FROM sig, range(0, 4) rb(b)),
      |cd AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |      FROM bd a JOIN bd b ON a.b = b.b AND a.bucket = b.bucket
      |        AND a.doc_id < b.doc_id AND a.sp <> b.sp),
      |gr AS (SELECT doc_id, sp, list_distinct(string_split(text, ' '))
      |        AS g FROM d),
      |vf AS (SELECT cd.id_a, cd.id_b, ga.sp AS sp_a, gb.sp AS sp_b,
      |        CAST(len(list_intersect(ga.g, gb.g)) AS BIGINT) AS i,
      |        CAST(len(ga.g) + len(gb.g)
      |          - len(list_intersect(ga.g, gb.g)) AS BIGINT) AS u
      |      FROM cd JOIN gr ga ON cd.id_a = ga.doc_id
      |        JOIN gr gb ON cd.id_b = gb.doc_id),
      |lab AS (SELECT least(sp_a, sp_b) AS split_a,
      |        greatest(sp_a, sp_b) AS split_b,
      |        CASE WHEN sp_a <= sp_b THEN id_a ELSE id_b END AS doc_a,
      |        CASE WHEN sp_a <= sp_b THEN id_b ELSE id_a END AS doc_b,
      |        CASE WHEN i * 10 >= u * 7 THEN 1 ELSE 0 END AS leak
      |      FROM vf),
      |ag AS (SELECT split_a, split_b,
      |        CAST(count(*) AS BIGINT) AS n_candidates,
      |        CAST(sum(leak) AS BIGINT) AS n_leaked,
      |        CAST(count(DISTINCT CASE WHEN leak = 1 THEN doc_a END)
      |          AS BIGINT) AS docs_leaked_a,
      |        CAST(count(DISTINCT CASE WHEN leak = 1 THEN doc_b END)
      |          AS BIGINT) AS docs_leaked_b
      |      FROM lab GROUP BY 1, 2),
      |sp2 AS (SELECT DISTINCT sp FROM d),
      |spine AS (SELECT x.sp AS split_a, y.sp AS split_b
      |      FROM sp2 x JOIN sp2 y ON x.sp < y.sp)
      |SELECT spine.split_a, spine.split_b,
      |  coalesce(n_candidates, CAST(0 AS BIGINT)) AS n_candidates,
      |  coalesce(n_leaked, CAST(0 AS BIGINT)) AS n_leaked,
      |  coalesce(docs_leaked_a, CAST(0 AS BIGINT)) AS docs_leaked_a,
      |  coalesce(docs_leaked_b, CAST(0 AS BIGINT)) AS docs_leaked_b
      |FROM spine LEFT JOIN ag USING (split_a, split_b)
      |ORDER BY split_a, split_b""".stripMargin))

  /** [[Dedup.crossSplitNearDupLeakSampled]]: q349's census with the
    * audit-cost knob a 100 TB corpus needs — candidate counts stay
    * EXACT per split pair, but the token-array Jaccard verify (the
    * measured dominant cost at the sf1 probe regime) runs on a
    * deterministic hash-sampled half of the pairs, reporting the
    * sampled leak rate and the rate-scaled estimate in exact integer
    * arithmetic. Sample = hash60(id_a:id_b:salt) mod 1e6 < 500000 (the
    * q47 hashSample convention), so DuckDB replays the identical
    * subset. */
  private val q352 = QDef("q352_sampled_leak_census",
    (s, dir) => Dedup.crossSplitNearDupLeakSampled(
      T(s, dir, "documents")
        .withColumn("split", Sampling.splitAssign(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "sp")),
      col("text"), col("doc_id"), col("split"), frac = 0.5, salt = "pl",
      shingleSize = 1, numPerm = 16, bands = 4, minBin10 = 7),
    Some(s"""WITH d AS (SELECT doc_id, text,
      |        CASE WHEN hv < 800000 THEN 'train'
      |             WHEN hv < 900000 THEN 'val' ELSE 'test' END AS sp
      |      FROM (SELECT doc_id, text,
      |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'sp'), 1, 15))
      |          ::BIGINT % 1000000 AS hv FROM documents)),
      |toks AS (SELECT doc_id, sp, string_split(text, ' ') AS t FROM d),
      |sh AS (SELECT doc_id, sp, list_distinct(t) AS shingles
      |      FROM toks WHERE len(t) >= 1),
      |hs AS (SELECT doc_id, sp, list_transform(shingles, s ->
      |        ('0x' || substr(md5(s), 1, 7))::BIGINT) AS hh
      |      FROM sh WHERE len(shingles) > 0),
      |sig AS (SELECT doc_id, sp, $sigSql16 AS sig FROM hs),
      |bd AS (SELECT doc_id, sp, b, list_slice(sig, 4*b + 1, 4*b + 4)
      |        AS bucket FROM sig, range(0, 4) rb(b)),
      |cd AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
      |        least(a.sp, b.sp) AS split_a, greatest(a.sp, b.sp) AS split_b
      |      FROM bd a JOIN bd b ON a.b = b.b AND a.bucket = b.bucket
      |        AND a.doc_id < b.doc_id AND a.sp <> b.sp),
      |ex AS (SELECT split_a, split_b, CAST(count(*) AS BIGINT)
      |        AS n_candidates FROM cd GROUP BY 1, 2),
      |sm AS (SELECT * FROM cd WHERE
      |        ('0x' || substr(md5(CAST(id_a AS VARCHAR) || ':' ||
      |          CAST(id_b AS VARCHAR) || ':pl'), 1, 15))::BIGINT
      |          % 1000000 < 500000),
      |gr AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS g
      |      FROM d),
      |vf AS (SELECT sm.split_a, sm.split_b,
      |        CAST(len(list_intersect(ga.g, gb.g)) AS BIGINT) AS i,
      |        CAST(len(ga.g) + len(gb.g)
      |          - len(list_intersect(ga.g, gb.g)) AS BIGINT) AS u
      |      FROM sm JOIN gr ga ON sm.id_a = ga.doc_id
      |        JOIN gr gb ON sm.id_b = gb.doc_id),
      |sa AS (SELECT split_a, split_b,
      |        CAST(count(*) AS BIGINT) AS n_sampled,
      |        CAST(sum(CASE WHEN i * 10 >= u * 7 THEN 1 ELSE 0 END)
      |          AS BIGINT) AS n_leaked_sampled
      |      FROM vf GROUP BY 1, 2),
      |sp2 AS (SELECT DISTINCT sp FROM d),
      |spine AS (SELECT x.sp AS split_a, y.sp AS split_b
      |      FROM sp2 x JOIN sp2 y ON x.sp < y.sp)
      |SELECT spine.split_a, spine.split_b,
      |  coalesce(n_candidates, CAST(0 AS BIGINT)) AS n_candidates,
      |  coalesce(n_sampled, CAST(0 AS BIGINT)) AS n_sampled,
      |  coalesce(n_leaked_sampled, CAST(0 AS BIGINT)) AS n_leaked_sampled,
      |  CASE WHEN coalesce(n_sampled, 0) > 0 THEN
      |    CAST((2 * CAST(coalesce(n_leaked_sampled, 0) AS HUGEINT) * 10000
      |        + n_sampled) // (2 * CAST(n_sampled AS HUGEINT)) AS DOUBLE)
      |      / 1e4 END AS leak_rate,
      |  CASE WHEN coalesce(n_sampled, 0) > 0 THEN
      |    CAST((2 * CAST(coalesce(n_candidates, 0) AS HUGEINT)
      |        * coalesce(n_leaked_sampled, 0) + n_sampled)
      |      // (2 * CAST(n_sampled AS HUGEINT)) AS BIGINT)
      |    ELSE CAST(0 AS BIGINT) END AS est_leaked
      |FROM spine LEFT JOIN ex USING (split_a, split_b)
      |LEFT JOIN sa USING (split_a, split_b)
      |ORDER BY split_a, split_b""".stripMargin))

  /** [[Dedup.minhashAgainstIndex]] over a [[Staging.stageBucketed]]
    * LSH index — q77's incremental near-dedup with the corpus side
    * PRE-STAGED: [[Dedup.lshIndexFrame]] (one (doc, band) row keyed by
    * the single-column `lsh_key`) written once as a bucketed+sorted
    * table, so every later ingest batch semi-joins it with ZERO
    * Exchange and zero Sort on the corpus side (plan property pinned in
    * ScaleSpec). Same output as running [[Dedup.minhashAgainst]]
    * inline — the oracle is q77's SQL. At 100 TB this is the
    * ingestion-time dedup shape: the index build is a one-time cost,
    * each daily batch pays O(batch) signatures plus one batch-side
    * shuffle sized by the index's bucket count. */
  private val q353 = QDef("q353_dedup_staged_index",
    (s, dir) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val docs = T(s, dir, "documents")
      Staging.stageBucketed(
        Dedup.lshIndexFrame(docs.where(col("doc_id") < 250),
          col("text"), col("doc_id")),
        s"graft_lsh_idx_$tag", "lsh_key", 8)
      Dedup.minhashAgainstIndex(docs.where(col("doc_id") >= 250),
          Staging.load(s, s"graft_lsh_idx_$tag"), col("text"), col("doc_id"))
        .select("doc_id", "source")
        .orderBy("doc_id")
    },
    Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
      |      FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(
      |        range(0, len(t) - 2),
      |        i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingles
      |      FROM toks WHERE len(t) >= 3),
      |hs AS (SELECT doc_id, list_transform(shingles, s ->
      |        ('0x' || substr(md5(s), 1, 7))::BIGINT) AS hh
      |      FROM sh WHERE len(shingles) > 0),
      |sig AS (SELECT doc_id, $sigSql16 AS sig FROM hs),
      |bands AS (SELECT doc_id, b, list_slice(sig, 4*b + 1, 4*b + 4)
      |        AS bucket FROM sig, range(0, 4) AS r(b)),
      |hits AS (SELECT DISTINCT b.doc_id FROM bands b JOIN bands c
      |        ON b.b = c.b AND b.bucket = c.bucket
      |        AND b.doc_id >= 250 AND c.doc_id < 250)
      |SELECT d.doc_id, d.source FROM documents d
      |WHERE d.doc_id >= 250 AND d.doc_id NOT IN (SELECT doc_id FROM hits)
      |ORDER BY doc_id""".stripMargin))

  /** The q353 index CLOSED INTO AN INGESTION LOOP
    * ([[Staging.appendBucketed]]): day-1 batch dedups against the staged
    * corpus index, its SURVIVORS' signatures append to the index (only
    * the new rows' bucket files are written — the index is never
    * rebuilt), then the day-2 batch dedups against corpus ∪ survivors.
    * Output = both days' survivors tagged by ingest day. Semantics are
    * exactly inline [[Dedup.minhashAgainst]] against the accumulated
    * corpus at each step — the oracle replays both days from the one
    * bands CTE. At 100 TB this is the daily-crawl shape: per-day cost is
    * O(day's batch) + an append, independent of corpus size. */
  private val q354 = QDef("q354_dedup_index_ingest",
    (s, dir) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val docs = T(s, dir, "documents")
      val idx = s"graft_lsh_ing_$tag"
      Staging.stageBucketed(
        Dedup.lshIndexFrame(docs.where(col("doc_id") < 200),
          col("text"), col("doc_id")),
        idx, "lsh_key", 8)
      val day1 = Dedup.minhashAgainstIndex(
          docs.where(col("doc_id") >= 200 && col("doc_id") < 350),
          Staging.load(s, idx), col("text"), col("doc_id"))
        .localCheckpoint()
      Staging.appendBucketed(
        Dedup.lshIndexFrame(day1, col("text"), col("doc_id")), idx)
      val day2 = Dedup.minhashAgainstIndex(docs.where(col("doc_id") >= 350),
        Staging.load(s, idx), col("text"), col("doc_id"))
      day1.withColumn("ingest_day", lit(1))
        .unionByName(day2.withColumn("ingest_day", lit(2)))
        .select("ingest_day", "doc_id", "source")
        .orderBy("ingest_day", "doc_id")
    },
    Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
      |      FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(
      |        range(0, len(t) - 2),
      |        i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingles
      |      FROM toks WHERE len(t) >= 3),
      |hs AS (SELECT doc_id, list_transform(shingles, s ->
      |        ('0x' || substr(md5(s), 1, 7))::BIGINT) AS hh
      |      FROM sh WHERE len(shingles) > 0),
      |sig AS (SELECT doc_id, $sigSql16 AS sig FROM hs),
      |bands AS (SELECT doc_id, b, list_slice(sig, 4*b + 1, 4*b + 4)
      |        AS bucket FROM sig, range(0, 4) AS r(b)),
      |hit1 AS (SELECT DISTINCT b.doc_id FROM bands b JOIN bands c
      |        ON b.b = c.b AND b.bucket = c.bucket
      |        AND b.doc_id >= 200 AND b.doc_id < 350 AND c.doc_id < 200),
      |s1 AS (SELECT doc_id FROM documents
      |      WHERE doc_id >= 200 AND doc_id < 350
      |        AND doc_id NOT IN (SELECT doc_id FROM hit1)),
      |idx2 AS (SELECT doc_id FROM documents WHERE doc_id < 200
      |      UNION ALL SELECT doc_id FROM s1),
      |hit2 AS (SELECT DISTINCT b.doc_id FROM bands b JOIN bands c
      |        ON b.b = c.b AND b.bucket = c.bucket
      |        AND b.doc_id >= 350 AND c.doc_id IN (SELECT doc_id FROM idx2)),
      |s2 AS (SELECT doc_id FROM documents WHERE doc_id >= 350
      |      AND doc_id NOT IN (SELECT doc_id FROM hit2))
      |SELECT CAST(1 AS INTEGER) AS ingest_day, d.doc_id, d.source
      |FROM documents d JOIN s1 USING (doc_id)
      |UNION ALL
      |SELECT CAST(2 AS INTEGER) AS ingest_day, d.doc_id, d.source
      |FROM documents d JOIN s2 USING (doc_id)
      |ORDER BY ingest_day, doc_id""".stripMargin))

  /** q349's REMEDY, proven: cluster-aware split assignment — split by
    * the near-dup CLUSTER (connected components over the same MinHash
    * band collisions), not the document — sends every collision-
    * connected pair to one split, so the q349 leak census over the new
    * splits is ZERO by construction. The oracle replays the whole
    * chain: unigram signatures → band collisions → recursive-CTE
    * connected components (the q45 device) → component-hash split →
    * the q349 census, and must produce the explicit all-zero spine. */
  private val q350 = QDef("q350_cluster_safe_split",
    (s, dir) => Dedup.clusterSafeSplitCensus(T(s, dir, "documents"),
      col("text"), col("doc_id"),
      comp => Sampling.splitAssign(comp,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "csp"),
      shingleSize = 1, numPerm = 16, bands = 4, minBin10 = 7),
    Some(s"""WITH RECURSIVE
      |toks AS (SELECT doc_id, text, string_split(text, ' ') AS t
      |      FROM documents),
      |sh AS (SELECT doc_id, list_distinct(t) AS shingles FROM toks
      |      WHERE len(t) >= 1),
      |hs AS (SELECT doc_id, list_transform(shingles, s ->
      |        ('0x' || substr(md5(s), 1, 7))::BIGINT) AS hh
      |      FROM sh WHERE len(shingles) > 0),
      |sig AS (SELECT doc_id, $sigSql16 AS sig FROM hs),
      |bd AS (SELECT doc_id, b, list_slice(sig, 4*b + 1, 4*b + 4)
      |        AS bucket FROM sig, range(0, 4) rb(b)),
      |rawpairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |      FROM bd a JOIN bd b ON a.b = b.b AND a.bucket = b.bucket
      |        AND a.doc_id < b.doc_id),
      |mp AS (SELECT DISTINCT id_a, id_b FROM rawpairs),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM mp
      |          UNION ALL SELECT id_b, id_a FROM mp),
      |reach(id, comp) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id),
      |lab AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
      |d2 AS (SELECT doc_id, text,
      |        CASE WHEN hv < 800000 THEN 'train'
      |             WHEN hv < 900000 THEN 'val' ELSE 'test' END AS sp
      |      FROM (SELECT dd.doc_id, dd.text,
      |        ('0x' || substr(md5(CAST(coalesce(l.comp, dd.doc_id)
      |            AS VARCHAR) || 'csp'), 1, 15))::BIGINT % 1000000 AS hv
      |       FROM documents dd LEFT JOIN lab l ON dd.doc_id = l.id)),
      |spb AS (SELECT bd.doc_id, d2.sp, bd.b, bd.bucket
      |      FROM bd JOIN d2 USING (doc_id)),
      |cd AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |      FROM spb a JOIN spb b ON a.b = b.b AND a.bucket = b.bucket
      |        AND a.doc_id < b.doc_id AND a.sp <> b.sp),
      |gr AS (SELECT doc_id, sp, list_distinct(string_split(text, ' '))
      |        AS g FROM d2),
      |vf AS (SELECT cd.id_a, cd.id_b, ga.sp AS sp_a, gb.sp AS sp_b,
      |        CAST(len(list_intersect(ga.g, gb.g)) AS BIGINT) AS i,
      |        CAST(len(ga.g) + len(gb.g)
      |          - len(list_intersect(ga.g, gb.g)) AS BIGINT) AS u
      |      FROM cd JOIN gr ga ON cd.id_a = ga.doc_id
      |        JOIN gr gb ON cd.id_b = gb.doc_id),
      |lab2 AS (SELECT least(sp_a, sp_b) AS split_a,
      |        greatest(sp_a, sp_b) AS split_b,
      |        CASE WHEN sp_a <= sp_b THEN id_a ELSE id_b END AS doc_a,
      |        CASE WHEN sp_a <= sp_b THEN id_b ELSE id_a END AS doc_b,
      |        CASE WHEN i * 10 >= u * 7 THEN 1 ELSE 0 END AS leak
      |      FROM vf),
      |ag AS (SELECT split_a, split_b,
      |        CAST(count(*) AS BIGINT) AS n_candidates,
      |        CAST(sum(leak) AS BIGINT) AS n_leaked,
      |        CAST(count(DISTINCT CASE WHEN leak = 1 THEN doc_a END)
      |          AS BIGINT) AS docs_leaked_a,
      |        CAST(count(DISTINCT CASE WHEN leak = 1 THEN doc_b END)
      |          AS BIGINT) AS docs_leaked_b
      |      FROM lab2 GROUP BY 1, 2),
      |sp2 AS (SELECT DISTINCT sp FROM d2),
      |spine AS (SELECT x.sp AS split_a, y.sp AS split_b
      |      FROM sp2 x JOIN sp2 y ON x.sp < y.sp)
      |SELECT spine.split_a, spine.split_b,
      |  coalesce(n_candidates, CAST(0 AS BIGINT)) AS n_candidates,
      |  coalesce(n_leaked, CAST(0 AS BIGINT)) AS n_leaked,
      |  coalesce(docs_leaked_a, CAST(0 AS BIGINT)) AS docs_leaked_a,
      |  coalesce(docs_leaked_b, CAST(0 AS BIGINT)) AS docs_leaked_b
      |FROM spine LEFT JOIN ag USING (split_a, split_b)
      |ORDER BY split_a, split_b""".stripMargin))

  /** The ingestion trilogy CLOSED: q353 staged the corpus's LSH index,
    * q354 appended to it — this query keeps the dedup CLUSTERS current
    * without ever recomputing them. Day-0 corpus: star-spine CC labels
    * ([[Dedup.minhashStarEdges]] → [[Dedup.connectedComponents]]). Batch
    * arrives: its band rows probe the STAGED index (zero corpus-side
    * exchange, the q353 property) for cross edges — contracted to ONE
    * (min corpus member) edge per colliding (batch row, band key), linear
    * in batch bands since same-bucket corpus docs are already one
    * component — plus the batch's own star edges; then
    * [[Dedup.ccIncremental]] merges them into the day-0 labels by
    * running CC on the BATCH-SIZED contracted quotient graph and
    * broadcasting the label patch back. Output = cluster census over
    * corpus ∪ batch. The oracle is a full-recompute CC over ALL
    * documents' band collisions — so the green row IS the
    * incremental ≡ full-recompute equivalence proof, end-to-end. At
    * 100 TB: per-batch cost is O(batch) signatures + a batch-side
    * probe + a batch-sized CC, independent of corpus size (measured:
    * PLANS §r11 incremental CC probe). */
  private val q355 = QDef("q355_dedup_incremental_cc",
    (s, dir) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val docs = T(s, dir, "documents")
      val corpus = docs.where(col("doc_id") < 400)
      val batch = docs.where(col("doc_id") >= 400)
      val idx = s"graft_lsh_icc_$tag"
      Staging.stageBucketed(
        Dedup.lshIndexFrame(corpus, col("text"), col("doc_id")),
        idx, "lsh_key", 8)
      val labels0 = Dedup.connectedComponents(
        Dedup.minhashStarEdges(corpus, col("text"), col("doc_id")))
      // cross + within edges off ONE batch signature scan
      // (Dedup.batchIngestEdges — the r10 single-tokenize standard)
      Dedup.ccIncremental(labels0,
        Dedup.batchIngestEdges(batch, Staging.load(s, idx),
          col("text"), col("doc_id")))
        .groupBy(col("comp").as("cluster_id"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("id") >= 400, 1)).as("n_new"),
          max("id").as("max_doc_id"))
        .orderBy("cluster_id")
    },
    Some(s"""WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t
      |      FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(
      |        range(0, len(t) - 2),
      |        i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingles
      |      FROM toks WHERE len(t) >= 3),
      |hs AS (SELECT doc_id, list_transform(shingles, s ->
      |        ('0x' || substr(md5(s), 1, 7))::BIGINT) AS hh
      |      FROM sh WHERE len(shingles) > 0),
      |sig AS (SELECT doc_id, $sigSql16 AS sig FROM hs),
      |bands AS (SELECT doc_id, b, list_slice(sig, 4*b + 1, 4*b + 4)
      |        AS bucket FROM sig, range(0, 4) AS r(b)),
      |mp AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |      FROM bands a JOIN bands b
      |      ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM mp
      |          UNION ALL SELECT id_b, id_a FROM mp),
      |reach(id, comp) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id),
      |lab AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id)
      |SELECT comp AS cluster_id, count(*) AS n_docs,
      |  count(*) FILTER (WHERE id >= 400) AS n_new,
      |  max(id) AS max_doc_id
      |FROM lab GROUP BY comp ORDER BY cluster_id""".stripMargin))

  /** [[Dedup.splitStableIngest]]: split STABILITY under ingest. Day 0
    * assigns splits cluster-safely (component-hash over the corpus CC);
    * the batch then merges into the cluster structure incrementally
    * (q355's quotient device over the staged q353 index), old docs KEEP
    * their split (they have already been trained/evaluated on), new
    * docs inherit their merged component's min-old-member split (fresh
    * components hash-assign), and merged components whose old members
    * span ≥ 2 splits are REPORTED as irreducible legacy conflicts. The
    * oracle replays both CC chains (corpus-only for day 0, full for the
    * merge) and the inheritance/conflict analysis over the full pair
    * graph — proving the touched-components-only Spark path equals the
    * full semantics. */
  private val q356 = QDef("q356_split_stable_ingest",
    (s, dir) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val docs = T(s, dir, "documents")
      val corpus = docs.where(col("doc_id") < 400)
      val batch = docs.where(col("doc_id") >= 400)
      val idx = s"graft_lsh_ssi_$tag"
      Staging.stageBucketed(
        Dedup.lshIndexFrame(corpus, col("text"), col("doc_id")),
        idx, "lsh_key", 8)
      val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
      val labels0 = Dedup.connectedComponents(
        Dedup.minhashStarEdges(corpus, col("text"), col("doc_id")))
      val oldAssign = corpus.select(col("doc_id").cast("long").as("id"))
        .join(labels0.withColumnRenamed("id", "__lid"),
          col("id") === col("__lid"), "left")
        .select(col("id"),
          Sampling.splitAssign(coalesce(col("comp"), col("id")), fr, "ssi")
            .as("split"),
          col("comp"))
      Dedup.splitStableIngest(oldAssign, Staging.load(s, idx), batch,
        col("text"), col("doc_id"),
        c => Sampling.splitAssign(c, fr, "ssi"),
        spineSplits = Seq("test", "train", "val"))
    },
    Some(s"""WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t
      |      FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(
      |        range(0, len(t) - 2),
      |        i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingles
      |      FROM toks WHERE len(t) >= 3),
      |hs AS (SELECT doc_id, list_transform(shingles, s ->
      |        ('0x' || substr(md5(s), 1, 7))::BIGINT) AS hh
      |      FROM sh WHERE len(shingles) > 0),
      |sig AS (SELECT doc_id, $sigSql16 AS sig FROM hs),
      |bands AS (SELECT doc_id, b, list_slice(sig, 4*b + 1, 4*b + 4)
      |        AS bucket FROM sig, range(0, 4) AS r(b)),
      |mp0 AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |      FROM bands a JOIN bands b ON a.b = b.b AND a.bucket = b.bucket
      |        AND a.doc_id < b.doc_id AND b.doc_id < 400),
      |ed0 AS (SELECT id_a AS src, id_b AS dst FROM mp0
      |      UNION ALL SELECT id_b, id_a FROM mp0),
      |rc0(id, comp) AS (
      |  SELECT src, src FROM ed0
      |  UNION
      |  SELECT e.src, r.comp FROM ed0 e JOIN rc0 r ON e.dst = r.id),
      |lab0 AS (SELECT id, min(comp) AS comp FROM rc0 GROUP BY id),
      |a0 AS (SELECT dd.doc_id AS id,
      |        CASE WHEN hv < 800000 THEN 'train'
      |             WHEN hv < 900000 THEN 'val' ELSE 'test' END AS sp
      |      FROM (SELECT d2.doc_id,
      |          ('0x' || substr(md5(CAST(coalesce(l.comp, d2.doc_id)
      |            AS VARCHAR) || 'ssi'), 1, 15))::BIGINT % 1000000 AS hv
      |        FROM documents d2 LEFT JOIN lab0 l ON d2.doc_id = l.id
      |        WHERE d2.doc_id < 400) dd),
      |mp AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |      FROM bands a JOIN bands b ON a.b = b.b AND a.bucket = b.bucket
      |        AND a.doc_id < b.doc_id),
      |ed AS (SELECT id_a AS src, id_b AS dst FROM mp
      |      UNION ALL SELECT id_b, id_a FROM mp),
      |rc(id, comp) AS (
      |  SELECT src, src FROM ed
      |  UNION
      |  SELECT e.src, r.comp FROM ed e JOIN rc r ON e.dst = r.id),
      |lab AS (SELECT id, min(comp) AS comp FROM rc GROUP BY id),
      |c1 AS (SELECT d2.doc_id, coalesce(l.comp, d2.doc_id) AS comp
      |      FROM documents d2 LEFT JOIN lab l ON d2.doc_id = l.id),
      |oldm AS (SELECT c1.comp, a0.sp, c1.doc_id
      |      FROM c1 JOIN a0 ON c1.doc_id = a0.id),
      |inh AS (SELECT comp, min_by(sp, doc_id) AS isp,
      |        count(DISTINCT sp) AS nsp FROM oldm GROUP BY comp),
      |newsp AS (SELECT cb.doc_id,
      |        CASE WHEN i.comp IS NOT NULL THEN i.isp
      |             WHEN cb.hv2 < 800000 THEN 'train'
      |             WHEN cb.hv2 < 900000 THEN 'val' ELSE 'test' END AS sp
      |      FROM (SELECT doc_id, comp,
      |          ('0x' || substr(md5(CAST(comp AS VARCHAR) || 'ssi'),
      |            1, 15))::BIGINT % 1000000 AS hv2
      |        FROM c1 WHERE doc_id >= 400) cb
      |      LEFT JOIN inh i USING (comp)),
      |confm AS (SELECT DISTINCT m.comp, m.sp FROM oldm m
      |      JOIN inh i ON m.comp = i.comp AND i.nsp >= 2),
      |spine AS (SELECT * FROM (VALUES ('test'), ('train'), ('val'))
      |      AS s(split)),
      |no AS (SELECT sp AS split, count(*) AS n FROM a0 GROUP BY sp),
      |nn AS (SELECT sp AS split, count(*) AS n FROM newsp GROUP BY sp),
      |nc AS (SELECT sp AS split, count(*) AS n FROM confm GROUP BY sp)
      |SELECT spine.split,
      |  coalesce(no.n, CAST(0 AS BIGINT)) AS n_old,
      |  coalesce(nn.n, CAST(0 AS BIGINT)) AS n_new,
      |  coalesce(nc.n, CAST(0 AS BIGINT)) AS n_conflict_components
      |FROM spine LEFT JOIN no USING (split) LEFT JOIN nn USING (split)
      |LEFT JOIN nc USING (split)
      |ORDER BY split""".stripMargin))

  /** [[graft.streaming.IngestStreams.runIngestDedup]]: the ingestion
    * trilogy as an actual Structured Streaming job — each arriving
    * "day" is a micro-batch (file source, one file per day,
    * deterministic arrival order), foreachBatch dedups it against the
    * STAGED index and appends the survivors' signatures, so day 2
    * dedups against corpus ∪ day-1 survivors. Per-trigger cost is
    * O(batch); the corpus is never rescanned. Same semantics as the
    * q354 inline two-step — the oracle replays it at these cuts. */
  private val q358 = QDef("q358_stream_ingest_dedup",
    (s, dir) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      graft.streaming.IngestStreams.runIngestDedup(s, dir,
        s"graft_sing_$tag", cut0 = 300, cut1 = 450)
    },
    Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
      |      FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(
      |        range(0, len(t) - 2),
      |        i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingles
      |      FROM toks WHERE len(t) >= 3),
      |hs AS (SELECT doc_id, list_transform(shingles, s ->
      |        ('0x' || substr(md5(s), 1, 7))::BIGINT) AS hh
      |      FROM sh WHERE len(shingles) > 0),
      |sig AS (SELECT doc_id, $sigSql16 AS sig FROM hs),
      |bands AS (SELECT doc_id, b, list_slice(sig, 4*b + 1, 4*b + 4)
      |        AS bucket FROM sig, range(0, 4) AS r(b)),
      |hit1 AS (SELECT DISTINCT b.doc_id FROM bands b JOIN bands c
      |        ON b.b = c.b AND b.bucket = c.bucket
      |        AND b.doc_id >= 300 AND b.doc_id < 450 AND c.doc_id < 300),
      |s1 AS (SELECT doc_id FROM documents
      |      WHERE doc_id >= 300 AND doc_id < 450
      |        AND doc_id NOT IN (SELECT doc_id FROM hit1)),
      |idx2 AS (SELECT doc_id FROM documents WHERE doc_id < 300
      |      UNION ALL SELECT doc_id FROM s1),
      |hit2 AS (SELECT DISTINCT b.doc_id FROM bands b JOIN bands c
      |        ON b.b = c.b AND b.bucket = c.bucket
      |        AND b.doc_id >= 450 AND c.doc_id IN (SELECT doc_id FROM idx2)),
      |s2 AS (SELECT doc_id FROM documents WHERE doc_id >= 450
      |      AND doc_id NOT IN (SELECT doc_id FROM hit2))
      |SELECT CAST(1 AS INTEGER) AS ingest_day, d.doc_id, d.source
      |FROM documents d JOIN s1 USING (doc_id)
      |UNION ALL
      |SELECT CAST(2 AS INTEGER) AS ingest_day, d.doc_id, d.source
      |FROM documents d JOIN s2 USING (doc_id)
      |ORDER BY ingest_day, doc_id""".stripMargin))

  /** [[graft.streaming.IngestStreams.runIngestDedupCompact]] (q377):
    * q358's dedup-ingest stream with the crash-safe LSH index
    * compaction (VStage generation swap) run MID-STREAM after day 1 —
    * the LSM trade's both halves under one live stream: appends
    * fragment the bucket files, the between-segments compaction
    * re-bounds them (distinct signature rows, one file per bucket),
    * and because the compaction is content-preserving, day 2's
    * survivor set is EXACTLY q358's — the shared oracle proves the
    * maintenance op is semantically invisible to the loop it
    * maintains. Non-vacuity (generation advanced, file count
    * re-bounded) is pinned in the unit suite. */
  private val q377 = QDef("q377_stream_dedup_compact",
    (s, dir) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      graft.streaming.IngestStreams.runIngestDedupCompact(s, dir,
        s"graft_sdc_$tag", cut0 = 300, cut1 = 450)
    },
    q358.oracle)

  /** The full-recompute cluster-census oracle the order-independent
    * streaming loops share (q364/q368/q374): CC over the complete
    * collision graph, census with `n_new` counting ids ≥ `cut0`. */
  private def clusterCensusOracleSql(cut0: Int): String =
    s"""WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t
      |      FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(
      |        range(0, len(t) - 2),
      |        i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingles
      |      FROM toks WHERE len(t) >= 3),
      |hs AS (SELECT doc_id, list_transform(shingles, s ->
      |        ('0x' || substr(md5(s), 1, 7))::BIGINT) AS hh
      |      FROM sh WHERE len(shingles) > 0),
      |sig AS (SELECT doc_id, $sigSql16 AS sig FROM hs),
      |bands AS (SELECT doc_id, b, list_slice(sig, 4*b + 1, 4*b + 4)
      |        AS bucket FROM sig, range(0, 4) AS r(b)),
      |mp AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |      FROM bands a JOIN bands b
      |      ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM mp
      |          UNION ALL SELECT id_b, id_a FROM mp),
      |reach(id, comp) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id),
      |lab AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id)
      |SELECT comp AS cluster_id, count(*) AS n_docs,
      |  count(*) FILTER (WHERE id >= $cut0) AS n_new,
      |  max(id) AS max_doc_id
      |FROM lab GROUP BY comp ORDER BY cluster_id""".stripMargin

  /** [[graft.streaming.IngestStreams.runClusterMaintenance]]: q355's
    * incremental CC driven by the STREAM — per micro-batch, one
    * signature scan ([[Dedup.batchIngestEdges]]), a batch-sized
    * quotient CC merge, and an index append so later days connect.
    * Cluster structure is order-independent (the union of discovered
    * edges equals the full collision graph), so the oracle is the
    * full-recompute census: the green row proves
    * streaming-incremental ≡ batch-full. */
  private val q364 = QDef("q364_stream_cluster_maintenance",
    (s, dir) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      graft.streaming.IngestStreams.runClusterMaintenance(s, dir,
        s"graft_scm_$tag", cut0 = 300, cut1 = 450)
    },
    Some(clusterCensusOracleSql(300)))

  /** [[graft.streaming.IngestStreams.runClusterPatchLog]]: q364's
    * cluster maintenance with the DEFERRED-RELABEL state (q368 — the
    * 100 TB durability shape): instead of swapping the full labels
    * table every trigger (O(corpus) durable I/O), each micro-batch
    * appends only its new endpoints' label rows and folds the
    * batch-bounded patch into a terminal patch map
    * ([[Dedup.ccIncrementalPatch]] / [[Dedup.composePatch]]); reads
    * resolve lazily through one broadcast join. Same full-recompute
    * oracle as q364 — the green row proves the patch-log composition
    * ≡ batch-full — with per-trigger durable I/O independent of corpus
    * size (measured vs the eager swap: PLANS.md §r12 streaming loops at
    * 100×). */
  private val q368 = QDef("q368_stream_cluster_patchlog",
    (s, dir) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      graft.streaming.IngestStreams.runClusterPatchLog(s, dir,
        s"graft_spl_$tag", cut0 = 300, cut1 = 450)
    },
    Some(clusterCensusOracleSql(300)))

  /** [[graft.streaming.IngestStreams.runClusterPatchLogMulti]]: the
    * patch-log loop over FOUR arrival days with the size-triggered
    * AUTO-FOLD live (q374 — r12 judge directive 2: the fold was
    * test-invoked only, so a production stream's patch map grew with
    * total moves until a human folded it). `foldFactor = 0.05` forces
    * folds mid-stream on this fixture, so the green row proves a
    * mid-run fold (base re-materialized, appends cleared, patch reset)
    * composes with LATER batches' merges — fold → merge → fold → merge
    * — to the same full-recompute census as never folding. The
    * fold-count assertion lives in the unit suite (DurabilitySpec);
    * order-independence makes the oracle q364's census at cut 150. */
  private val q374 = QDef("q374_stream_autofold_patchlog",
    (s, dir) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      graft.streaming.IngestStreams.runClusterPatchLogMulti(s, dir,
        s"graft_saf_$tag", cuts = Seq(150, 250, 350, 450),
        foldFactor = 0.05)
    },
    Some(clusterCensusOracleSql(150)))

  /** [[graft.streaming.IngestStreams.runSplitStableIngest]]: the ingest
    * END-STATE — split-stable assignment maintained under the stream
    * (q356's semantics applied day after day, state carried across
    * micro-batches, signatures appended so later days connect). The
    * oracle replays the SEQUENTIAL chain — three CC stages (corpus,
    * corpus ∪ day 1, all) and both inheritance steps — proving the
    * incremental state composition equals the from-scratch sequential
    * analysis. */
  private val q365 = QDef("q365_stream_split_stable",
    (s, dir) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      graft.streaming.IngestStreams.runSplitStableIngest(s, dir,
        s"graft_sss_$tag", cut0 = 300, cut1 = 450, salt = "sss")
    },
    Some(s"""WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t
      |      FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(
      |        range(0, len(t) - 2),
      |        i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingles
      |      FROM toks WHERE len(t) >= 3),
      |hs AS (SELECT doc_id, list_transform(shingles, s ->
      |        ('0x' || substr(md5(s), 1, 7))::BIGINT) AS hh
      |      FROM sh WHERE len(shingles) > 0),
      |sig AS (SELECT doc_id, $sigSql16 AS sig FROM hs),
      |bands AS MATERIALIZED (SELECT doc_id, b,
      |        list_slice(sig, 4*b + 1, 4*b + 4) AS bucket
      |      FROM sig, range(0, 4) AS r(b)),
      |mp0 AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |      FROM bands a JOIN bands b ON a.b = b.b AND a.bucket = b.bucket
      |        AND a.doc_id < b.doc_id AND b.doc_id < 300),
      |ed0 AS (SELECT id_a AS src, id_b AS dst FROM mp0
      |      UNION ALL SELECT id_b, id_a FROM mp0),
      |rc0(id, comp) AS (
      |  SELECT src, src FROM ed0
      |  UNION
      |  SELECT e.src, r.comp FROM ed0 e JOIN rc0 r ON e.dst = r.id),
      |lab0 AS (SELECT id, min(comp) AS comp FROM rc0 GROUP BY id),
      |a0 AS (SELECT dd.doc_id AS id,
      |        CASE WHEN hv < 800000 THEN 'train'
      |             WHEN hv < 900000 THEN 'val' ELSE 'test' END AS sp
      |      FROM (SELECT d2.doc_id,
      |          ('0x' || substr(md5(CAST(coalesce(l.comp, d2.doc_id)
      |            AS VARCHAR) || 'sss'), 1, 15))::BIGINT % 1000000 AS hv
      |        FROM documents d2 LEFT JOIN lab0 l ON d2.doc_id = l.id
      |        WHERE d2.doc_id < 300) dd),
      |mp1 AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |      FROM bands a JOIN bands b ON a.b = b.b AND a.bucket = b.bucket
      |        AND a.doc_id < b.doc_id AND b.doc_id < 450),
      |ed1 AS (SELECT id_a AS src, id_b AS dst FROM mp1
      |      UNION ALL SELECT id_b, id_a FROM mp1),
      |rc1(id, comp) AS (
      |  SELECT src, src FROM ed1
      |  UNION
      |  SELECT e.src, r.comp FROM ed1 e JOIN rc1 r ON e.dst = r.id),
      |lab1 AS (SELECT id, min(comp) AS comp FROM rc1 GROUP BY id),
      |c1 AS (SELECT d2.doc_id, coalesce(l.comp, d2.doc_id) AS comp
      |      FROM documents d2 LEFT JOIN lab1 l ON d2.doc_id = l.id
      |      WHERE d2.doc_id < 450),
      |om1 AS (SELECT c1.comp, a0.sp, a0.id
      |      FROM c1 JOIN a0 ON c1.doc_id = a0.id),
      |inh1 AS (SELECT comp, min_by(sp, id) AS isp FROM om1 GROUP BY comp),
      |d1 AS (SELECT cb.doc_id AS id,
      |        CASE WHEN i.comp IS NOT NULL THEN i.isp
      |             WHEN cb.hv1 < 800000 THEN 'train'
      |             WHEN cb.hv1 < 900000 THEN 'val' ELSE 'test' END AS sp
      |      FROM (SELECT doc_id, comp,
      |          ('0x' || substr(md5(CAST(comp AS VARCHAR) || 'sss'),
      |            1, 15))::BIGINT % 1000000 AS hv1
      |        FROM c1 WHERE doc_id >= 300) cb
      |      LEFT JOIN inh1 i USING (comp)),
      |a1 AS (SELECT id, sp FROM a0 UNION ALL SELECT id, sp FROM d1),
      |mp AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |      FROM bands a JOIN bands b ON a.b = b.b AND a.bucket = b.bucket
      |        AND a.doc_id < b.doc_id),
      |ed AS (SELECT id_a AS src, id_b AS dst FROM mp
      |      UNION ALL SELECT id_b, id_a FROM mp),
      |rc(id, comp) AS (
      |  SELECT src, src FROM ed
      |  UNION
      |  SELECT e.src, r.comp FROM ed e JOIN rc r ON e.dst = r.id),
      |lab AS (SELECT id, min(comp) AS comp FROM rc GROUP BY id),
      |c2 AS (SELECT d2.doc_id, coalesce(l.comp, d2.doc_id) AS comp
      |      FROM documents d2 LEFT JOIN lab l ON d2.doc_id = l.id),
      |om2 AS (SELECT c2.comp, a1.sp, a1.id
      |      FROM c2 JOIN a1 ON c2.doc_id = a1.id),
      |inh2 AS (SELECT comp, min_by(sp, id) AS isp FROM om2 GROUP BY comp),
      |d2s AS (SELECT cb.doc_id AS id,
      |        CASE WHEN i.comp IS NOT NULL THEN i.isp
      |             WHEN cb.hv2 < 800000 THEN 'train'
      |             WHEN cb.hv2 < 900000 THEN 'val' ELSE 'test' END AS sp
      |      FROM (SELECT doc_id, comp,
      |          ('0x' || substr(md5(CAST(comp AS VARCHAR) || 'sss'),
      |            1, 15))::BIGINT % 1000000 AS hv2
      |        FROM c2 WHERE doc_id >= 450) cb
      |      LEFT JOIN inh2 i USING (comp)),
      |fin AS (SELECT c2.comp, x.sp FROM
      |      (SELECT id, sp FROM a1 UNION ALL SELECT id, sp FROM d2s) x
      |      JOIN c2 ON x.id = c2.doc_id),
      |nsp AS (SELECT comp, count(DISTINCT sp) AS n FROM fin GROUP BY comp),
      |confm AS (SELECT DISTINCT f.comp, f.sp FROM fin f
      |      JOIN nsp ON f.comp = nsp.comp AND nsp.n >= 2),
      |spine AS (SELECT * FROM (VALUES ('test'), ('train'), ('val'))
      |      AS s(split)),
      |nd AS (SELECT sp AS split, count(*) AS n FROM fin GROUP BY sp),
      |nc AS (SELECT sp AS split, count(*) AS n FROM confm GROUP BY sp)
      |SELECT spine.split,
      |  coalesce(nd.n, CAST(0 AS BIGINT)) AS n_docs,
      |  coalesce(nc.n, CAST(0 AS BIGINT)) AS n_conflict_components
      |FROM spine LEFT JOIN nd USING (split) LEFT JOIN nc USING (split)
      |ORDER BY split""".stripMargin))

  /** [[graft.streaming.IngestStreams.runSplitStablePatchLog]]: q365 on
    * the PATCH-LOG state (q369) — the ORDER-DEPENDENT loop with
    * O(batch)-per-trigger durable I/O: splits never move by contract,
    * so the only corpus-wide effect of a batch is the comp relabel,
    * deferred into the folded patch map
    * ([[Dedup.splitStableAssignPatch]]); batch assignment rows append
    * idempotently. Same sequential-chain oracle as q365 — the green
    * row proves the deferred day-after-day composition equals the
    * from-scratch sequential analysis. */
  private val q369 = QDef("q369_stream_split_patchlog",
    (s, dir) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      graft.streaming.IngestStreams.runSplitStablePatchLog(s, dir,
        s"graft_spp_$tag", cut0 = 300, cut1 = 450, salt = "sss")
    },
    q365.oracle)

  /** [[TrainOrder.shardAssign]]: the training-run OUTPUT order —
    * documents permuted by a seeded md5 key and cut into contiguous
    * 1000-token shards by the exclusive running token sum. The engine
    * computes the global cumulative sum as a two-phase distributed
    * prefix sum (per-hash-prefix-bucket windows + a 256-row bucket
    * offset spine — no global window anywhere); the oracle verifies it
    * against DuckDB's naive global running sum. */
  private val q390 = QDef("q390_shard_assign",
    (s, dir) => TrainOrder.shardAssign(
      T(s, dir, "documents").where(col("text").isNotNull),
      col("doc_id"), size(split(col("text"), " ")), seed = "s42",
      shardTokens = 1000L),
    Some("""WITH d AS (SELECT doc_id,
      |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |        md5('s42:' || CAST(doc_id AS VARCHAR)) AS k
      |      FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
      |o AS (SELECT doc_id, n_tok,
      |        CAST(row_number() OVER (ORDER BY k, doc_id) AS BIGINT)
      |          AS global_pos,
      |        CAST(sum(n_tok) OVER (ORDER BY k, doc_id
      |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
      |      FROM d)
      |SELECT doc_id, n_tok, global_pos, cum_tok,
      |  (cum_tok - n_tok) // 1000 AS shard_id
      |FROM o ORDER BY global_pos""".stripMargin))

  /** [[TrainOrder.shardStats]]: the per-shard balance report over q390's
    * assignment — every shard's token fill but the last lands within
    * max-doc of shardTokens. */
  private val q391 = QDef("q391_shard_stats",
    (s, dir) => TrainOrder.shardStats(
      T(s, dir, "documents").where(col("text").isNotNull),
      col("doc_id"), size(split(col("text"), " ")), seed = "s42",
      shardTokens = 1000L),
    Some("""WITH d AS (SELECT doc_id,
      |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |        md5('s42:' || CAST(doc_id AS VARCHAR)) AS k
      |      FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
      |o AS (SELECT doc_id, n_tok,
      |        CAST(row_number() OVER (ORDER BY k, doc_id) AS BIGINT)
      |          AS global_pos,
      |        CAST(sum(n_tok) OVER (ORDER BY k, doc_id
      |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
      |      FROM d)
      |SELECT (cum_tok - n_tok) // 1000 AS shard_id,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS tokens,
      |  CAST(min(global_pos) AS BIGINT) AS first_pos,
      |  CAST(max(global_pos) AS BIGINT) AS last_pos
      |FROM o GROUP BY 1 ORDER BY shard_id""".stripMargin))

  /** [[TrainOrder.strideInterleave]]: deterministic proportional source
    * interleave (stride scheduling at parts 3:2:2:1) — the actual
    * training order a data loader walks. The engine computes each row's
    * global position in CLOSED FORM (per-row integer arithmetic against
    * a one-row per-source-count broadcast — zero global sorts); the
    * oracle ranks the naive way with a global window. */
  private val q392 = QDef("q392_stride_interleave",
    (s, dir) => TrainOrder.strideInterleave(T(s, dir, "documents"),
      col("doc_id"), col("source"),
      Seq("src0" -> 3L, "src1" -> 2L, "src2" -> 2L, "src3" -> 1L),
      seed = "s42"),
    Some("""WITH d AS (SELECT doc_id, source,
      |        md5('s42:' || CAST(doc_id AS VARCHAR)) AS k
      |      FROM documents
      |      WHERE source IN ('src0', 'src1', 'src2', 'src3')),
      |r AS (SELECT doc_id, source,
      |        CAST(row_number() OVER (PARTITION BY source
      |          ORDER BY k, doc_id) AS BIGINT) AS src_pos
      |      FROM d),
      |v AS (SELECT doc_id, source, src_pos,
      |        src_pos * CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 3
      |          WHEN 'src2' THEN 3 ELSE 6 END AS vt
      |      FROM r)
      |SELECT doc_id, source, src_pos, CAST(vt AS BIGINT) AS vt,
      |  CAST(row_number() OVER (ORDER BY vt, source, src_pos) AS BIGINT)
      |    AS global_pos
      |FROM v ORDER BY global_pos""".stripMargin))

  /** [[TrainOrder.cappedTokenBudgetPlan]]: q319's mixture plan under a
    * per-source epoch cap (data-constrained water-filling, maxEpochs=2
    * at a 10.5k budget tuned so the sf0.01 cascade is MULTI-round:
    * src0 caps against the full denominator, the re-distributed budget
    * then caps src1/src2 in round 2, and src3 absorbs the rest uncapped) —
    * budget a capped source cannot absorb re-distributes over the
    * uncapped parts. The oracle unrolls the ≤4 water-fill rounds as
    * CTEs with exact HUGEINT compares. */
  private val q393 = QDef("q393_capped_budget_plan",
    (s, dir) => TrainOrder.cappedTokenBudgetPlan(
      T(s, dir, "documents")
        .select(col("source"), size(split(col("text"), " ")).as("nt")),
      col("source"), col("nt"),
      Seq("src0" -> 3L, "src1" -> 2L, "src2" -> 2L, "src3" -> 1L),
      budget = 10500L, maxEpochs = 2L),
    Some(s"""WITH d AS (SELECT source AS src,
      |        CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
      |        CASE source WHEN 'src0' THEN 3 WHEN 'src1' THEN 2
      |          WHEN 'src2' THEN 2 WHEN 'src3' THEN 1 ELSE 0 END AS p
      |      FROM documents WHERE source IS NOT NULL AND text IS NOT NULL),
      |per AS (SELECT src, p, CAST(count(*) AS BIGINT) AS n_docs,
      |        CAST(sum(nt) AS BIGINT) AS tokens
      |      FROM d WHERE p > 0 GROUP BY 1, 2),
      |t1 AS (SELECT CAST(sum(CAST(p AS HUGEINT) * tokens) AS HUGEINT)
      |          AS den, CAST(10500 AS HUGEINT) AS b FROM per),
      |c1 AS (SELECT per.*, den > 0 AND CAST(p AS HUGEINT) * b > 2 * den
      |          AS cap FROM per CROSS JOIN t1),
      |t2 AS (SELECT CAST(sum(CASE WHEN NOT cap
      |            THEN CAST(p AS HUGEINT) * tokens END) AS HUGEINT) AS den,
      |        (SELECT b FROM t1) - coalesce(sum(CASE WHEN cap
      |            THEN 2 * CAST(tokens AS HUGEINT) END), 0) AS b FROM c1),
      |c2 AS (SELECT c1.src, c1.p, c1.n_docs, c1.tokens, c1.cap OR
      |          (den > 0 AND CAST(c1.p AS HUGEINT) * b > 2 * den) AS cap
      |        FROM c1 CROSS JOIN t2),
      |t3 AS (SELECT CAST(sum(CASE WHEN NOT cap
      |            THEN CAST(p AS HUGEINT) * tokens END) AS HUGEINT) AS den,
      |        (SELECT b FROM t1) - coalesce(sum(CASE WHEN cap
      |            THEN 2 * CAST(tokens AS HUGEINT) END), 0) AS b FROM c2),
      |c3 AS (SELECT c2.src, c2.p, c2.n_docs, c2.tokens, c2.cap OR
      |          (den > 0 AND CAST(c2.p AS HUGEINT) * b > 2 * den) AS cap
      |        FROM c2 CROSS JOIN t3),
      |t4 AS (SELECT CAST(sum(CASE WHEN NOT cap
      |            THEN CAST(p AS HUGEINT) * tokens END) AS HUGEINT) AS den,
      |        (SELECT b FROM t1) - coalesce(sum(CASE WHEN cap
      |            THEN 2 * CAST(tokens AS HUGEINT) END), 0) AS b FROM c3),
      |c4 AS (SELECT c3.src, c3.p, c3.n_docs, c3.tokens, c3.cap OR
      |          (den > 0 AND CAST(c3.p AS HUGEINT) * b > 2 * den) AS cap
      |        FROM c3 CROSS JOIN t4),
      |t5 AS (SELECT CAST(sum(CASE WHEN NOT cap
      |            THEN CAST(p AS HUGEINT) * tokens END) AS HUGEINT) AS den,
      |        (SELECT b FROM t1) - coalesce(sum(CASE WHEN cap
      |            THEN 2 * CAST(tokens AS HUGEINT) END), 0) AS b FROM c4)
      |SELECT src AS source, n_docs, tokens, CAST(p AS BIGINT) AS mix_parts,
      |  cap AS capped,
      |  CASE WHEN cap THEN 2.0 ELSE
      |    ${Seal.sqlRatio4("(CAST(p AS HUGEINT) * b)", "(nullif(den, 0))")}
      |    END AS epochs,
      |  CASE WHEN cap THEN CAST(2 * tokens AS DOUBLE) ELSE
      |    ${Seal.sqlRatio4("(CAST(p AS HUGEINT) * tokens * b)",
           "(nullif(den, 0))")}
      |    END AS tokens_served
      |FROM c4 CROSS JOIN t5 ORDER BY source""".stripMargin))

  /** [[TrainOrder.rankResumePlan]]: the data-loader checkpoint/resume
    * lookup — 8 ranks, each starting at token offset ⌊T·r/8⌋ of the
    * q390 order; for each rank the document containing its offset, the
    * shard, and the within-doc skip. The engine inverts the prefix sum
    * in closed form (per-row rank-range + explode, zero corpus joins);
    * the oracle does the naive rank-spine × corpus range join. */
  private val q394 = QDef("q394_rank_resume",
    (s, dir) => TrainOrder.rankResumePlan(
      T(s, dir, "documents").where(col("text").isNotNull),
      col("doc_id"), size(split(col("text"), " ")), seed = "s42",
      shardTokens = 1000L, ranks = 8),
    Some("""WITH d AS (SELECT doc_id,
      |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |        md5('s42:' || CAST(doc_id AS VARCHAR)) AS k
      |      FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
      |o AS (SELECT doc_id, n_tok,
      |        CAST(row_number() OVER (ORDER BY k, doc_id) AS BIGINT)
      |          AS global_pos,
      |        CAST(sum(n_tok) OVER (ORDER BY k, doc_id
      |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
      |      FROM d),
      |t AS (SELECT CAST(sum(n_tok) AS BIGINT) AS tt FROM d),
      |r AS (SELECT CAST(unnest(range(0, 8)) AS BIGINT) AS rank),
      |ro AS (SELECT rank, (tt * rank) // 8 AS start_offset
      |       FROM r CROSS JOIN t)
      |SELECT ro.rank, ro.start_offset, o.doc_id, o.global_pos,
      |  (o.cum_tok - o.n_tok) // 1000 AS shard_id,
      |  ro.start_offset - (o.cum_tok - o.n_tok) AS skip_tokens, o.n_tok
      |FROM ro JOIN o ON ro.start_offset >= o.cum_tok - o.n_tok
      |              AND ro.start_offset < o.cum_tok
      |ORDER BY ro.rank""".stripMargin))

  /** [[TrainOrder.epochDisplacement]]: proof the per-epoch reseed
    * decorrelates — per decile of the epoch-A order, mean and max
    * absolute displacement under epoch B (independent permutations ⇒
    * mean ≈ n/3 everywhere; a broken reseed shows ~0). */
  private val q395 = QDef("q395_epoch_displacement",
    (s, dir) => TrainOrder.epochDisplacement(T(s, dir, "documents"),
      col("doc_id"), seedA = "e0", seedB = "e1"),
    Some(s"""WITH d AS (SELECT doc_id FROM documents
      |       WHERE doc_id IS NOT NULL),
      |a AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY
      |        md5('e0:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
      |          AS pos_a FROM d),
      |b AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY
      |        md5('e1:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
      |          AS pos_b FROM d),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM d),
      |j AS (SELECT ((a.pos_a - 1) * 10) // nn AS decile,
      |        abs(a.pos_a - b.pos_b) AS dd
      |      FROM a JOIN b USING (doc_id) CROSS JOIN n),
      |g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
      |        CAST(sum(dd) AS BIGINT) AS s,
      |        CAST(max(dd) AS BIGINT) AS max_disp
      |      FROM j GROUP BY 1)
      |SELECT decile, n_docs,
      |  ${Seal.sqlRatio4("s", "n_docs")} AS mean_abs_disp, max_disp
      |FROM g ORDER BY decile""".stripMargin))

  /** [[TrainOrder.curriculumOrder]]: the easy→hard loader order —
    * stages = score deciles (distributed ntile), seeded shuffle INSIDE
    * each stage so within-stage order leaks no ranking. Score = the
    * ttr6 quality proxy (q295's convention). The oracle replays the
    * two-rank chain with naive global windows. */
  private val q396 = QDef("q396_curriculum_order",
    (s, dir) => {
      val toks = split(col("text"), " ")
      TrainOrder.curriculumOrder(
        T(s, dir, "documents").where(col("text").isNotNull),
        col("doc_id"),
        round(size(array_distinct(toks)).cast("double") / size(toks) *
          lit(1e6), 0).cast("long"),
        size(toks), stages = 10, seed = "c1")
    },
    Some("""WITH d AS (SELECT doc_id,
      |        CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
      |        CAST(round(CAST(len(list_distinct(string_split(text, ' ')))
      |          AS DOUBLE) / len(string_split(text, ' ')) * 1000000.0, 0)
      |          AS BIGINT) AS score
      |      FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
      |st AS (SELECT doc_id, score, nt,
      |        CAST(ntile(10) OVER (ORDER BY score, doc_id) AS BIGINT)
      |          AS stage,
      |        md5('c1:' || CAST(doc_id AS VARCHAR)) AS k
      |      FROM d)
      |SELECT doc_id, score, nt AS n_tok, stage,
      |  CAST(row_number() OVER (PARTITION BY stage ORDER BY k, doc_id)
      |    AS BIGINT) AS stage_pos,
      |  CAST(row_number() OVER (ORDER BY stage, k, doc_id) AS BIGINT)
      |    AS global_pos
      |FROM st ORDER BY global_pos""".stripMargin))

  /** [[TrainOrder.curriculumPacing]]: per-stage doc/token volumes with
    * the cumulative token count — where in the token stream each
    * difficulty step lands. */
  private val q397 = QDef("q397_curriculum_pacing",
    (s, dir) => {
      val toks = split(col("text"), " ")
      TrainOrder.curriculumPacing(
        T(s, dir, "documents").where(col("text").isNotNull),
        col("doc_id"),
        round(size(array_distinct(toks)).cast("double") / size(toks) *
          lit(1e6), 0).cast("long"),
        size(toks), stages = 10, seed = "c1")
    },
    Some("""WITH d AS (SELECT doc_id,
      |        CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
      |        CAST(round(CAST(len(list_distinct(string_split(text, ' ')))
      |          AS DOUBLE) / len(string_split(text, ' ')) * 1000000.0, 0)
      |          AS BIGINT) AS score
      |      FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
      |st AS (SELECT score, nt,
      |        CAST(ntile(10) OVER (ORDER BY score, doc_id) AS BIGINT)
      |          AS stage
      |      FROM d),
      |g AS (SELECT stage, CAST(count(*) AS BIGINT) AS n_docs,
      |        CAST(sum(nt) AS BIGINT) AS tokens,
      |        CAST(min(score) AS BIGINT) AS min_score,
      |        CAST(max(score) AS BIGINT) AS max_score
      |      FROM st GROUP BY 1)
      |SELECT stage, n_docs, tokens,
      |  CAST(sum(tokens) OVER (ORDER BY stage ROWS UNBOUNDED PRECEDING)
      |    AS BIGINT) AS cum_tokens,
      |  min_score, max_score
      |FROM g ORDER BY stage""".stripMargin))

  def all: Seq[QDef] = Seq(q336, q337, q338, q339, q340, q341, q342,
    q343, q344, q345, q346, q347, q348, q349, q350, q352, q353, q354, q355,
    q356, q358, q364, q365, q368, q369, q374, q377, q390, q391, q392, q393,
    q394, q395, q396, q397)
}
