package graft

import org.apache.spark.sql.functions._
import Queries.QDef

/** Statistics / graph-ranking / data-layout query batch (q140+): PageRank,
  * quartile RFM segmentation, Z-order layout keys, the TPC-H Q3 join shape,
  * lag-k autocorrelation and Welch's t-test. Same oracle conventions as
  * [[Queries]] / [[ExtQueries]] (FIXTURES.md): integer-quantized sums,
  * round(,4) on derived floats, total ORDER BY.
  */
object StatQueries {
  private def T(s: org.apache.spark.sql.SparkSession, dir: String, n: String) =
    Tables.t(s, dir, n)

  /** One unrolled PageRank iteration as oracle CTEs: quantized per-edge
    * contributions (round(p/deg) longs), exact integer sum per dst, then
    * the damped update — the same fixed-point recipe as
    * [[Graph.pageRank]] and the q110 HITS oracle. */
  private def prIter(i: Int, prev: String): String =
    s"""s$i AS (SELECT d, sum(CAST(round(CAST(p AS DOUBLE) / deg, 0) AS BIGINT)) AS sc
      |       FROM e JOIN deg USING (s) JOIN $prev ON v = s GROUP BY d),
      |p$i AS (SELECT v, CAST(150000 + CAST(round(0.85 *
      |          CAST(coalesce(sc, 0) AS DOUBLE), 0) AS BIGINT) AS BIGINT) AS p
      |       FROM v LEFT JOIN s$i ON d = v)""".stripMargin

  /** [[Graph.pageRank]] over the symmetrized supplier↔part edge list.
    * Vertices are parity-encoded longs (supplier k → 2k, part k → 2k+1):
    * disjoint key spaces WITHOUT string concat — an 8-byte shuffle key
    * instead of a variable-length string across every edge movement. A
    * symmetric graph has no dangling vertices, so no rank leaks. Two
    * iterations: each is one edge shuffle + a vertex-sized broadcast.
    * The oracle unrolls the same two quantized iterations as CTEs. */
  private val q140 = QDef("q140_pagerank",
    (s, dir) => {
      // no pre-distinct: pageRank dedups once after the symmetric union
      val base = T(s, dir, "lineitem").select(
        (col("l_suppkey") * 2).as("a"), (col("l_partkey") * 2 + 1).as("b"))
      val sym = base.union(base.select(col("b").as("a"), col("a").as("b")))
      Graph.pageRank(sym, col("a"), col("b"), iters = 2)
    },
    Some(s"""WITH b AS (SELECT DISTINCT l_suppkey * 2 AS s,
      |           l_partkey * 2 + 1 AS d FROM lineitem),
      |e AS (SELECT s, d FROM b UNION ALL SELECT d, s FROM b),
      |deg AS (SELECT s, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY s),
      |v AS (SELECT s AS v FROM e UNION SELECT d FROM e),
      |p0 AS (SELECT v, CAST(1000000 AS BIGINT) AS p FROM v),
      |${prIter(1, "p0")},
      |${prIter(2, "p1")}
      |SELECT v AS vertex, p AS pr_score FROM p2
      |ORDER BY pr_score DESC, vertex""".stripMargin))

  /** Quartile RFM segmentation: per-customer recency (days since last
    * order), frequency (order count) and monetary (cents, exact long
    * sums), bucketed 1–4 by comparison against exact global quartile cut
    * points, rolled up per 3-digit segment code.
    *
    * Scale note: the cut points are ONE 3×3-value row broadcast onto the
    * customer-sized RFM table — deliberately NOT `ntile()`, whose empty
    * `partitionBy` would funnel the whole table through a single window
    * task (the anti-pattern BASELINE.md flags). Exact percentile is the
    * oracle-comparable choice; the 100 TB swap is approx_percentile. */
  private val q141 = QDef("q141_rfm_segments",
    (s, dir) => {
      val o = T(s, dir, "orders")
      val maxD = o.agg(max(to_date(col("o_orderdate"))).as("mxd"))
      val rfm = o.groupBy("o_custkey")
        .agg(max(to_date(col("o_orderdate"))).as("last_d"),
          count(lit(1)).as("f"),
          sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .as("m_cents"))
        .crossJoin(broadcast(maxD))
        .select(col("o_custkey"), datediff(col("mxd"), col("last_d"))
          .as("r_days"), col("f"), col("m_cents"))
      val cuts = rfm.agg(
        percentile(col("r_days"), lit(0.25)).as("r1"),
        percentile(col("r_days"), lit(0.5)).as("r2"),
        percentile(col("r_days"), lit(0.75)).as("r3"),
        percentile(col("f"), lit(0.25)).as("f1"),
        percentile(col("f"), lit(0.5)).as("f2"),
        percentile(col("f"), lit(0.75)).as("f3"),
        percentile(col("m_cents"), lit(0.25)).as("m1"),
        percentile(col("m_cents"), lit(0.5)).as("m2"),
        percentile(col("m_cents"), lit(0.75)).as("m3"))
      def bucket(v: String, c: String) =
        lit(1) + (col(v) > col(s"${c}1")).cast("int") +
          (col(v) > col(s"${c}2")).cast("int") +
          (col(v) > col(s"${c}3")).cast("int")
      rfm.crossJoin(broadcast(cuts))
        .select((bucket("r_days", "r") * 100 + bucket("f", "f") * 10 +
          bucket("m_cents", "m")).as("segment"), col("m_cents"))
        .groupBy("segment")
        .agg(count(lit(1)).as("n_customers"), sum("m_cents").as("seg_cents"))
        .orderBy("segment")
    },
    Some("""WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS mxd FROM orders),
      |rfm AS (SELECT o_custkey,
      |    date_diff('day', max(CAST(o_orderdate AS DATE)), (SELECT mxd FROM mx))
      |      AS r_days,
      |    CAST(count(*) AS BIGINT) AS f,
      |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      |      AS m_cents
      |  FROM orders GROUP BY 1),
      |cuts AS (SELECT
      |    quantile_cont(r_days, 0.25) AS r1, quantile_cont(r_days, 0.5) AS r2,
      |    quantile_cont(r_days, 0.75) AS r3,
      |    quantile_cont(f, 0.25) AS f1, quantile_cont(f, 0.5) AS f2,
      |    quantile_cont(f, 0.75) AS f3,
      |    quantile_cont(m_cents, 0.25) AS m1, quantile_cont(m_cents, 0.5) AS m2,
      |    quantile_cont(m_cents, 0.75) AS m3
      |  FROM rfm),
      |seg AS (SELECT
      |    (1 + CAST(r_days > r1 AS INT) + CAST(r_days > r2 AS INT)
      |       + CAST(r_days > r3 AS INT)) * 100
      |  + (1 + CAST(f > f1 AS INT) + CAST(f > f2 AS INT)
      |       + CAST(f > f3 AS INT)) * 10
      |  + (1 + CAST(m_cents > m1 AS INT) + CAST(m_cents > m2 AS INT)
      |       + CAST(m_cents > m3 AS INT)) AS segment,
      |    m_cents
      |  FROM rfm CROSS JOIN cuts)
      |SELECT segment, CAST(count(*) AS BIGINT) AS n_customers,
      |  CAST(sum(m_cents) AS BIGINT) AS seg_cents
      |FROM seg GROUP BY 1 ORDER BY 1""".stripMargin))

  /** [[Layout.zorderKey]] layout audit: Morton-interleave the low 8 bits
    * of (suppkey, partkey), bucket into 64 contiguous z-ranges, and report
    * each range's row count and min/max envelope on BOTH dimensions — the
    * per-file statistics a Z-ordered parquet write would give the scan
    * planner. Pure integer bit arithmetic in both engines. */
  private val q142 = QDef("q142_zorder_layout",
    (s, dir) => T(s, dir, "lineitem")
      .select(col("l_suppkey").bitwiseAND(lit(255L)).as("x"),
        col("l_partkey").bitwiseAND(lit(255L)).as("y"),
        Layout.zorderKey(col("l_suppkey"), col("l_partkey"), 8).as("z"))
      .select(shiftright(col("z"), 10).as("z_range"), col("x"), col("y"))
      .groupBy("z_range")
      .agg(count(lit(1)).as("n_rows"),
        min("x").as("x_min"), max("x").as("x_max"),
        min("y").as("y_min"), max("y").as("y_max"))
      .orderBy("z_range"),
    Some(s"""WITH z AS (SELECT
      |    (CAST(l_suppkey AS BIGINT) & 255) AS x,
      |    (CAST(l_partkey AS BIGINT) & 255) AS y,
      |    ${Layout.zorderSql("l_suppkey", "l_partkey", 8)} AS z
      |  FROM lineitem)
      |SELECT (z >> 10) AS z_range, CAST(count(*) AS BIGINT) AS n_rows,
      |  min(x) AS x_min, max(x) AS x_max, min(y) AS y_min, max(y) AS y_max
      |FROM z GROUP BY 1 ORDER BY 1""".stripMargin))

  /** TPC-H Q3 shape (shipping priority, adapted to this schema's
    * `o_orderpriority`): segment-filtered customers broadcast onto
    * date-filtered orders, one big shuffle join to the shipdate-filtered
    * lineitem, top-10 unshipped orders by revenue. Both date filters are
    * scan-level PushedFilters; revenue in exact cents. */
  private val q143 = QDef("q143_shipping_priority",
    (s, dir) => {
      val cust = T(s, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val ord = T(s, dir, "orders")
        .where(expr("o_orderdate < TIMESTAMP '1997-06-30'"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_orderpriority"))
      val li = T(s, dir, "lineitem")
        .where(expr("l_shipdate > TIMESTAMP '1997-06-30'"))
        .select(col("l_orderkey"),
          expr("CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)")
            .as("cents"))
      ord.join(cust, col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(sum("cents").as("revenue_cents"))
        .orderBy(desc("revenue_cents"), col("o_orderkey"))
        .limit(10)
    },
    Some("""SELECT o_orderkey, o_orderdate, o_orderpriority,
      |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
      |    AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1997-06-30'
      |  AND l_shipdate > TIMESTAMP '1997-06-30'
      |GROUP BY 1, 2, 3
      |ORDER BY revenue_cents DESC, o_orderkey LIMIT 10""".stripMargin))

  /** Lag-7 autocorrelation of daily event volume per event_type: the
    * weekly-seasonality probe. Daily counts (exact longs) self-joined at a
    * 7-day offset, then [[Trend.pearson]] over the (count_t, count_t−7)
    * pairs — integer power sums, one rounded ratio. */
  private val q144 = QDef("q144_autocorr_lag7",
    (s, dir) => {
      val daily = T(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val lagged = daily.select(col("event_type"),
        date_add(col("day"), 7).as("day"), col("c").as("c_prev"))
      Trend.pearson(daily.join(lagged, Seq("event_type", "day")),
          col("event_type"), col("c"), col("c_prev"))
        .select(col("g").as("event_type"), col("n"), col("r"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |         CAST(count(*) AS BIGINT) AS c
      |       FROM events GROUP BY 1, 2),
      |pr AS (SELECT a.event_type, a.c AS x, b.c AS y
      |       FROM daily a JOIN daily b
      |       ON a.event_type = b.event_type AND a.day = b.day + 7),
      |su AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |         CAST(sum(x * y) AS BIGINT) AS sxy,
      |         CAST(sum(x * x) AS BIGINT) AS sxx,
      |         CAST(sum(y * y) AS BIGINT) AS syy
      |       FROM pr GROUP BY 1)
      |SELECT event_type, n,
      |  round(CAST(n * sxy - sx * sy AS DOUBLE) /
      |        nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
      |                    CAST(n * syy - sy * sy AS DOUBLE)), 0.0), 4) AS r
      |FROM su ORDER BY event_type""".stripMargin))

  /** [[Trend.welchTTest]]: is src0's document length distributed like
    * src1's? One grouped pass of exact long power sums, closed-form t and
    * Welch–Satterthwaite df mirrored expression-for-expression in the
    * oracle. */
  private val q145 = QDef("q145_welch_ttest",
    (s, dir) => Trend.welchTTest(T(s, dir, "documents"),
        col("source"), col("n_chars"), "src0", "src1")
      .orderBy("label_a"),
    Some("""WITH g AS (SELECT source AS l, CAST(n_chars AS BIGINT) AS v
      |       FROM documents WHERE source IN ('src0', 'src1')),
      |su AS (SELECT
      |    CAST(sum(CASE WHEN l = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN l = 'src0' THEN v ELSE 0 END) AS BIGINT) AS s_a,
      |    CAST(sum(CASE WHEN l = 'src0' THEN v * v ELSE 0 END) AS BIGINT) AS ss_a,
      |    CAST(sum(CASE WHEN l = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN l = 'src1' THEN v ELSE 0 END) AS BIGINT) AS s_b,
      |    CAST(sum(CASE WHEN l = 'src1' THEN v * v ELSE 0 END) AS BIGINT) AS ss_b
      |  FROM g),
      |m AS (SELECT n_a, n_b,
      |    CAST(CASE WHEN s_a < 0
      |      THEN -((2 * CAST(-s_a AS HUGEINT) * 10000 + n_a) // (2 * n_a))
      |      ELSE (2 * CAST(s_a AS HUGEINT) * 10000 + n_a) // (2 * n_a)
      |      END AS DOUBLE) / 10000.0 AS mean_a,
      |    CAST(CASE WHEN s_b < 0
      |      THEN -((2 * CAST(-s_b AS HUGEINT) * 10000 + n_b) // (2 * n_b))
      |      ELSE (2 * CAST(s_b AS HUGEINT) * 10000 + n_b) // (2 * n_b)
      |      END AS DOUBLE) / 10000.0 AS mean_b,
      |    CAST(n_a * ss_a - s_a * s_a AS DOUBLE)
      |      / CAST(n_a * (n_a - 1) AS DOUBLE) / CAST(n_a AS DOUBLE) AS vna,
      |    CAST(n_b * ss_b - s_b * s_b AS DOUBLE)
      |      / CAST(n_b * (n_b - 1) AS DOUBLE) / CAST(n_b AS DOUBLE) AS vnb
      |  FROM su)
      |SELECT 'src0' AS label_a, 'src1' AS label_b, n_a, n_b, mean_a, mean_b,
      |  round((mean_a - mean_b) / nullif(sqrt(vna + vnb), 0.0), 4) AS t_stat,
      |  round((vna + vnb) * (vna + vnb) /
      |    nullif(vna * vna / CAST(n_a - 1 AS DOUBLE)
      |         + vnb * vnb / CAST(n_b - 1 AS DOUBLE), 0.0), 4) AS df_welch
      |FROM m ORDER BY label_a""".stripMargin))

  /** [[LanguageModel.bpePairCounts]]: the corpus' top-30 adjacent
    * character pairs — a BPE tokenizer's first merge candidates. Narrow
    * position explode, one pair-keyed count shuffle. */
  private val q146 = QDef("q146_bpe_pairs",
    (s, dir) => LanguageModel.bpePairCounts(T(s, dir, "documents"),
      col("text"), k = 30),
    Some("""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t
      |       FROM documents),
      |f AS (SELECT t FROM tok WHERE len(t) >= 2),
      |p AS (SELECT unnest(list_transform(range(1, len(t)),
      |        i -> substr(t, i, 2))) AS pair FROM f)
      |SELECT pair, CAST(count(*) AS BIGINT) AS c
      |FROM p GROUP BY 1 ORDER BY c DESC, pair LIMIT 30""".stripMargin))

  /** One BPE training iteration as DuckDB CTEs: pair counts over the
    * symbol table `w${i-1}` → argmax with (count desc, s1, s2)
    * tie-break → LEFT-GREEDY merge apply. Greedy selection without
    * sequential state: within each maximal run of consecutive match
    * positions (gaps-and-islands), exactly the odd occurrences merge —
    * for s1 ≠ s2 runs have length 1 and every match merges, for
    * s1 = s2 this is the "aaaa" → [aa, aa] reference behavior. */
  private def bpeIterCtes(i: Int): String = bpeIterCtesSfx(i, "")

  /** `sfx` namespaces every CTE so one oracle can run several chains
    * (q371 runs three). `ruleFrom` (q371's apply chain) replaces the
    * argmax with an ALREADY-LEARNED rule table — the pair counts and
    * selection CTEs drop away and the left-greedy apply machinery is
    * reused verbatim. */
  private def bpeIterCtesSfx(i: Int, sfx: String,
                             ruleFrom: Option[String] = None): String = {
    val p = i - 1
    val tpDef = ruleFrom match {
      case None =>
        s"""pp$sfx$i AS MATERIALIZED (SELECT s1x, s2x, sum(cnt) AS c FROM
           |      (SELECT cnt, syms[j] AS s1x, syms[j+1] AS s2x FROM u$sfx$i)
           |      GROUP BY 1, 2),
           |tp$sfx$i AS MATERIALIZED (SELECT s1x AS m1, s2x AS m2, c FROM pp$sfx$i
           |      ORDER BY c DESC, s1x, s2x LIMIT 1)""".stripMargin
      case Some(r) =>
        s"""tp$sfx$i AS MATERIALIZED (SELECT m1, m2 FROM $r)"""
    }
    s"""u$sfx$i AS MATERIALIZED (SELECT wid, cnt, unnest(range(1, len(syms))) AS j, syms
       |      FROM w$sfx$p),
       |$tpDef,
       |im$sfx$i AS MATERIALIZED (SELECT u.wid, u.j,
       |        u.j - row_number() OVER (PARTITION BY u.wid ORDER BY u.j)
       |          AS isl
       |      FROM u$sfx$i u, tp$sfx$i t
       |      WHERE u.syms[u.j] = t.m1 AND u.syms[u.j+1] = t.m2),
       |sel$sfx$i AS MATERIALIZED (SELECT wid, j FROM
       |      (SELECT wid, j, row_number() OVER (PARTITION BY wid, isl
       |          ORDER BY j) AS rn FROM im$sfx$i)
       |      WHERE rn % 2 = 1),
       |ps$sfx$i AS MATERIALIZED (SELECT wid, w, cnt, unnest(range(1, len(syms) + 1)) AS j,
       |        syms FROM w$sfx$p),
       |w$sfx$i AS MATERIALIZED (SELECT ps.wid, ps.w, ps.cnt,
       |        list(CASE WHEN sj.j IS NOT NULL
       |               THEN ps.syms[ps.j] || ps.syms[ps.j+1]
       |               ELSE ps.syms[ps.j] END ORDER BY ps.j)
       |          FILTER (WHERE sp.j IS NULL) AS syms
       |      FROM ps$sfx$i ps
       |      LEFT JOIN sel$sfx$i sj ON ps.wid = sj.wid AND ps.j = sj.j
       |      LEFT JOIN sel$sfx$i sp ON ps.wid = sp.wid AND ps.j = sp.j + 1
       |      GROUP BY ps.wid, ps.w, ps.cnt)""".stripMargin
  }

  /** [[LanguageModel.bpeTrain]]: 6 rounds of character-level BPE merge
    * learning over the word-frequency table — the tokenizer-training
    * artifact (merge rules in priority order). The oracle replays every
    * round: vocab pair counts, deterministic argmax, and the
    * left-greedy merge apply via gaps-and-islands odd-occurrence
    * selection. The ORDER BY sits outside the WITH: DuckDB keeps the
    * order of a sort under a materialized-CTE root only while
    * `preserve_insertion_order` is on. */
  private val q359 = QDef("q359_bpe_train",
    (s, dir) => LanguageModel.bpeTrain(T(s, dir, "documents"),
      col("text"), merges = 6),
    Some(s"""SELECT * FROM (
      |WITH wrd AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM
      |      (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |      WHERE len(w) >= 1 GROUP BY w),
      |w0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY w) AS wid, w, cnt,
      |        list_transform(range(1, len(w) + 1),
      |          q -> substr(w, q, 1)) AS syms
      |      FROM wrd),
      |${(1 to 6).map(bpeIterCtes).mkString(",\n")}
      |${(1 to 6).map(i =>
        s"""SELECT CAST($i AS INTEGER) AS merge_idx, m1 AS s1, m2 AS s2,
           |  m1 || m2 AS merged, CAST(c AS BIGINT) AS pair_count
           |FROM tp$i""".stripMargin).mkString("\nUNION ALL\n")}
      |) ORDER BY merge_idx""".stripMargin))

  /** [[LanguageModel.bpeCompressionReport]]: the 6 learned merges
    * APPLIED corpus-wide — per source, word occurrences, characters,
    * post-merge subwords, and the sealed chars-per-subword compression
    * ratio. The oracle extends the q359 replay: the final symbol table
    * w6 IS the applied tokenizer, joined back to the corpus's word
    * occurrences. */
  private val q360 = QDef("q360_bpe_compression",
    (s, dir) => LanguageModel.bpeCompressionReport(T(s, dir, "documents"),
      col("text"), col("source"), merges = 6),
    Some(s"""WITH wrd AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM
      |      (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |      WHERE len(w) >= 1 GROUP BY w),
      |w0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY w) AS wid, w, cnt,
      |        list_transform(range(1, len(w) + 1),
      |          q -> substr(w, q, 1)) AS syms
      |      FROM wrd),
      |${(1 to 6).map(bpeIterCtes).mkString(",\n")},
      |occ AS MATERIALIZED (SELECT source, w FROM
      |      (SELECT source, unnest(string_split(text, ' ')) AS w
      |       FROM documents) WHERE len(w) >= 1),
      |sw AS MATERIALIZED (SELECT w, len(syms) AS ns FROM w6),
      |rep AS (SELECT o.source, CAST(count(*) AS BIGINT) AS n_words,
      |        CAST(sum(len(o.w)) AS BIGINT) AS n_chars,
      |        CAST(sum(s.ns) AS BIGINT) AS n_subwords
      |      FROM occ o JOIN sw s USING (w) GROUP BY o.source)
      |SELECT source, n_words, n_chars, n_subwords,
      |  ${Seal.sqlRatio4("n_chars", "n_subwords")} AS chars_per_subword
      |FROM rep ORDER BY source""".stripMargin))

  /** [[LanguageModel.bpeDriftReport]]: tokenizer drift under corpus
    * growth (q371) — the maintenance measurement completing the set
    * (dedup-index compaction q364, IVF recluster q367, CC-state fold
    * q368): 6 merges trained on the src0 slice (yesterday's corpus was
    * one source; today's crawl added the rest — the distribution-shift
    * regime where a stale tokenizer actually decays) are APPLIED to
    * the full grown corpus and reported per source next to a full
    * retrain. The oracle replays all three chains — old-slice
    * training, the learned rules applied rule-by-rule to the full
    * vocabulary (same gaps-and-islands machinery, argmax replaced by
    * the old chain's rule tables), and the full retrain. */
  private val q371 = QDef("q371_bpe_drift",
    (s, dir) => LanguageModel.bpeDriftReport(T(s, dir, "documents"),
      col("text"), col("source"), col("source") === "src0", merges = 6),
    Some(s"""WITH wrdo AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM
      |      (SELECT unnest(string_split(text, ' ')) AS w FROM documents
      |       WHERE source = 'src0')
      |      WHERE len(w) >= 1 GROUP BY w),
      |wo0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY w) AS wid, w, cnt,
      |        list_transform(range(1, len(w) + 1),
      |          q -> substr(w, q, 1)) AS syms
      |      FROM wrdo),
      |${(1 to 6).map(i => bpeIterCtesSfx(i, "o")).mkString(",\n")},
      |wrd AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM
      |      (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |      WHERE len(w) >= 1 GROUP BY w),
      |wa0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY w) AS wid, w, cnt,
      |        list_transform(range(1, len(w) + 1),
      |          q -> substr(w, q, 1)) AS syms
      |      FROM wrd),
      |${(1 to 6).map(i =>
        bpeIterCtesSfx(i, "a", ruleFrom = Some(s"tpo$i"))).mkString(",\n")},
      |wn0 AS MATERIALIZED (SELECT * FROM wa0),
      |${(1 to 6).map(i => bpeIterCtesSfx(i, "n")).mkString(",\n")},
      |occ AS MATERIALIZED (SELECT source, w FROM
      |      (SELECT source, unnest(string_split(text, ' ')) AS w
      |       FROM documents) WHERE len(w) >= 1),
      |swo AS MATERIALIZED (SELECT w, len(syms) AS nso FROM wa6),
      |swn AS MATERIALIZED (SELECT w, len(syms) AS nsn FROM wn6),
      |rep AS (SELECT o.source, CAST(count(*) AS BIGINT) AS n_words,
      |        CAST(sum(len(o.w)) AS BIGINT) AS n_chars,
      |        CAST(sum(so.nso) AS BIGINT) AS n_sub_stale,
      |        CAST(sum(sn.nsn) AS BIGINT) AS n_sub_retrained
      |      FROM occ o JOIN swo so USING (w) JOIN swn sn USING (w)
      |      GROUP BY o.source)
      |SELECT source, n_words, n_chars, n_sub_stale, n_sub_retrained,
      |  ${Seal.sqlRatio4("n_chars", "n_sub_stale")} AS cps_stale,
      |  ${Seal.sqlRatio4("n_chars", "n_sub_retrained")} AS cps_retrained
      |FROM rep ORDER BY source""".stripMargin))

  /** [[Trend.ksTest]]: distribution drift between two sources — the
    * Kolmogorov–Smirnov D over document length. The cumulative window
    * runs on the distinct-VALUE table (pre-aggregated), never the corpus. */
  private val q147 = QDef("q147_ks_test",
    (s, dir) => Trend.ksTest(T(s, dir, "documents"),
        col("source"), col("n_chars"), "src0", "src1")
      .orderBy("label_a"),
    Some("""WITH g AS (SELECT source AS l, CAST(n_chars AS BIGINT) AS v
      |       FROM documents WHERE source IN ('src0', 'src1')
      |         AND n_chars IS NOT NULL),
      |cnt AS (SELECT v,
      |    CAST(sum(CASE WHEN l = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(sum(CASE WHEN l = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |  FROM g GROUP BY 1),
      |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
      |               CAST(sum(cb) AS BIGINT) AS n_b FROM cnt),
      |cum AS (SELECT sum(ca) OVER (ORDER BY v) AS cca,
      |               sum(cb) OVER (ORDER BY v) AS ccb FROM cnt)
      |SELECT 'src0' AS label_a, 'src1' AS label_b, n_a, n_b,
      |  CAST((2 * CAST(max(abs(cca * n_b - ccb * n_a)) AS HUGEINT) * 10000
      |    + n_a * n_b) // (2 * n_a * n_b) AS DOUBLE) / 10000.0 AS d_stat
      |FROM cum CROSS JOIN tot
      |GROUP BY 1, 2, 3, 4 ORDER BY label_a""".stripMargin))

  /** Equi-width 20-bin histogram of lineitem price: global min/max as a
    * one-row broadcast, bin = least(floor((v − lo)/width), 19) — the same
    * double arithmetic on both engines, integer counts out. */
  private val q148 = QDef("q148_price_histogram",
    (s, dir) => {
      val g = T(s, dir, "lineitem").select(col("l_extendedprice").as("v"))
      val mm = g.agg(min("v").as("lo"), max("v").as("hi"))
      val wdt = (col("hi") - col("lo")) / lit(20.0)
      g.crossJoin(broadcast(mm))
        .select(least(floor((col("v") - col("lo")) / wdt), lit(19L))
          .as("bin"), col("lo"), col("hi"))
        .groupBy("bin", "lo", "hi").agg(count(lit(1)).as("n_rows"))
        .select(col("bin"),
          round(col("lo") + col("bin").cast("double") * wdt, 4).as("bin_lo"),
          round(col("lo") + (col("bin") + lit(1L)).cast("double") * wdt, 4)
            .as("bin_hi"),
          col("n_rows"))
        .orderBy("bin")
    },
    Some("""WITH mm AS (SELECT min(l_extendedprice) AS lo,
      |               max(l_extendedprice) AS hi FROM lineitem),
      |b AS (SELECT least(floor((l_extendedprice - lo) / ((hi - lo) / 20.0)),
      |        19) AS bin, lo, hi
      |      FROM lineitem CROSS JOIN mm)
      |SELECT CAST(bin AS BIGINT) AS bin,
      |  round(lo + CAST(bin AS DOUBLE) * ((hi - lo) / 20.0), 4) AS bin_lo,
      |  round(lo + CAST(bin + 1 AS DOUBLE) * ((hi - lo) / 20.0), 4) AS bin_hi,
      |  CAST(count(*) AS BIGINT) AS n_rows
      |FROM b GROUP BY bin, lo, hi ORDER BY 1""".stripMargin))

  /** percent_rank + cume_dist of suppliers by total revenue. The
    * supplier aggregate scales WITH the corpus (TPC-H suppliers grow
    * with SF), so the rank comes from the distributed [[Ranked]] device
    * and both statistics compute in closed form from (rn, n) — the
    * (rev, key) compound order is tie-free, so rank = row_number,
    * percent_rank = (rn−1)/(n−1), cume_dist = rn/n, the exact doubles
    * the window functions produce. */
  private val q149 = QDef("q149_revenue_pct_rank",
    (s, dir) => {
      val rev = T(s, dir, "lineitem").groupBy("l_suppkey")
        .agg(sum(expr(
          "CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)"))
          .as("rev_cents"))
      Ranked.withRowNumber(rev, Seq(col("rev_cents"), col("l_suppkey")),
          "__rn")
        .crossJoin(broadcast(rev.agg(count(lit(1)).as("__n"))))
        .select(col("l_suppkey"), col("rev_cents"),
          when(col("__n") > 1L,
            round((col("__rn") - 1L).cast("double") /
              (col("__n") - 1L).cast("double"), 4)).otherwise(0.0)
            .as("pct_rank"),
          round(col("__rn").cast("double") / col("__n").cast("double"), 4)
            .as("cume"))
        .orderBy("l_suppkey")
    },
    Some("""WITH rev AS (SELECT l_suppkey,
      |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
      |      AS BIGINT)) AS BIGINT) AS rev_cents
      |  FROM lineitem GROUP BY 1)
      |SELECT l_suppkey, rev_cents,
      |  round(percent_rank() OVER (ORDER BY rev_cents, l_suppkey), 4)
      |    AS pct_rank,
      |  round(cume_dist() OVER (ORDER BY rev_cents, l_suppkey), 4) AS cume
      |FROM rev ORDER BY l_suppkey""".stripMargin))

  /** [[Trend.ewmaDaily]] over daily order revenue (α = 0.3, 14-day
    * horizon): the integer-weight EWMA — identical literal weight longs
    * land in both engines, so the smoothing is exact integer sums until
    * one final division. */
  private val q150 = QDef("q150_ewma_daily_revenue",
    (s, dir) => Trend.ewmaDaily(
      T(s, dir, "orders").groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
          .as("cents")),
      col("day"), col("cents"), alpha = 0.3, horizon = 13),
    Some {
      val weights = Trend.ewmaWeights(0.3, 13)
        .map { case (d, w) => s"($d, $w)" }.mkString(", ")
      s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |w(lag_d, wt) AS (VALUES $weights),
        |t AS (SELECT day + lag_d AS day2, wt * cents AS term, wt
        |      FROM daily CROSS JOIN w),
        |a AS (SELECT day2 AS day, CAST(sum(term) AS BIGINT) AS st,
        |        CAST(sum(wt) AS BIGINT) AS sw
        |      FROM t GROUP BY 1)
        |SELECT d.day, d.cents,
        |  CAST(CASE WHEN st < 0
        |    THEN -((2 * CAST(-st AS HUGEINT) * 10000 + sw) // (2 * sw))
        |    ELSE (2 * CAST(st AS HUGEINT) * 10000 + sw) // (2 * sw)
        |    END AS DOUBLE) / 10000.0 AS ewma
        |FROM daily d JOIN a USING (day) ORDER BY day""".stripMargin
    })

  /** [[Trend.skewKurtosis]] of order quantity per returnflag: third and
    * fourth standardized moments from four exact long power sums — one
    * map-side-combinable aggregation. */
  private val q151 = QDef("q151_skew_kurtosis",
    (s, dir) => Trend.skewKurtosis(T(s, dir, "lineitem"),
        col("l_returnflag"), col("l_quantity"))
      .select(col("g").as("l_returnflag"), col("n"), col("mean"),
        col("skewness"), col("kurtosis"))
      .orderBy("l_returnflag"),
    Some("""WITH g AS (SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x
      |       FROM lineitem),
      |su AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(x) AS BIGINT) AS s1, CAST(sum(x * x) AS BIGINT) AS s2,
      |         CAST(sum(x * x * x) AS BIGINT) AS s3,
      |         CAST(sum(x * x * x * x) AS BIGINT) AS s4
      |       FROM g GROUP BY 1),
      |m AS (SELECT g, n, s1,
      |        CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
      |        CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
      |        CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
      |        CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
      |      FROM su),
      |c AS (SELECT g, n, s1, mu,
      |        r2 - mu * mu AS m2,
      |        r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
      |        r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
      |           - 3.0 * mu * mu * mu * mu AS m4
      |      FROM m)
      |SELECT g AS l_returnflag, n,
      |  CAST(CASE WHEN s1 < 0
      |    THEN -((2 * CAST(-s1 AS HUGEINT) * 10000 + n) // (2 * n))
      |    ELSE (2 * CAST(s1 AS HUGEINT) * 10000 + n) // (2 * n)
      |    END AS DOUBLE) / 10000.0 AS mean,
      |  round(m3 / nullif(m2 * sqrt(m2), 0.0), 4) AS skewness,
      |  round(m4 / nullif(m2 * m2, 0.0) - 3.0, 4) AS kurtosis
      |FROM c ORDER BY l_returnflag""".stripMargin))

  /** [[Similarity.rrfFuse]]: hybrid-retrieval rank fusion over two
    * top-200 candidate lists (longest docs; most-token docs — stand-ins
    * for the lexical and dense lists whose producers q92/q29 already
    * cover). Candidate ranks are assigned AFTER the bounded ordered take,
    * so the window sorts 200 rows, never the corpus. */
  private val q152 = QDef("q152_rrf_fusion",
    (s, dir) => {
      val docs = T(s, dir, "documents")
      def top200(m: org.apache.spark.sql.Column) = {
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(desc("m"), col("id"))
        docs.select(col("doc_id").as("id"), m.as("m"))
          .orderBy(desc("m"), col("id")).limit(200)
          .select(col("id"), row_number().over(w).as("rank"))
      }
      Similarity.rrfFuse(top200(col("n_chars")),
          top200(size(split(col("text"), " ")).cast("long")), kConst = 60)
        .limit(30)
    },
    Some("""WITH a AS (SELECT id, ra FROM (SELECT doc_id AS id, row_number()
      |        OVER (ORDER BY n_chars DESC, doc_id) AS ra FROM documents)
      |       WHERE ra <= 200),
      |b AS (SELECT id, rb FROM (SELECT doc_id AS id, row_number()
      |        OVER (ORDER BY len(string_split(text, ' ')) DESC, doc_id) AS rb
      |      FROM documents) WHERE rb <= 200),
      |f AS (SELECT coalesce(a.id, b.id) AS id,
      |        (CASE WHEN ra IS NULL THEN 0.0 ELSE 1.0 / (60 + ra) END) +
      |        (CASE WHEN rb IS NULL THEN 0.0 ELSE 1.0 / (60 + rb) END) AS s
      |      FROM a FULL JOIN b ON a.id = b.id)
      |SELECT id, round(s, 6) AS rrf FROM f
      |ORDER BY rrf DESC, id LIMIT 30""".stripMargin))

  /** [[Cooccur.mutualInformation]] between source and language — the
    * metadata-leakage probe. Exact integer cells/margins; per-cell ln
    * quantized to fixed-point longs before the sum (q108 convention). */
  private val q153 = QDef("q153_mutual_information",
    (s, dir) => Cooccur.mutualInformation(T(s, dir, "documents"),
      col("source"), col("lang")).orderBy("n_cells"),
    Some("""WITH cells AS (SELECT source AS x, lang AS y,
      |         CAST(count(*) AS BIGINT) AS c_xy
      |       FROM documents GROUP BY 1, 2),
      |cx AS (SELECT x, CAST(sum(c_xy) AS BIGINT) AS c_x FROM cells GROUP BY 1),
      |cy AS (SELECT y, CAST(sum(c_xy) AS BIGINT) AS c_y FROM cells GROUP BY 1),
      |tot AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n FROM cells),
      |q AS (SELECT c_xy, n,
      |        CAST(round(ln((CAST(c_xy AS DOUBLE) * n) /
      |          (CAST(c_x AS DOUBLE) * c_y)) * 1000000.0, 0) AS BIGINT) AS lq
      |      FROM cells JOIN cx USING (x) JOIN cy USING (y) CROSS JOIN tot)
      |SELECT CAST(count(*) AS BIGINT) AS n_cells,
      |  round(CAST(sum(c_xy * lq) AS DOUBLE) /
      |    (CAST(max(n) AS DOUBLE) * 1000000.0), 4) AS mi_nats
      |FROM q ORDER BY n_cells""".stripMargin))

  /** Pairwise source-vocabulary Jaccard overlap: DISTINCT (source, term)
    * → term-keyed self-join (vocabulary-sized, map-side-combinable
    * counts) → intersection / union from exact longs. The corpus-health
    * view behind "which sources duplicate each other's content?" */
  private val q154 = QDef("q154_source_vocab_overlap",
    (s, dir) => {
      val v = T(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
        .distinct()
      val sz = v.groupBy("source").agg(count(lit(1)).as("nv"))
      val pairs = v.select(col("source").as("src_a"), col("term"))
        .join(v.select(col("source").as("src_b"), col("term")), Seq("term"))
        .where(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("inter"))
      pairs
        .join(broadcast(sz.select(col("source").as("src_a"),
          col("nv").as("na"))), Seq("src_a"))
        .join(broadcast(sz.select(col("source").as("src_b"),
          col("nv").as("nb"))), Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("inter"),
          round(col("inter").cast("double") /
            (col("na") + col("nb") - col("inter")).cast("double"), 4)
            .as("jaccard"))
        .orderBy(desc("jaccard"), col("src_a"), col("src_b"))
        .limit(30)
    },
    Some("""WITH v AS (SELECT DISTINCT source,
      |         unnest(string_split(text, ' ')) AS term FROM documents),
      |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS nv FROM v GROUP BY 1),
      |p AS (SELECT a.source AS src_a, b.source AS src_b,
      |        CAST(count(*) AS BIGINT) AS inter
      |      FROM v a JOIN v b ON a.term = b.term AND a.source < b.source
      |      GROUP BY 1, 2)
      |SELECT src_a, src_b, inter,
      |  round(CAST(inter AS DOUBLE) / CAST(na.nv + nb.nv - inter AS DOUBLE), 4)
      |    AS jaccard
      |FROM p JOIN sz na ON na.source = src_a JOIN sz nb ON nb.source = src_b
      |ORDER BY jaccard DESC, src_a, src_b LIMIT 30""".stripMargin))

  /** [[EventStreams.runTopkCounts]]: the Misra-Gries sketch as streaming
    * window state — bounded top-k counters per hour at any key
    * cardinality; exact (and hence oracle-comparable) here because the
    * fixture's 5 event types fit under k = 16. */
  private val q155 = QDef("q155_stream_topk",
    (s, dir) => EventStreams.runTopkCounts(s, dir, k = 16),
    Some("""WITH ev AS (SELECT strftime(date_trunc('hour', ts),
      |          '%Y-%m-%d %H:%M:%S') AS hour_ts, event_type FROM events)
      |SELECT hour_ts, event_type, CAST(count(*) AS BIGINT) AS cnt
      |FROM ev GROUP BY 1, 2 ORDER BY hour_ts, event_type""".stripMargin))

  /** Rolling 7-day z-score anomaly flags on daily event volume: window
    * sums of c and c² are EXACT integer window aggregates, so mean/std/z
    * are fixed double expressions on identical longs. Windows shorter
    * than 2 days have no sample variance → SQL-NULL z via nullif. The
    * monitoring shape: partitioned by event_type, days ordered — bounded
    * frame, never a global sort. */
  private val q156 = QDef("q156_daily_anomalies",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
      val st = T(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
        .select(col("event_type"), col("day"), col("c"),
          sum("c").over(w).as("s"), sum(col("c") * col("c")).over(w).as("ss"),
          count("c").over(w).as("k"))
      val variance = (col("k") * col("ss") - col("s") * col("s"))
        .cast("double") /
        nullif(col("k") * (col("k") - 1), lit(0L)).cast("double")
      st.select(col("event_type"), col("day"), col("c"),
          round((col("c").cast("double") -
            col("s").cast("double") / col("k").cast("double")) /
            nullif(sqrt(variance), lit(0.0)), 4).as("z"))
        .withColumn("is_anomaly",
          when(col("z").isNotNull && abs(col("z")) > 2.0, 1L).otherwise(0L))
        .orderBy("event_type", "day")
    },
    Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |         CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
      |cum AS (SELECT event_type, day, c,
      |    CAST(sum(c) OVER w AS BIGINT) AS s,
      |    CAST(sum(c * c) OVER w AS BIGINT) AS ss,
      |    CAST(count(c) OVER w AS BIGINT) AS k
      |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
      |z AS (SELECT event_type, day, c,
      |    round((CAST(c AS DOUBLE) - CAST(s AS DOUBLE) / CAST(k AS DOUBLE)) /
      |      nullif(sqrt(CAST(k * ss - s * s AS DOUBLE) /
      |        CAST(nullif(k * (k - 1), 0) AS DOUBLE)), 0.0), 4) AS z
      |  FROM cum)
      |SELECT event_type, day, c, z,
      |  CAST(CASE WHEN z IS NOT NULL AND abs(z) > 2.0 THEN 1 ELSE 0 END
      |    AS BIGINT) AS is_anomaly
      |FROM z ORDER BY event_type, day""".stripMargin))

  /** First-significant-digit Benford audit of order totals — the
    * classic synthetic-data / fraud smoke test. floor() before the
    * integer cast on BOTH engines (Spark's double→long cast truncates,
    * DuckDB's rounds — floor removes the divergence); expected digit
    * frequencies are literal constants shared with the oracle; the χ²
    * contribution uses the ROUNDED observed share so both engines
    * quantize the same value. */
  private val q157 = QDef("q157_benford_digits",
    (s, dir) => {
      val digits = T(s, dir, "orders")
        .select(substring(expr("CAST(floor(o_totalprice) AS BIGINT)")
          .cast("string"), 1, 1).as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n_obs"))
      val tot = digits.agg(sum("n_obs").as("nt"))
      val expPct = BenfordPct.foldLeft(lit(null).cast("double")) {
        case (acc, (d, p)) => when(col("digit") === d, lit(p)).otherwise(acc)
      }
      digits.crossJoin(broadcast(tot))
        .select(col("digit"), col("n_obs"), col("nt"),
          Seal.ratio4("n_obs", "nt").as("obs_pct"), expPct.as("benford_pct"))
        .drop("nt")
        .withColumn("chi2_term",
          round((col("obs_pct") - col("benford_pct")) *
            (col("obs_pct") - col("benford_pct")) / col("benford_pct"), 6))
        .orderBy("digit")
    },
    Some {
      val cases = BenfordPct.map { case (d, p) => s"WHEN '$d' THEN $p" }
        .mkString(" ")
      s"""WITH d AS (SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |      AS VARCHAR), 1, 1) AS digit FROM orders),
        |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM d
        |      GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS nt FROM g),
        |p AS (SELECT digit, n_obs,
        |    CAST((2 * CAST(n_obs AS HUGEINT) * 10000 + nt) // (2 * nt)
        |      AS DOUBLE) / 10000.0 AS obs_pct,
        |    CASE digit $cases END AS benford_pct
        |  FROM g CROSS JOIN tot)
        |SELECT digit, n_obs, obs_pct, benford_pct,
        |  round((obs_pct - benford_pct) * (obs_pct - benford_pct)
        |    / benford_pct, 6) AS chi2_term
        |FROM p ORDER BY digit""".stripMargin
    })

  /** [[Trend.corrMatrix]] over four quantized lineitem measures — one
    * corpus pass for all 15 power sums, 6 upper-triangle r values. */
  private val q158 = QDef("q158_corr_matrix",
    (s, dir) => Trend.corrMatrix(T(s, dir, "lineitem"), Seq(
      "disc_bp" -> expr("CAST(round(l_discount * 10000, 0) AS BIGINT)"),
      "dollars" -> expr("CAST(round(l_extendedprice, 0) AS BIGINT)"),
      "qty" -> col("l_quantity"),
      "tax_bp" -> expr("CAST(round(l_tax * 10000, 0) AS BIGINT)"))),
    Some {
      val vars = Seq("disc_bp", "dollars", "qty", "tax_bp")
      val exprs = Map(
        "disc_bp" -> "CAST(round(l_discount * 10000, 0) AS BIGINT)",
        "dollars" -> "CAST(round(l_extendedprice, 0) AS BIGINT)",
        "qty" -> "CAST(l_quantity AS BIGINT)",
        "tax_bp" -> "CAST(round(l_tax * 10000, 0) AS BIGINT)")
      val pairs = for { i <- vars.indices; j <- vars.indices if i < j }
        yield (vars(i), vars(j))
      val moments = vars.flatMap(v => Seq(
        s"CAST(sum(${exprs(v)}) AS BIGINT) AS s_$v",
        s"CAST(sum(${exprs(v)} * ${exprs(v)}) AS BIGINT) AS ss_$v")) ++
        pairs.map { case (a, b) =>
          s"CAST(sum(${exprs(a)} * ${exprs(b)}) AS BIGINT) AS sp_${a}_$b" }
      def varF(v: String) =
        s"(CAST(n AS DOUBLE) * ss_$v - CAST(s_$v AS DOUBLE) * s_$v)"
      val rows = pairs.map { case (a, b) =>
        s"""SELECT '$a' AS var_a, '$b' AS var_b, n,
          |  round((CAST(n AS DOUBLE) * sp_${a}_$b
          |      - CAST(s_$a AS DOUBLE) * s_$b) /
          |    nullif(sqrt(${varF(a)} * ${varF(b)}), 0.0), 4) AS r
          |FROM su""".stripMargin }
      s"""WITH su AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  ${moments.mkString(",\n  ")}
        |  FROM lineitem)
        |${rows.mkString("\nUNION ALL\n")}
        |ORDER BY var_a, var_b""".stripMargin
    })

  /** Pareto concentration report: revenue share of the top 1% / 5% / 10%
    * of suppliers. Rank and cumulative cents come from ONE distributed
    * [[Ranked]] prefix pass over the supplier aggregate (suppliers
    * scale with the corpus — never a single-partition window); the
    * three percentile markers are a 3-row broadcast; equality-matched
    * at rn = ceil(p·n) (identical double ceil in both engines). */
  private val q159 = QDef("q159_pareto_share",
    (s, dir) => {
      val spark = s; import spark.implicits._
      val rev = T(s, dir, "lineitem").groupBy("l_suppkey")
        .agg(sum(expr(
          "CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)"))
          .as("cents"))
      val ranked = Ranked.withPrefix(rev,
        Seq(desc("cents"), col("l_suppkey")),
        Seq(col("cents") -> "cum_cents"), rnOut = Some("rn"))
      val tot = rev.agg(count(lit(1)).as("n"), sum("cents").as("tc"))
      val ps = broadcast(Seq(0.01, 0.05, 0.10).toDF("p"))
      ranked.crossJoin(broadcast(tot)).crossJoin(ps)
        .where(col("rn") === ceil(col("p") * col("n")).cast("long"))
        .select(col("p"), col("rn").cast("long").as("n_top"),
          Seal.ratio4("cum_cents", "tc").as("rev_share"))
        .orderBy("p")
    },
    Some("""WITH rev AS (SELECT l_suppkey,
      |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
      |      AS BIGINT)) AS BIGINT) AS cents
      |  FROM lineitem GROUP BY 1),
      |rk AS (SELECT l_suppkey, cents,
      |    CAST(row_number() OVER (ORDER BY cents DESC, l_suppkey) AS BIGINT)
      |      AS rn,
      |    CAST(sum(cents) OVER (ORDER BY cents DESC, l_suppkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_cents
      |  FROM rev),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |               CAST(sum(cents) AS BIGINT) AS tc FROM rev),
      |ps(p) AS (VALUES (CAST(0.01 AS DOUBLE)), (CAST(0.05 AS DOUBLE)),
      |          (CAST(0.10 AS DOUBLE)))
      |SELECT p, rn AS n_top,
      |  CAST((2 * CAST(cum_cents AS HUGEINT) * 10000 + tc) // (2 * tc)
      |    AS DOUBLE) / 10000.0 AS rev_share
      |FROM rk CROSS JOIN tot CROSS JOIN ps
      |WHERE rn = CAST(ceil(p * n) AS BIGINT)
      |ORDER BY p""".stripMargin))

  /** Shared CTE chain: the co-purchase graph — part pairs co-ordered in
    * ≥ 2 distinct orders (the support threshold that keeps the graph at
    * signal pairs, not corpus² noise). */
  private[graft] val copurchaseCtes =
    """li AS (SELECT l_orderkey, l_partkey FROM lineitem),
      |pr AS (SELECT a.l_partkey AS u, b.l_partkey AS v,
      |         CAST(count(*) AS BIGINT) AS c
      |       FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |         AND a.l_partkey < b.l_partkey
      |       GROUP BY 1, 2),
      |e AS (SELECT u, v, c FROM pr WHERE c >= 2)""".stripMargin

  /** [[Graph.triangleCount]] over the co-purchase graph: exact triangles
    * via degree-ordered orientation — every out-degree bounded by
    * O(√|E|), so wedges stay O(|E|^1.5) on any degree distribution. The
    * oracle replays the same orientation in SQL. */
  private val q160 = QDef("q160_triangle_count",
    (s, dir) => {
      // multiset arrays: row-pair edge weights, same counts as the
      // `<`-predicate self-join but with map-side pair expansion
      val pairs = Cooccur.pairCounts(Cooccur.basketItems(
          T(s, dir, "lineitem"), col("l_orderkey"), col("l_partkey"),
          distinctItems = false))
        .where(col("c_ab") >= 2)
        .select(col("item_a").as("u"), col("item_b").as("v"))
      Graph.triangleCount(pairs, col("u"), col("v"))
    },
    Some(s"""WITH $copurchaseCtes,
      |deg AS (SELECT vert, CAST(count(*) AS BIGINT) AS d
      |        FROM (SELECT u AS vert FROM e UNION ALL SELECT v FROM e)
      |        GROUP BY 1),
      |o AS (SELECT CASE WHEN row(du.d, u) < row(dv.d, v) THEN u ELSE v END AS s,
      |             CASE WHEN row(du.d, u) < row(dv.d, v) THEN v ELSE u END AS t,
      |             CASE WHEN row(du.d, u) < row(dv.d, v) THEN dv.d ELSE du.d END AS dt
      |      FROM e JOIN deg du ON du.vert = u JOIN deg dv ON dv.vert = v),
      |w AS (SELECT o1.t AS y, o2.t AS z
      |      FROM o o1 JOIN o o2 ON o1.s = o2.s
      |      WHERE row(o1.dt, o1.t) < row(o2.dt, o2.t))
      |SELECT (SELECT count(*) FROM deg) AS n_vertices,
      |  (SELECT count(*) FROM e) AS n_edges,
      |  (SELECT count(*) FROM w) AS n_wedges,
      |  (SELECT count(*) FROM w JOIN o ON o.s = w.y AND o.t = w.z)
      |    AS n_triangles""".stripMargin))

  /** Item-item collaborative filtering: each part's top-3 co-purchase
    * neighbors by Jaccard over order sets. Margins are per-part distinct
    * order counts (broadcast); the per-part top-3 is the WindowGroupLimit
    * shape (rank pushed below the sort). */
  private val q161 = QDef("q161_item_neighbors",
    (s, dir) => {
      // set arrays: basket-distinct marginals AND pairs come off the one
      // basket-keyed shuffle (checkpointed — two consumers below)
      val arr = Cooccur.basketItems(T(s, dir, "lineitem"),
        col("l_orderkey"), col("l_partkey"), distinctItems = true)
        .localCheckpoint()
      val m = arr.select(explode(col("its")).as("pk"))
        .groupBy("pk").agg(count(lit(1)).as("mdeg"))
      val pairs = Cooccur.pairCounts(arr).where(col("c_ab") >= 2)
        .select(col("item_a").as("u"), col("item_b").as("v"),
          col("c_ab").as("c"))
      val sym = pairs.select(col("u").as("part_key"), col("v").as("neighbor_key"), col("c"))
        .union(pairs.select(col("v"), col("u"), col("c")))
      val j = sym
        .join(m.select(col("pk").as("part_key"), col("mdeg").as("mu")),
          Seq("part_key"))
        .join(m.select(col("pk").as("neighbor_key"), col("mdeg").as("mv")),
          Seq("neighbor_key"))
        .select(col("part_key"), col("neighbor_key"),
          (col("c").cast("double") /
            (col("mu") + col("mv") - col("c")).cast("double")).as("jacc"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("part_key").orderBy(desc("jacc"), col("neighbor_key"))
      j.select(col("part_key"), col("neighbor_key"),
          round(col("jacc"), 4).as("jaccard"),
          row_number().over(w).cast("long").as("rank"))
        .where(col("rank") <= 3)
        .orderBy("part_key", "rank")
    },
    Some(s"""WITH lid AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |m AS (SELECT l_partkey AS pk, CAST(count(*) AS BIGINT) AS mdeg
      |      FROM lid GROUP BY 1),
      |pr AS (SELECT a.l_partkey AS u, b.l_partkey AS v,
      |         CAST(count(*) AS BIGINT) AS c
      |       FROM lid a JOIN lid b ON a.l_orderkey = b.l_orderkey
      |         AND a.l_partkey < b.l_partkey
      |       GROUP BY 1, 2),
      |e AS (SELECT u, v, c FROM pr WHERE c >= 2),
      |sym AS (SELECT u AS part_key, v AS neighbor_key, c FROM e
      |        UNION ALL SELECT v, u, c FROM e),
      |j AS (SELECT part_key, neighbor_key,
      |        CAST(c AS DOUBLE) / CAST(mu.mdeg + mv.mdeg - c AS DOUBLE) AS jacc
      |      FROM sym JOIN m mu ON mu.pk = part_key
      |        JOIN m mv ON mv.pk = neighbor_key),
      |r AS (SELECT part_key, neighbor_key, round(jacc, 4) AS jaccard,
      |        CAST(row_number() OVER (PARTITION BY part_key
      |          ORDER BY jacc DESC, neighbor_key) AS BIGINT) AS rank
      |      FROM j)
      |SELECT part_key, neighbor_key, jaccard, rank FROM r
      |WHERE rank <= 3 ORDER BY part_key, rank""".stripMargin))

  /** [[Sketches.kmvIntersection]]: click∩purchase audience overlap by
    * inclusion–exclusion on three KMV sketches (A, B, and the union
    * sketch replayed from the same hashed stream). The oracle replays
    * the identical md5 bottom-k estimator per label. */
  private val q162 = QDef("q162_kmv_audience_overlap",
    (s, dir) => Sketches.kmvIntersection(T(s, dir, "events"),
      col("event_type"), "click", "purchase", col("user_id"), k = 64)
      .orderBy("label_a"),
    Some("""WITH g AS (SELECT event_type AS l,
      |        ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
      |          AS h
      |      FROM events WHERE event_type IN ('click', 'purchase')),
      |u AS (SELECT l, h FROM g UNION ALL SELECT '__union', h FROM g),
      |d AS (SELECT DISTINCT l, h FROM u),
      |r AS (SELECT l, h,
      |        row_number() OVER (PARTITION BY l ORDER BY h) AS rn FROM d),
      |kk AS (SELECT l, max(CASE WHEN rn = 64 THEN h END) AS hk,
      |         count(*) AS n FROM r WHERE rn <= 64 GROUP BY 1),
      |e AS (SELECT l, CASE WHEN hk IS NULL THEN CAST(n AS DOUBLE)
      |        ELSE round(63.0 * 1152921504606846976.0 / hk, 4) END AS est
      |      FROM kk),
      |p AS (SELECT max(CASE WHEN l = 'click' THEN est END) AS est_a,
      |             max(CASE WHEN l = 'purchase' THEN est END) AS est_b,
      |             max(CASE WHEN l = '__union' THEN est END) AS est_union
      |      FROM e)
      |SELECT 'click' AS label_a, 'purchase' AS label_b,
      |  est_a, est_b, est_union,
      |  round(est_a + est_b - est_union, 4) AS est_intersection
      |FROM p ORDER BY label_a""".stripMargin))

  /** [[Timeseries.gapFillDaily]] over daily order revenue: calendar-spine
    * densification + forward fill + linear interpolation, endpoints
    * carried as (day, value) structs through ignoreNulls windows. */
  private val q163 = QDef("q163_calendar_gap_fill",
    (s, dir) => Timeseries.gapFillDaily(
      T(s, dir, "orders").groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
          .as("cents")),
      col("day"), col("cents")),
    Some("""WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |mm AS (SELECT min(day) AS lo, max(day) AS hi FROM d),
      |spine AS (SELECT CAST(unnest(generate_series(lo, hi,
      |            INTERVAL 1 DAY)) AS DATE) AS day FROM mm),
      |j AS (SELECT spine.day, d.cents FROM spine LEFT JOIN d USING (day)),
      |t AS (SELECT day, cents,
      |        CASE WHEN cents IS NULL THEN NULL
      |             ELSE struct_pack(d := day, v := cents) END AS obs FROM j),
      |f AS (SELECT day, cents,
      |        last_value(obs IGNORE NULLS) OVER (ORDER BY day
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev,
      |        first_value(obs IGNORE NULLS) OVER (ORDER BY day
      |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next
      |      FROM t)
      |SELECT day, cents, prev.v AS ffill_cents,
      |  round(CASE WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
      |    ELSE CAST(prev.v AS DOUBLE) + CAST(next.v - prev.v AS DOUBLE)
      |      * CAST(day - prev.d AS DOUBLE) / CAST(next.d - prev.d AS DOUBLE)
      |    END, 4) AS interp_cents
      |FROM f ORDER BY day""".stripMargin))

  /** [[Trend.rollingPearson]] of daily revenue (dollars — the Long-safe
    * quantization) vs daily order count over a trailing 14-day frame:
    * the metric-coupling monitor, windows on the bounded daily table. */
  private val q164 = QDef("q164_rolling_corr",
    (s, dir) => Trend.rollingPearson(
      T(s, dir, "orders").groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(expr("CAST(round(o_totalprice, 0) AS BIGINT)"))
          .as("dollars"), count(lit(1)).as("n_orders")),
      col("day"), col("dollars"), col("n_orders"), frame = 14),
    Some("""WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(round(o_totalprice, 0) AS BIGINT)) AS BIGINT)
      |      AS x,
      |    CAST(count(*) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |s AS (SELECT day,
      |    CAST(count(*) OVER w AS BIGINT) AS k,
      |    CAST(sum(x) OVER w AS BIGINT) AS sx,
      |    CAST(sum(y) OVER w AS BIGINT) AS sy,
      |    CAST(sum(x * y) OVER w AS BIGINT) AS sxy,
      |    CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
      |    CAST(sum(y * y) OVER w AS BIGINT) AS syy
      |  FROM d WINDOW w AS (ORDER BY day
      |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
      |SELECT day, k,
      |  round(CAST(k * sxy - sx * sy AS DOUBLE) /
      |        nullif(sqrt(CAST(k * sxx - sx * sx AS DOUBLE) *
      |                    CAST(k * syy - sy * sy AS DOUBLE)), 0.0), 4) AS r
      |FROM s ORDER BY day""".stripMargin))

  /** The dense-binning CTE chain shared by every Drift oracle
    * (q165 PSI / q166 EMD / q169 JSD): expects a `g(l, v)` CTE upstream,
    * emits `d(bin, [lo, hi,] n_a, n_b, ca, cb)` over the 20-bin spine —
    * ONE text, so a binning fix can never reach one oracle and miss
    * another (mirrors `Drift.binnedDense` exactly, incl. the NULL-value
    * filter living in each g CTE). */
  private def binnedCtes(la: String, lb: String,
                         carryRange: Boolean): String = {
    val rng = if (carryRange) " lo, hi," else ""
    s"""mm AS (SELECT min(v) AS lo, max(v) AS hi,
      |    CAST(sum(CASE WHEN l = '$la' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN l = '$lb' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      |  FROM g),
      |c AS (SELECT least(floor((v - lo) / ((hi - lo) / 20.0)), 19) AS bin, l
      |      FROM g CROSS JOIN mm),
      |cnt AS (SELECT bin,
      |    CAST(sum(CASE WHEN l = '$la' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(sum(CASE WHEN l = '$lb' THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |  FROM c GROUP BY 1),
      |sp AS (SELECT CAST(unnest(range(0, 20)) AS BIGINT) AS bin,$rng
      |         n_a, n_b FROM mm),
      |d AS (SELECT sp.bin,$rng n_a, n_b, coalesce(ca, 0) AS ca,
      |        coalesce(cb, 0) AS cb
      |      FROM sp LEFT JOIN cnt ON sp.bin = cnt.bin)""".stripMargin
  }

  /** [[Drift.psi]]: Population Stability Index of document length between
    * two sources — the model-monitoring drift score, Laplace-smoothed
    * over a dense 20-bin histogram, per-bin terms fixed-point quantized
    * before the exact sum. Pairs with q147's KS on the same slices. */
  private val q165 = QDef("q165_psi_drift",
    (s, dir) => Drift.psi(T(s, dir, "documents"), col("source"),
      col("n_chars"), "src0", "src1", bins = 20).orderBy("label_a"),
    Some(s"""WITH g AS (SELECT source AS l, CAST(n_chars AS DOUBLE) AS v
      |       FROM documents WHERE source IN ('src0', 'src1')
      |         AND n_chars IS NOT NULL),
      |${binnedCtes("src0", "src1", carryRange = false)},
      |t AS (SELECT n_a, n_b, CAST(round(
      |        (CAST(ca + 1 AS DOUBLE) / CAST(n_a + 20 AS DOUBLE)
      |         - CAST(cb + 1 AS DOUBLE) / CAST(n_b + 20 AS DOUBLE))
      |        * ln((CAST(ca + 1 AS DOUBLE) / CAST(n_a + 20 AS DOUBLE))
      |           / (CAST(cb + 1 AS DOUBLE) / CAST(n_b + 20 AS DOUBLE)))
      |        * 100000000.0, 0) AS BIGINT) AS t
      |      FROM d)
      |SELECT 'src0' AS label_a, 'src1' AS label_b, n_a, n_b,
      |  CAST(CASE WHEN sum(t) < 0
      |    THEN -((2 * CAST(-sum(t) AS HUGEINT) + 10000) // 20000)
      |    ELSE (2 * CAST(sum(t) AS HUGEINT) + 10000) // 20000 END
      |    AS DOUBLE) / 10000.0 AS psi
      |FROM t GROUP BY 1, 2, 3, 4 ORDER BY label_a""".stripMargin))

  /** [[Drift.emd1d]]: 1-D Wasserstein distance (in price units) between
    * early and late shipment price distributions — drift weighted by how
    * FAR mass moved, which PSI/KS ignore. Cumulative bin counts are
    * exact long window sums over the dense 20-bin spine. */
  private val q166 = QDef("q166_emd_drift",
    (s, dir) => Drift.emd1d(T(s, dir, "lineitem"),
      expr("CASE WHEN l_shipdate < TIMESTAMP '1998-07-01' THEN 'early' " +
        "ELSE 'late' END"),
      col("l_extendedprice"), "early", "late", bins = 20)
      .orderBy("label_a"),
    Some(s"""WITH g AS (SELECT CASE WHEN l_shipdate < TIMESTAMP '1998-07-01'
      |         THEN 'early' ELSE 'late' END AS l,
      |         CAST(l_extendedprice AS DOUBLE) AS v
      |       FROM lineitem WHERE l_extendedprice IS NOT NULL),
      |${binnedCtes("early", "late", carryRange = true)},
      |cum AS (SELECT n_a, n_b, lo, hi,
      |    CAST(sum(ca) OVER (ORDER BY bin) AS BIGINT) AS cpa,
      |    CAST(sum(cb) OVER (ORDER BY bin) AS BIGINT) AS cpb
      |  FROM d),
      |t AS (SELECT n_a, n_b, CAST(round(
      |        abs(CAST(cpa AS DOUBLE) / CAST(n_a AS DOUBLE)
      |          - CAST(cpb AS DOUBLE) / CAST(n_b AS DOUBLE))
      |        * ((hi - lo) / 20.0) * 1000000.0, 0) AS BIGINT) AS t
      |      FROM cum)
      |SELECT 'early' AS label_a, 'late' AS label_b, n_a, n_b,
      |  CAST((2 * CAST(sum(t) AS HUGEINT) + 100) // 200 AS DOUBLE)
      |    / 10000.0 AS emd
      |FROM t GROUP BY 1, 2, 3, 4 ORDER BY label_a""".stripMargin))

  /** [[Trend.twoProportionZ]]: A/B conversion readout — users hashed into
    * variants by id parity, conversion = any purchase event; one unit
    * row per user BEFORE the test so repeat purchasers don't inflate n. */
  private val q167 = QDef("q167_ab_conversion_z",
    (s, dir) => {
      val per = T(s, dir, "events").groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
        .select(when(col("user_id") % 2 === 0, "A").otherwise("B")
          .as("variant"), col("conv"))
      Trend.twoProportionZ(per, col("variant"), col("conv"), "A", "B")
        .orderBy("label_a")
    },
    Some("""WITH per AS (SELECT user_id,
      |        max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |          AS conv
      |      FROM events GROUP BY 1),
      |v AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS l,
      |        CAST(conv AS BIGINT) AS c FROM per),
      |su AS (SELECT
      |    CAST(sum(CASE WHEN l = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN l = 'A' THEN c ELSE 0 END) AS BIGINT) AS conv_a,
      |    CAST(sum(CASE WHEN l = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN l = 'B' THEN c ELSE 0 END) AS BIGINT) AS conv_b
      |  FROM v),
      |m AS (SELECT n_a, n_b, conv_a, conv_b,
      |    CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
      |    CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
      |    CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pool
      |  FROM su)
      |SELECT 'A' AS label_a, 'B' AS label_b, n_a, n_b, conv_a, conv_b,
      |  CAST((2 * CAST(conv_a AS HUGEINT) * 10000 + n_a) // (2 * n_a)
      |    AS DOUBLE) / 10000.0 AS rate_a,
      |  CAST((2 * CAST(conv_b AS HUGEINT) * 10000 + n_b) // (2 * n_b)
      |    AS DOUBLE) / 10000.0 AS rate_b,
      |  round((pa - pb) / nullif(sqrt(pool * (1.0 - pool) *
      |    (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 0.0), 4)
      |    AS z_stat
      |FROM m ORDER BY label_a""".stripMargin))

  /** [[Trend.cuped]] over per-user engagement: covariate = first-15-day
    * spend, metric = remaining-period spend (whole units — the Long-safe
    * quantization for n·Σx² at corpus user counts); the split date is
    * the series' own min day + 15 (one-row broadcast). */
  private val q168 = QDef("q168_cuped_readout",
    (s, dir) => {
      val ev = T(s, dir, "events").select(col("user_id"),
        to_date(col("ts")).as("day"),
        expr("CAST(round(value, 0) AS BIGINT)").as("units"))
      val lo = ev.agg(min("day").as("lo"))
      val per = ev.crossJoin(broadcast(lo))
        .groupBy("user_id")
        .agg(sum(when(col("day") < date_add(col("lo"), 15), col("units"))
          .otherwise(0L)).as("x"),
          sum(when(col("day") >= date_add(col("lo"), 15), col("units"))
            .otherwise(0L)).as("y"))
      Trend.cuped(per, col("x"), col("y")).orderBy("n")
    },
    Some("""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day,
      |        CAST(round(value, 0) AS BIGINT) AS units FROM events),
      |lo AS (SELECT min(day) AS lo FROM ev),
      |per AS (SELECT user_id,
      |    CAST(sum(CASE WHEN day < lo + 15 THEN units ELSE 0 END) AS BIGINT)
      |      AS x,
      |    CAST(sum(CASE WHEN day >= lo + 15 THEN units ELSE 0 END) AS BIGINT)
      |      AS y
      |  FROM ev CROSS JOIN lo GROUP BY 1),
      |su AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM per),
      |m AS (SELECT n,
      |    CAST(n * sxy - sx * sy AS HUGEINT) AS inum,
      |    CAST(n * sxx - sx * sx AS HUGEINT) AS iden,
      |    CAST(n * syy - sy * sy AS HUGEINT) AS ivy,
      |    CAST(n * sxy - sx * sy AS DOUBLE) AS vnum,
      |    CAST(n * sxx - sx * sx AS DOUBLE) AS dx,
      |    CAST(n * syy - sy * sy AS DOUBLE) AS dy
      |  FROM su),
      |r AS (SELECT n, inum, iden, ivy,
      |    vnum / nullif(sqrt(dx * dy), 0.0) AS r,
      |    dy / CAST(n * (n - 1) AS DOUBLE) AS var_y
      |  FROM m)
      |SELECT n,
      |  CAST(CASE WHEN inum < 0
      |    THEN -((2 * (-inum) * 10000 + nullif(iden, 0)) //
      |      (2 * nullif(iden, 0)))
      |    ELSE (2 * inum * 10000 + nullif(iden, 0)) //
      |      (2 * nullif(iden, 0)) END AS DOUBLE) / 10000.0 AS theta,
      |  CAST(CASE WHEN ivy < 0
      |    THEN -((2 * (-ivy) * 10000 + nullif(CAST(n AS HUGEINT) * (n - 1),
      |      0)) // (2 * nullif(CAST(n AS HUGEINT) * (n - 1), 0)))
      |    ELSE (2 * ivy * 10000 + nullif(CAST(n AS HUGEINT) * (n - 1), 0))
      |      // (2 * nullif(CAST(n AS HUGEINT) * (n - 1), 0)) END AS DOUBLE)
      |    / 10000.0 AS var_y,
      |  round(var_y * (1.0 - r * r), 4) AS var_cuped,
      |  round(r * r * 100.0, 4) AS var_reduction_pct
      |FROM r ORDER BY n""".stripMargin))

  /** [[Drift.jsd]]: Jensen–Shannon divergence between view and purchase
    * event-value distributions — the bounded-in-[0, ln 2] symmetric
    * drift score; same dense 20-bin spine and Laplace smoothing as
    * q165's PSI, per-bin terms quantized to 1e-8 longs. */
  private val q169 = QDef("q169_jsd_drift",
    (s, dir) => Drift.jsd(T(s, dir, "events"), col("event_type"),
      col("value"), "view", "purchase", bins = 20).orderBy("label_a"),
    Some(s"""WITH g AS (SELECT event_type AS l, CAST(value AS DOUBLE) AS v
      |       FROM events WHERE event_type IN ('view', 'purchase')
      |         AND value IS NOT NULL),
      |${binnedCtes("view", "purchase", carryRange = false)},
      |pq AS (SELECT n_a, n_b,
      |        CAST(ca + 1 AS DOUBLE) / CAST(n_a + 20 AS DOUBLE) AS p,
      |        CAST(cb + 1 AS DOUBLE) / CAST(n_b + 20 AS DOUBLE) AS q
      |      FROM d),
      |t AS (SELECT n_a, n_b, CAST(round(
      |        (p * ln(p / ((p + q) / 2.0)) + q * ln(q / ((p + q) / 2.0)))
      |        * 0.5 * 100000000.0, 0) AS BIGINT) AS t
      |      FROM pq)
      |SELECT 'view' AS label_a, 'purchase' AS label_b, n_a, n_b,
      |  CAST(CASE WHEN sum(t) < 0
      |    THEN -((2 * CAST(-sum(t) AS HUGEINT) + 10000) // 20000)
      |    ELSE (2 * CAST(sum(t) AS HUGEINT) + 10000) // 20000 END
      |    AS DOUBLE) / 10000.0 AS jsd
      |FROM t GROUP BY 1, 2, 3, 4 ORDER BY label_a""".stripMargin))

  /** [[Trend.srmCheck]]: sample-ratio-mismatch gate over a 50/30/20
    * modular assignment of distinct event users — the pre-readout
    * "is the bucketing itself broken?" check for every A/B query
    * (q167/q168). Chi-square terms quantized to 1e-6 longs. */
  private val q170 = QDef("q170_srm_check",
    (s, dir) => {
      val u = T(s, dir, "events").select(col("user_id")).distinct()
        .select(when(col("user_id") % 10 <= 4, "A")
          .when(col("user_id") % 10 <= 7, "B").otherwise("C").as("variant"))
      Trend.srmCheck(u, col("variant"),
        Seq("A" -> 0.5, "B" -> 0.3, "C" -> 0.2)).orderBy("n_units")
    },
    Some("""WITH u AS (SELECT DISTINCT user_id FROM events),
      |v AS (SELECT CASE WHEN user_id % 10 <= 4 THEN 'A'
      |         WHEN user_id % 10 <= 7 THEN 'B' ELSE 'C' END AS v FROM u),
      |c0 AS (SELECT v, CAST(count(*) AS BIGINT) AS o FROM v GROUP BY 1),
      |sp AS (SELECT * FROM (VALUES ('A', 0.5), ('B', 0.3), ('C', 0.2))
      |       AS t(v, r)),
      |r AS (SELECT coalesce(o, 0) AS o, r FROM sp LEFT JOIN c0 USING (v)),
      |n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM r),
      |t AS (SELECT n, CAST(round(
      |        (CAST(o AS DOUBLE) - r * CAST(n AS DOUBLE))
      |        * (CAST(o AS DOUBLE) - r * CAST(n AS DOUBLE))
      |        / (r * CAST(n AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS t
      |      FROM r CROSS JOIN n)
      |SELECT n AS n_units, CAST(2 AS BIGINT) AS deg_free,
      |  CAST((2 * CAST(sum(t) AS HUGEINT) + 100) // 200 AS DOUBLE)
      |    / 10000.0 AS chi2
      |FROM t GROUP BY 1, 2 ORDER BY n_units""".stripMargin))

  /** [[Skew.hhi]]: supplier revenue concentration per nation — HHI of
    * each supplier's share of the nation's exact revenue cents. No
    * window, no global order: two keyed aggregations + a broadcast of
    * the nation totals. */
  private val q171 = QDef("q171_hhi_concentration",
    (s, dir) => {
      val li = T(s, dir, "lineitem").select(col("l_suppkey"),
        expr("CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)")
          .as("cents"))
      val sup = T(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      Skew.hhi(li.join(sup, col("l_suppkey") === col("s_suppkey")),
          col("s_nationkey"), col("s_suppkey"), col("cents"))
        .select(col("g").as("nation_key"), col("n_members").as("n_suppliers"),
          col("total_weight").as("cents"), col("hhi"))
        .orderBy("nation_key")
    },
    Some("""WITH m AS (SELECT s_nationkey AS g, s_suppkey AS mb,
      |        CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100,
      |          0) AS BIGINT)) AS BIGINT) AS w
      |      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |      GROUP BY 1, 2),
      |t AS (SELECT g, CAST(sum(w) AS BIGINT) AS tw FROM m GROUP BY 1),
      |q AS (SELECT m.g, tw, CAST(round(
      |        CAST(w AS DOUBLE) / CAST(tw AS DOUBLE)
      |        * (CAST(w AS DOUBLE) / CAST(tw AS DOUBLE))
      |        * 100000000.0, 0) AS BIGINT) AS t
      |      FROM m JOIN t ON m.g = t.g)
      |SELECT g AS nation_key, CAST(count(*) AS BIGINT) AS n_suppliers,
      |  tw AS cents,
      |  CAST((2 * CAST(sum(t) AS HUGEINT) + 10000) // 20000 AS DOUBLE)
      |    / 10000.0 AS hhi
      |FROM q GROUP BY 1, 3 ORDER BY nation_key""".stripMargin))

  /** Signup→first-purchase conversion lag: exact p50/p90/p99 of the
    * per-user delay in seconds (µs-precision longs under the percentile;
    * one user-keyed shuffle, then a 1-row exact-percentile agg over the
    * user-sized lag table — the q18 convention). */
  private val q172 = QDef("q172_conversion_lag",
    (s, dir) => {
      val e = T(s, dir, "events")
      val su = e.where(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts").as("s_ts"))
      val pu = e.where(col("event_type") === "purchase")
        .groupBy("user_id").agg(min("ts").as("p_ts"))
      su.join(pu, "user_id").where(col("p_ts") >= col("s_ts"))
        .select((unix_micros(col("p_ts")) - unix_micros(col("s_ts")))
          .as("lag_us"))
        .agg(count(lit(1)).as("n_users"),
          round(percentile(col("lag_us") * 100, lit(0.5)), 0).cast("long")
            .as("h50"),
          round(percentile(col("lag_us") * 100, lit(0.9)), 0).cast("long")
            .as("h90"),
          round(percentile(col("lag_us") * 100, lit(0.99)), 0).cast("long")
            .as("h99"))
        // percentile(x·100, q) is an exact integer for q with denominator
        // ≤ 100, so each seconds display is one integer-sealed division
        // by 10⁸ (Seal.pow4)
        .select(col("n_users"), Seal.pow4("h50", 8).as("p50_s"),
          Seal.pow4("h90", 8).as("p90_s"), Seal.pow4("h99", 8).as("p99_s"))
        .orderBy("n_users")
    },
    Some("""WITH su AS (SELECT user_id, min(ts) AS s_ts FROM events
      |        WHERE event_type = 'signup' GROUP BY 1),
      |pu AS (SELECT user_id, min(ts) AS p_ts FROM events
      |       WHERE event_type = 'purchase' GROUP BY 1),
      |l AS (SELECT epoch_us(p_ts) - epoch_us(s_ts) AS lag_us
      |      FROM su JOIN pu USING (user_id) WHERE p_ts >= s_ts),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
      |  CAST(round(quantile_cont(lag_us * 100, 0.5), 0) AS BIGINT) AS h50,
      |  CAST(round(quantile_cont(lag_us * 100, 0.9), 0) AS BIGINT) AS h90,
      |  CAST(round(quantile_cont(lag_us * 100, 0.99), 0) AS BIGINT) AS h99
      |  FROM l)
      |SELECT n_users,
      |  CAST((2 * CAST(h50 AS HUGEINT) + 10000) // 20000 AS DOUBLE)
      |    / 10000.0 AS p50_s,
      |  CAST((2 * CAST(h90 AS HUGEINT) + 10000) // 20000 AS DOUBLE)
      |    / 10000.0 AS p90_s,
      |  CAST((2 * CAST(h99 AS HUGEINT) + 10000) // 20000 AS DOUBLE)
      |    / 10000.0 AS p99_s
      |FROM a ORDER BY n_users""".stripMargin))

  /** Vocabulary coverage curve — the tokenizer-design readout: what
    * fraction of all corpus tokens do the top-N vocabulary entries
    * cover, at literal N markers. The ranking window runs over the
    * VOCAB-sized count table (the [[Skew.keyDistribution]] scale note:
    * single-partition to ~10⁷ entries, two-phase rank beyond); the
    * cumulative sums are exact longs over the unique (count desc, token)
    * order. */
  private val q173 = QDef("q173_vocab_coverage",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val vc = T(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tk"))
        .where(length(col("tk")) > 0)
        .groupBy("tk").agg(count(lit(1)).as("c"))
      val tot = vc.agg(sum("c").as("n"))
      val w = Window.orderBy(desc("c"), col("tk"))
      vc.select(col("c"),
          row_number().over(w).cast("long").as("rk"),
          sum("c").over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)).as("cum"))
        .where(col("rk").isin(5L, 10L, 20L, 30L))
        .crossJoin(broadcast(tot))
        .select(col("rk").as("vocab_size"),
          Seal.ratio4("cum", "n").as("coverage"))
        .orderBy("vocab_size")
    },
    Some("""WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tk
      |       FROM documents),
      |vc AS (SELECT tk, CAST(count(*) AS BIGINT) AS c FROM tk
      |       WHERE len(tk) > 0 GROUP BY 1),
      |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM vc),
      |r AS (SELECT CAST(row_number() OVER (ORDER BY c DESC, tk) AS BIGINT)
      |          AS rk,
      |        CAST(sum(c) OVER (ORDER BY c DESC, tk ROWS BETWEEN UNBOUNDED
      |          PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |      FROM vc)
      |SELECT rk AS vocab_size,
      |  CAST((2 * CAST(cum AS HUGEINT) * 10000 + n) // (2 * n)
      |    AS DOUBLE) / 10000.0 AS coverage
      |FROM r CROSS JOIN n WHERE rk IN (5, 10, 20, 30)
      |ORDER BY vocab_size""".stripMargin))

  /** Cross-split 5-gram contamination — the report-form complement to
    * q116 (exact-text leakage) and q63 (benchmark decontamination): the
    * fraction of test docs sharing ≥1 word 5-gram with ANY train doc.
    * The test grams LEFT-SEMI join the raw train grams (no train-side
    * distinct: semi-join output doesn't multiply on build-side dupes,
    * and per-doc grams are already array_distinct — a corpus with heavy
    * cross-doc duplication would add one), then two scalar counts meet
    * in a 1-row broadcast instead of a doc-keyed join-back. The train
    * side shuffles on the gram key, NOT broadcast — it is corpus-scale.
    * The split filters push below the gram projection (both derive from
    * doc_id), so each branch hashes only its own split's windows — a
    * single-pass groupBy-collect_set respelling was measured 2.3×
    * SLOWER at sf0.1 (set-building per gram costs more than the
    * semi-join it replaces). Both sides join on the 8-byte xxhash64
    * FINGERPRINT of the 5-token window (hashed straight off the
    * token-array slice — the gram string is never materialized):
    * ~4× less shuffle than string keys, deterministic (a PASS at verify
    * scale is stable), with the usual 64-bit-fingerprint caveat that a
    * cross-gram collision could over-count one doc (~1e-9 at 10⁸
    * distinct grams; swap in [[Dedup.shingles]] string keys if that
    * matters). */
  private val q174 = QDef("q174_xsplit_contamination",
    (s, dir) => {
      val toks = split(col("text"), " ")
      val d = T(s, dir, "documents").select(col("doc_id"),
        Sampling.splitAssign(col("doc_id"),
          Seq("train" -> 0.9, "test" -> 0.1), "xc").as("split"),
        array_distinct(when(size(toks) >= 5,
          transform(sequence(lit(0), size(toks) - 5),
            i => xxhash64(slice(toks, i + 1, lit(5)))))
          .otherwise(array().cast("array<bigint>"))).as("grams"))
      val tr = d.where(col("split") === "train")
        .select(explode(col("grams")).as("g"))
      val nHit = d.where(col("split") === "test")
        .select(col("doc_id"), explode(col("grams")).as("g"))
        .join(tr, Seq("g"), "leftsemi")
        .select("doc_id").distinct()
        .agg(count(lit(1)).as("n_contaminated"))
      d.where(col("split") === "test")
        .agg(count(lit(1)).as("n_test"))
        .crossJoin(broadcast(nHit))
        .select(col("n_test"), col("n_contaminated"),
          round(col("n_contaminated").cast("double") /
            col("n_test").cast("double"), 4).as("rate"))
        .orderBy("n_test")
    },
    Some("""WITH d AS (SELECT doc_id,
      |        CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'xc'),
      |          1, 15))::BIGINT % 1000000 < 900000
      |          THEN 'train' ELSE 'test' END AS split,
      |        string_split(text, ' ') AS tk
      |      FROM documents),
      |g AS (SELECT doc_id, split, CASE WHEN len(tk) >= 5 THEN
      |        list_distinct(list_transform(range(1, len(tk) - 3),
      |          i -> array_to_string(list_slice(tk, i, i + 4), ' ')))
      |        ELSE [] END AS grams
      |      FROM d),
      |tr AS (SELECT DISTINCT unnest(grams) AS gr FROM g
      |       WHERE split = 'train'),
      |te AS (SELECT doc_id, unnest(grams) AS gr FROM g
      |       WHERE split = 'test'),
      |hit AS (SELECT DISTINCT doc_id FROM te JOIN tr USING (gr)),
      |base AS (SELECT g.doc_id,
      |        CASE WHEN hit.doc_id IS NULL THEN 0 ELSE 1 END AS h
      |      FROM g LEFT JOIN hit ON g.doc_id = hit.doc_id
      |      WHERE g.split = 'test')
      |SELECT CAST(count(*) AS BIGINT) AS n_test,
      |  CAST(sum(h) AS BIGINT) AS n_contaminated,
      |  round(CAST(sum(h) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS rate
      |FROM base ORDER BY n_test""".stripMargin))

  /** NDCG@10 per market segment: does the QUANTITY-popularity ranking of
    * parts surface the REVENUE? Graded relevance = exact revenue cents;
    * both rankings come off ONE segment-keyed exchange (two sorts);
    * per-rank DCG terms cents/log₂(rank+1) are quantized to 1e-4
    * fixed-point longs before the per-segment sums. */
  private val q175 = QDef("q175_ndcg_popularity",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val li = T(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_partkey").as("pk"),
        col("l_quantity").cast("long").as("qty"),
        expr("CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)")
          .as("cents"))
      val oc = T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(T(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment").as("seg")),
          col("o_custkey") === col("c_custkey"))
      val a = li.join(oc, col("l_orderkey") === col("o_orderkey"))
        .groupBy("seg", "pk")
        .agg(sum("qty").as("qty"), sum("cents").as("cents"))
      val wq = Window.partitionBy("seg").orderBy(desc("qty"), col("pk"))
      val wr = Window.partitionBy("seg").orderBy(desc("cents"), col("pk"))
      val r = a.select(col("seg"), col("cents"),
        row_number().over(wq).cast("long").as("rk_q"),
        row_number().over(wr).cast("long").as("rk_r"))
      def dcgTerm(rk: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        round(col("cents").cast("double") /
          (log(rk.cast("double") + 1) / log(lit(2.0))) * lit(1e4), 0)
          .cast("long")
      val dcg = r.where(col("rk_q") <= 10).groupBy("seg")
        .agg(sum(dcgTerm(col("rk_q"))).as("dt"))
      val idcg = r.where(col("rk_r") <= 10).groupBy("seg")
        .agg(sum(dcgTerm(col("rk_r"))).as("it"))
      dcg.join(idcg, "seg")
        .withColumn("itn", nullif(col("it"), lit(0L)))
        .select(col("seg").as("segment"),
          Seal.pow4("dt", 6).as("dcg"),
          Seal.pow4("it", 6).as("idcg"),
          Seal.ratio4("dt", "itn").as("ndcg"))
        .orderBy("segment")
    },
    Some("""WITH a AS (SELECT c_mktsegment AS seg, l_partkey AS pk,
      |        CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
      |        CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100,
      |          0) AS BIGINT)) AS BIGINT) AS cents
      |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |        JOIN customer ON o_custkey = c_custkey
      |      GROUP BY 1, 2),
      |r AS (SELECT seg, cents,
      |    CAST(row_number() OVER (PARTITION BY seg
      |      ORDER BY qty DESC, pk) AS BIGINT) AS rk_q,
      |    CAST(row_number() OVER (PARTITION BY seg
      |      ORDER BY cents DESC, pk) AS BIGINT) AS rk_r
      |  FROM a),
      |d AS (SELECT seg, CAST(sum(CAST(round(CAST(cents AS DOUBLE)
      |        / (ln(CAST(rk_q AS DOUBLE) + 1.0) / ln(2.0)) * 10000.0, 0)
      |        AS BIGINT)) AS BIGINT) AS dt
      |      FROM r WHERE rk_q <= 10 GROUP BY 1),
      |i AS (SELECT seg, CAST(sum(CAST(round(CAST(cents AS DOUBLE)
      |        / (ln(CAST(rk_r AS DOUBLE) + 1.0) / ln(2.0)) * 10000.0, 0)
      |        AS BIGINT)) AS BIGINT) AS it
      |      FROM r WHERE rk_r <= 10 GROUP BY 1)
      |SELECT d.seg AS segment,
      |  CAST((2 * CAST(dt AS HUGEINT) + 100) // 200 AS DOUBLE) / 10000.0
      |    AS dcg,
      |  CAST((2 * CAST(it AS HUGEINT) + 100) // 200 AS DOUBLE) / 10000.0
      |    AS idcg,
      |  CAST((2 * CAST(dt AS HUGEINT) * 10000 + nullif(it, 0)) //
      |    (2 * nullif(it, 0)) AS DOUBLE) / 10000.0 AS ndcg
      |FROM d JOIN i ON d.seg = i.seg ORDER BY segment""".stripMargin))

  /** [[Survival.kaplanMeier]]: user-retention survival curve. A user's
    * duration is last-active-day − first-active-day; they are CHURNED
    * (observed event) if their last activity ends ≥1 day before the
    * dataset's observation end (the fixture window is only 30 days, so
    * the churn horizon scales to a day; a production run would use 14+),
    * right-censored otherwise. The oracle mirrors the quantized-ln
    * cumulative product row for row. */
  private val q176 = QDef("q176_kaplan_meier",
    (s, dir) => {
      val e = T(s, dir, "events").select(col("user_id"),
        to_date(col("ts")).as("d"))
      val span = e.groupBy("user_id")
        .agg(min("d").as("fd"), max("d").as("ld"))
      val obsEnd = e.agg(max("d").as("obs_end"))
      val dur = span.crossJoin(broadcast(obsEnd)).select(
        datediff(col("ld"), col("fd")).as("dur"),
        when(datediff(col("obs_end"), col("ld")) >= 1, 1).otherwise(0)
          .as("ev"))
      Survival.kaplanMeier(dur, col("dur"), col("ev"))
    },
    Some("""WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
      |sp AS (SELECT user_id, min(d) AS fd, max(d) AS ld FROM e GROUP BY 1),
      |oe AS (SELECT max(d) AS obs_end FROM e),
      |dur AS (SELECT CAST(date_diff('day', fd, ld) AS BIGINT) AS t,
      |         CASE WHEN date_diff('day', ld, obs_end) >= 1
      |           THEN 1 ELSE 0 END AS ev
      |       FROM sp CROSS JOIN oe),
      |byt AS (SELECT t, CAST(count(*) AS BIGINT) AS n_at,
      |         CAST(sum(ev) AS BIGINT) AS d_at FROM dur
      |       WHERE t IS NOT NULL GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_at) AS BIGINT) AS n_total FROM byt),
      |r AS (SELECT t, d_at, n_total - coalesce(CAST(sum(n_at) OVER
      |        (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |        AS BIGINT), 0) AS n_risk
      |      FROM byt CROSS JOIN tot),
      |ev AS (SELECT t, n_risk, d_at,
      |        CASE WHEN d_at < n_risk THEN CAST(round(ln(1.0 -
      |          CAST(d_at AS DOUBLE) / CAST(n_risk AS DOUBLE))
      |          * 100000000.0, 0) AS BIGINT) ELSE 0 END AS lnq,
      |        CASE WHEN d_at >= n_risk THEN 1 ELSE 0 END AS z
      |      FROM r WHERE d_at > 0)
      |SELECT t, n_risk, d_at AS n_events,
      |  CASE WHEN max(z) OVER w > 0 THEN 0.0
      |       ELSE round(exp(CAST(sum(lnq) OVER w AS DOUBLE)
      |         / 100000000.0), 4) END AS survival
      |FROM ev
      |WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
      |  AND CURRENT ROW)
      |ORDER BY t""".stripMargin))

  /** [[Trend.seasonalDecompose]]: daily revenue cents split into centered
    * 7-day trend + epoch-weekday seasonal + residual, all in 1e-4
    * fixed-point longs until the final rounded divisions. */
  private val q177 = QDef("q177_seasonal_decomp",
    (s, dir) => {
      val daily = T(s, dir, "orders").groupBy(col("o_orderdate").as("day"))
        .agg(sum(expr(
          "CAST(round(o_totalprice * 100, 0) AS BIGINT)")).as("v"))
      Trend.seasonalDecompose(daily, col("day"), col("v"), period = 7)
    },
    Some("""WITH d AS (SELECT o_orderdate AS day,
      |        CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
      |          AS BIGINT) AS v
      |      FROM orders GROUP BY 1),
      |w AS (SELECT day, v,
      |        date_diff('day', DATE '1970-01-01', day) % 7 AS dow,
      |        CAST(count(*) OVER win AS BIGINT) AS wn,
      |        CAST(round(CAST(sum(v) OVER win AS DOUBLE) * 10000.0 / 7.0,
      |          0) AS BIGINT) AS trend4
      |      FROM d
      |      WINDOW win AS (ORDER BY day ROWS BETWEEN 3 PRECEDING
      |        AND 3 FOLLOWING)),
      |f AS (SELECT day, v, dow, trend4, v * 10000 - trend4 AS det4
      |      FROM w WHERE wn = 7),
      |s AS (SELECT dow, CAST(round(CAST(sum(det4) AS DOUBLE)
      |        / CAST(count(*) AS DOUBLE), 0) AS BIGINT) AS sea4
      |      FROM f GROUP BY 1)
      |SELECT day, v AS value,
      |  round(CAST(trend4 AS DOUBLE) / 10000.0, 4) AS trend,
      |  round(CAST(sea4 AS DOUBLE) / 10000.0, 4) AS seasonal,
      |  round(CAST(det4 - sea4 AS DOUBLE) / 10000.0, 4) AS residual
      |FROM f JOIN s USING (dow) ORDER BY day""".stripMargin))

  /** [[Graph.kcore]]: 25-core of the symmetrized supplier↔part graph
    * (parity-encoded long vertices, the q140 convention), three peeling
    * rounds unrolled identically in the oracle. */
  private val q178 = QDef("q178_kcore",
    (s, dir) => {
      val base = T(s, dir, "lineitem").select(
        (col("l_suppkey") * 2).as("a"), (col("l_partkey") * 2 + 1).as("b"))
      val sym = base.union(base.select(col("b").as("a"), col("a").as("b")))
      Graph.kcore(sym, col("a"), col("b"), k = 25, rounds = 3)
    },
    Some {
      def peel(i: Int): String =
        s"""d$i AS (SELECT a, count(*) AS dg FROM e${i - 1} GROUP BY 1),
          |k$i AS (SELECT a FROM d$i WHERE dg >= 25),
          |e$i AS (SELECT e.a, e.b FROM e${i - 1} e
          |        JOIN k$i x ON e.a = x.a JOIN k$i y ON e.b = y.a)"""
          .stripMargin
      s"""WITH b AS (SELECT DISTINCT l_suppkey * 2 AS a,
        |       l_partkey * 2 + 1 AS b FROM lineitem),
        |e0 AS (SELECT a, b FROM b UNION ALL SELECT b AS a, a AS b FROM b),
        |${peel(1)},
        |${peel(2)},
        |${peel(3)}
        |SELECT a AS vertex, CAST(count(*) AS BIGINT) AS degree
        |FROM e3 GROUP BY 1 HAVING count(*) >= 25
        |ORDER BY degree DESC, vertex""".stripMargin
    })

  /** [[Skew.trimmedStats]]: order-value robust means per order priority —
    * plain vs winsorized vs 5–95 trimmed, integer-clamped against
    * 1e-4-quantized exact percentile cut points. */
  private val q179 = QDef("q179_trimmed_stats",
    (s, dir) => Skew.trimmedStats(
      T(s, dir, "orders").select(col("o_orderpriority"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents")),
      col("o_orderpriority"), col("cents"))
      .withColumnRenamed("g", "priority").orderBy("priority"),
    Some("""WITH b AS (SELECT o_orderpriority AS g,
      |        CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v
      |      FROM orders),
      |c AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(v) AS BIGINT) AS sv,
      |        CAST(round(quantile_cont(v, 0.05) * 10000.0, 0) AS BIGINT)
      |          AS lo4,
      |        CAST(round(quantile_cont(v, 0.95) * 10000.0, 0) AS BIGINT)
      |          AS hi4
      |      FROM b GROUP BY 1),
      |j AS (SELECT b.g, n, sv,
      |        greatest(least(v * 10000, hi4), lo4) AS c4,
      |        CASE WHEN v * 10000 >= lo4 AND v * 10000 <= hi4
      |          THEN v END AS tv
      |      FROM b JOIN c ON b.g = c.g)
      |SELECT g AS priority, n,
      |  CAST((2 * CAST(sv AS HUGEINT) * 10000 + n) // (2 * n) AS DOUBLE)
      |    / 10000.0 AS mean,
      |  CAST((2 * CAST(sum(c4) AS HUGEINT) * 10000 + n * 10000) //
      |    (2 * n * 10000) AS DOUBLE) / 10000.0 AS winsor_mean,
      |  CAST((2 * CAST(sum(tv) AS HUGEINT) * 10000 + count(tv)) //
      |    (2 * count(tv)) AS DOUBLE) / 10000.0 AS trim_mean,
      |  CAST(count(tv) AS BIGINT) AS n_kept
      |FROM j GROUP BY 1, 2, 3 ORDER BY priority""".stripMargin))

  /** [[Trend.ratioMetricDelta]]: purchases-per-view ratio metric with
    * delta-method standard errors, variants = the q170 modular user
    * assignment collapsed to two arms. */
  private val q180 = QDef("q180_ratio_metric",
    (s, dir) => {
      val pu = T(s, dir, "events").groupBy("user_id")
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("y"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("d"))
        .select(when(col("user_id") % 10 <= 4, "A").otherwise("B")
          .as("variant"), col("y"), col("d"))
      Trend.ratioMetricDelta(pu, col("variant"), col("y"), col("d"))
        .orderBy("variant")
    },
    Some("""WITH pu AS (SELECT user_id,
      |        CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
      |          END) AS BIGINT) AS y,
      |        CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |          AS BIGINT) AS d
      |      FROM events GROUP BY 1),
      |v AS (SELECT CASE WHEN user_id % 10 <= 4 THEN 'A' ELSE 'B' END
      |        AS variant, y, d FROM pu),
      |s AS (SELECT variant, CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(y) AS BIGINT) AS sy, CAST(sum(d) AS BIGINT) AS sd,
      |        CAST(sum(y * y) AS BIGINT) AS syy,
      |        CAST(sum(d * d) AS BIGINT) AS sdd,
      |        CAST(sum(y * d) AS BIGINT) AS syd
      |      FROM v GROUP BY 1)
      |SELECT variant, n AS n_units,
      |  CAST(CASE WHEN sy < 0
      |    THEN -((2 * CAST(-sy AS HUGEINT) * 10000 + sd) // (2 * sd))
      |    ELSE (2 * CAST(sy AS HUGEINT) * 10000 + sd) // (2 * sd)
      |    END AS DOUBLE) / 10000.0 AS ratio,
      |  round(sqrt((CAST(n * syy - sy * sy AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
      |    + (CAST(sy AS DOUBLE) / CAST(sd AS DOUBLE))
      |      * (CAST(sy AS DOUBLE) / CAST(sd AS DOUBLE))
      |      * (CAST(n * sdd - sd * sd AS DOUBLE)
      |        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
      |    - 2.0 * (CAST(sy AS DOUBLE) / CAST(sd AS DOUBLE))
      |      * (CAST(n * syd - sy * sd AS DOUBLE)
      |        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))))
      |    / (CAST(n AS DOUBLE) * (CAST(sd AS DOUBLE) / CAST(n AS DOUBLE))
      |      * (CAST(sd AS DOUBLE) / CAST(n AS DOUBLE)))), 6) AS se
      |FROM s ORDER BY variant""".stripMargin))

  /** [[Trend.mdeReadout]]: minimum detectable effect at α=.05/80% power
    * for a future two-arm test on the observed conversion base rate. */
  private val q181 = QDef("q181_mde_power",
    (s, dir) => {
      val u = T(s, dir, "events").groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("c"))
      Trend.mdeReadout(u, col("c"), arms = 2).orderBy("n_units")
    },
    Some("""WITH u AS (SELECT user_id,
      |        max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |          AS c
      |      FROM events GROUP BY 1),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS n_units,
      |        CAST(sum(c) AS BIGINT) AS conv FROM u)
      |SELECT n_units, CAST(floor(n_units / 2) AS BIGINT) AS n_per_arm,
      |  CAST((2 * CAST(conv AS HUGEINT) * 10000 + n_units) //
      |    (2 * n_units) AS DOUBLE) / 10000.0 AS p_hat,
      |  round(CASE WHEN floor(n_units / 2) > 0 AND conv > 0
      |      AND conv < n_units THEN 2.8016 * sqrt(2.0
      |      * (CAST(conv AS DOUBLE) / CAST(n_units AS DOUBLE))
      |      * (1.0 - CAST(conv AS DOUBLE) / CAST(n_units AS DOUBLE))
      |      / CAST(CAST(floor(n_units / 2) AS BIGINT) AS DOUBLE)) END, 4)
      |    AS mde_abs,
      |  round(CASE WHEN floor(n_units / 2) > 0 AND conv > 0
      |      AND conv < n_units THEN 2.8016 * sqrt(2.0
      |      * (CAST(conv AS DOUBLE) / CAST(n_units AS DOUBLE))
      |      * (1.0 - CAST(conv AS DOUBLE) / CAST(n_units AS DOUBLE))
      |      / CAST(CAST(floor(n_units / 2) AS BIGINT) AS DOUBLE)) END
      |    / (CAST(conv AS DOUBLE) / CAST(n_units AS DOUBLE)), 4)
      |    AS mde_rel
      |FROM a ORDER BY n_units""".stripMargin))

  /** Cohort LTV curve: users cohorted by the epoch-week of their first
    * event, purchase revenue accumulated per (cohort, weeks-since-start)
    * and divided by cohort size — the growth-analytics "is monetization
    * deepening or shallowing cohort over cohort?" readout. Epoch-week =
    * floor(days-since-1970 / 7) (engine-neutral, FIXTURES epoch-weekday
    * convention). The cumulative sum is an exact long window PARTITIONED
    * by cohort over the (cohort × observed ages) table; only observed
    * ages emit rows. */
  private val q182 = QDef("q182_ltv_cohort",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = T(s, dir, "events").select(col("user_id"), col("event_type"),
        floor(datediff(to_date(col("ts")), to_date(lit("1970-01-01"))) / 7)
          .cast("long").as("wk"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
      val cohort = e.groupBy("user_id").agg(min("wk").as("cw"))
      val size = cohort.groupBy("cw").agg(count(lit(1)).as("n_users"))
      val rev = e.where(col("event_type") === "purchase")
        .join(cohort, "user_id")
        .groupBy(col("cw"), (col("wk") - col("cw")).as("age_wk"))
        .agg(sum("cents").as("rev"))
      val w = Window.partitionBy("cw").orderBy("age_wk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rev.join(broadcast(size), "cw")
        .select(col("cw").as("cohort_week"), col("age_wk"), col("n_users"),
          round(sum("rev").over(w).cast("double") /
            col("n_users").cast("double") / lit(100.0), 4)
            .as("cum_ltv_per_user"))
        .orderBy("cohort_week", "age_wk")
    },
    Some("""WITH e AS (SELECT user_id, event_type,
      |        CAST(floor(date_diff('day', DATE '1970-01-01',
      |          CAST(ts AS DATE)) / 7) AS BIGINT) AS wk,
      |        CAST(round(value * 100, 0) AS BIGINT) AS cents
      |      FROM events),
      |c AS (SELECT user_id, min(wk) AS cw FROM e GROUP BY 1),
      |sz AS (SELECT cw, CAST(count(*) AS BIGINT) AS n_users
      |       FROM c GROUP BY 1),
      |r AS (SELECT cw, wk - cw AS age_wk, CAST(sum(cents) AS BIGINT)
      |          AS rev
      |      FROM e JOIN c USING (user_id)
      |      WHERE event_type = 'purchase' GROUP BY 1, 2)
      |SELECT cw AS cohort_week, age_wk, n_users,
      |  round(CAST(sum(rev) OVER (PARTITION BY cw ORDER BY age_wk
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / CAST(n_users AS DOUBLE) / 100.0, 4) AS cum_ltv_per_user
      |FROM r JOIN sz USING (cw)
      |ORDER BY cohort_week, age_wk""".stripMargin))

  /** Quantile treatment effect: per-variant exact p25/p50/p75/p90 of
    * per-user purchase revenue (cents; non-purchasers count at 0), A and
    * B rows meeting in a 1×1 broadcast and unstacked to one row per
    * quantile marker — the "did the treatment move the MEDIAN user or
    * just the whales?" companion to the mean-based q167/q180. The diff
    * subtracts the two ALREADY-rounded percentiles (deterministic). */
  private val q183 = QDef("q183_quantile_effect",
    (s, dir) => {
      val u = T(s, dir, "events").groupBy("user_id")
        .agg(sum(when(col("event_type") === "purchase",
          expr("CAST(round(value * 100, 0) AS BIGINT)")).otherwise(0L))
          .as("v"))
      val p = u.select(when(col("user_id") % 10 <= 4, "A").otherwise("B")
          .as("variant"), col("v"))
        .groupBy("variant")
        .agg(round(percentile(col("v"), lit(0.25)), 4).as("p25"),
          round(percentile(col("v"), lit(0.5)), 4).as("p50"),
          round(percentile(col("v"), lit(0.75)), 4).as("p75"),
          round(percentile(col("v"), lit(0.9)), 4).as("p90"))
      val a = p.where(col("variant") === "A")
        .select(col("p25").as("a25"), col("p50").as("a50"),
          col("p75").as("a75"), col("p90").as("a90"))
      val b = p.where(col("variant") === "B")
        .select(col("p25").as("b25"), col("p50").as("b50"),
          col("p75").as("b75"), col("p90").as("b90"))
      a.crossJoin(broadcast(b))
        .select(expr("""stack(4,
          '0.25', a25, b25, '0.50', a50, b50,
          '0.75', a75, b75, '0.90', a90, b90)
          AS (q, a_value, b_value)"""))
        .select(col("q"), col("a_value"), col("b_value"),
          round(col("b_value") - col("a_value"), 4).as("diff"))
        .orderBy("q")
    },
    Some("""WITH u AS (SELECT user_id,
      |        CAST(sum(CASE WHEN event_type = 'purchase'
      |          THEN CAST(round(value * 100, 0) AS BIGINT)
      |          ELSE 0 END) AS BIGINT) AS v
      |      FROM events GROUP BY 1),
      |b AS (SELECT CASE WHEN user_id % 10 <= 4 THEN 'A' ELSE 'B' END
      |        AS variant, v FROM u),
      |p AS (SELECT variant, round(quantile_cont(v, 0.25), 4) AS p25,
      |        round(quantile_cont(v, 0.50), 4) AS p50,
      |        round(quantile_cont(v, 0.75), 4) AS p75,
      |        round(quantile_cont(v, 0.90), 4) AS p90
      |      FROM b GROUP BY 1),
      |pa AS (SELECT * FROM p WHERE variant = 'A'),
      |pb AS (SELECT * FROM p WHERE variant = 'B'),
      |s AS (SELECT '0.25' AS q, pa.p25 AS a_value, pb.p25 AS b_value
      |        FROM pa CROSS JOIN pb
      |      UNION ALL SELECT '0.50', pa.p50, pb.p50
      |        FROM pa CROSS JOIN pb
      |      UNION ALL SELECT '0.75', pa.p75, pb.p75
      |        FROM pa CROSS JOIN pb
      |      UNION ALL SELECT '0.90', pa.p90, pb.p90
      |        FROM pa CROSS JOIN pb)
      |SELECT q, a_value, b_value, round(b_value - a_value, 4) AS diff
      |FROM s ORDER BY q""".stripMargin))

  /** Decile lift/gains table: users ranked by engagement score (view
    * count), cut into value-threshold deciles against nine exact
    * percentile cut points (the q141 broadcast-cut-points convention —
    * deliberately NOT ntile(), whose empty partitionBy funnels the whole
    * user table through one window task), conversion per decile vs the
    * base rate, and top-down cumulative capture — the campaign-targeting
    * readout. Ties at a cut point fall to the LOWER decile in both
    * engines (score > cut strictly). */
  private val q184 = QDef("q184_decile_lift",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val u = T(s, dir, "events").groupBy("user_id")
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("score"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("conv"))
      val cutCols = (1 to 9).map(i =>
        round(percentile(col("score"), lit(i / 10.0)) * lit(1e4), 0)
          .cast("long").as(s"c$i"))
      val cuts = u.agg(cutCols.head, cutCols.tail: _*)
      val score4 = col("score") * 10000L
      val decile = (1 to 9).foldLeft(lit(1L)) { case (acc, i) =>
        acc + when(score4 > col(s"c$i"), 1L).otherwise(0L)
      }
      val byDec = u.crossJoin(broadcast(cuts))
        .groupBy(decile.as("decile"))
        .agg(count(lit(1)).as("n_users"), sum("conv").as("n_conv"))
      val tot = byDec.agg(sum("n_users").as("tu"), sum("n_conv").as("tc"))
      val w = Window.orderBy(desc("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byDec.crossJoin(broadcast(tot))
        .select(col("decile"), col("n_users"),
          round(col("n_conv").cast("double") /
            col("n_users").cast("double"), 4).as("conv_rate"),
          round((col("n_conv") * col("tu")).cast("double") /
            (col("n_users") * col("tc")).cast("double"), 4).as("lift"),
          round(sum("n_conv").over(w).cast("double") /
            col("tc").cast("double"), 4).as("cum_capture"))
        .orderBy(desc("decile"))
    },
    Some("""WITH u AS (SELECT user_id,
      |        CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |          AS BIGINT) AS score,
      |        CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
      |          END) AS BIGINT) AS conv
      |      FROM events GROUP BY 1),
      |ct AS (SELECT
      |        CAST(round(quantile_cont(score, 0.1) * 10000.0, 0) AS BIGINT) AS c1,
      |        CAST(round(quantile_cont(score, 0.2) * 10000.0, 0) AS BIGINT) AS c2,
      |        CAST(round(quantile_cont(score, 0.3) * 10000.0, 0) AS BIGINT) AS c3,
      |        CAST(round(quantile_cont(score, 0.4) * 10000.0, 0) AS BIGINT) AS c4,
      |        CAST(round(quantile_cont(score, 0.5) * 10000.0, 0) AS BIGINT) AS c5,
      |        CAST(round(quantile_cont(score, 0.6) * 10000.0, 0) AS BIGINT) AS c6,
      |        CAST(round(quantile_cont(score, 0.7) * 10000.0, 0) AS BIGINT) AS c7,
      |        CAST(round(quantile_cont(score, 0.8) * 10000.0, 0) AS BIGINT) AS c8,
      |        CAST(round(quantile_cont(score, 0.9) * 10000.0, 0) AS BIGINT) AS c9
      |      FROM u),
      |d AS (SELECT 1
      |        + (CASE WHEN score * 10000 > c1 THEN 1 ELSE 0 END)
      |        + (CASE WHEN score * 10000 > c2 THEN 1 ELSE 0 END)
      |        + (CASE WHEN score * 10000 > c3 THEN 1 ELSE 0 END)
      |        + (CASE WHEN score * 10000 > c4 THEN 1 ELSE 0 END)
      |        + (CASE WHEN score * 10000 > c5 THEN 1 ELSE 0 END)
      |        + (CASE WHEN score * 10000 > c6 THEN 1 ELSE 0 END)
      |        + (CASE WHEN score * 10000 > c7 THEN 1 ELSE 0 END)
      |        + (CASE WHEN score * 10000 > c8 THEN 1 ELSE 0 END)
      |        + (CASE WHEN score * 10000 > c9 THEN 1 ELSE 0 END)
      |          AS decile, conv
      |      FROM u CROSS JOIN ct),
      |bd AS (SELECT CAST(decile AS BIGINT) AS decile,
      |        CAST(count(*) AS BIGINT) AS n_users,
      |        CAST(sum(conv) AS BIGINT) AS n_conv
      |      FROM d GROUP BY 1),
      |t AS (SELECT CAST(sum(n_users) AS BIGINT) AS tu,
      |        CAST(sum(n_conv) AS BIGINT) AS tc FROM bd)
      |SELECT decile, n_users,
      |  round(CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE), 4)
      |    AS conv_rate,
      |  round(CAST(n_conv * tu AS DOUBLE) / CAST(n_users * tc AS DOUBLE),
      |    4) AS lift,
      |  round(CAST(sum(n_conv) OVER (ORDER BY decile DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / CAST(tc AS DOUBLE), 4) AS cum_capture
      |FROM bd CROSS JOIN t
      |ORDER BY decile DESC""".stripMargin))

  /** [[EventStreams.runWindowedPsi]]: per-hour PSI of the streamed value
    * distribution against the static whole-table baseline — the drift
    * guardrail running AS the data arrives. The oracle is the batch
    * equivalence of the AvailableNow run (the q38/q155 convention). */
  private val q185 = QDef("q185_stream_psi",
    (s, dir) => EventStreams.runWindowedPsi(s, dir, bins = 10),
    Some("""WITH g AS (SELECT CAST(value AS DOUBLE) AS v, ts FROM events),
      |mm AS (SELECT min(v) AS lo, max(v) AS hi,
      |        CAST(count(*) AS BIGINT) AS n FROM g),
      |bc AS (SELECT greatest(least(floor((v - lo) / ((hi - lo) / 10.0)), 9), 0) AS bin,
      |        CAST(count(*) AS BIGINT) AS bc
      |      FROM g CROSS JOIN mm GROUP BY 1),
      |hb AS (SELECT strftime(date_trunc('hour', ts),
      |          '%Y-%m-%d %H:%M:%S') AS hour_ts,
      |        greatest(least(floor((v - lo) / ((hi - lo) / 10.0)), 9), 0) AS bin,
      |        CAST(count(*) AS BIGINT) AS c
      |      FROM g CROSS JOIN mm GROUP BY 1, 2),
      |h AS (SELECT hour_ts, CAST(sum(c) AS BIGINT) AS n_hour
      |      FROM hb GROUP BY 1),
      |sp AS (SELECT hour_ts, n_hour,
      |        CAST(unnest(range(0, 10)) AS BIGINT) AS bin FROM h),
      |d AS (SELECT sp.hour_ts, sp.n_hour, sp.bin,
      |        coalesce(hb.c, 0) AS c, coalesce(bc.bc, 0) AS bc
      |      FROM sp
      |      LEFT JOIN hb ON sp.hour_ts = hb.hour_ts AND sp.bin = hb.bin
      |      LEFT JOIN bc ON sp.bin = bc.bin),
      |t AS (SELECT hour_ts, n_hour, CAST(round(
      |        ((CAST(c + 1 AS DOUBLE) / CAST(n_hour + 10 AS DOUBLE))
      |         - (CAST(bc + 1 AS DOUBLE) / CAST(n + 10 AS DOUBLE)))
      |        * ln((CAST(c + 1 AS DOUBLE) / CAST(n_hour + 10 AS DOUBLE))
      |           / (CAST(bc + 1 AS DOUBLE) / CAST(n + 10 AS DOUBLE)))
      |        * 100000000.0, 0) AS BIGINT) AS t
      |      FROM d CROSS JOIN mm)
      |SELECT hour_ts, n_hour AS n_events,
      |  round(CAST(sum(t) AS DOUBLE) / 100000000.0, 4) AS psi
      |FROM t GROUP BY 1, 2 ORDER BY hour_ts""".stripMargin))

  /** [[EventStreams.runWindowedSrm]]: per-hour chi-square of streamed
    * per-variant event counts vs the literal 50/30/20 design — the
    * bucketing-health alarm as traffic arrives. Every hour joins the
    * full design spine, so an hour with ZERO events for a variant still
    * contributes its (0−e)²/e term — total starvation alarms loudest. */
  private val q186 = QDef("q186_stream_srm",
    (s, dir) => EventStreams.runWindowedSrm(s, dir),
    Some("""WITH ev AS (SELECT strftime(date_trunc('hour', ts),
      |          '%Y-%m-%d %H:%M:%S') AS hour_ts,
      |        CASE WHEN user_id % 10 <= 4 THEN 'A'
      |          WHEN user_id % 10 <= 7 THEN 'B' ELSE 'C' END AS v
      |      FROM events),
      |hb AS (SELECT hour_ts, v, CAST(count(*) AS BIGINT) AS o
      |       FROM ev GROUP BY 1, 2),
      |h AS (SELECT hour_ts, CAST(sum(o) AS BIGINT) AS n_hour
      |      FROM hb GROUP BY 1),
      |sp AS (SELECT * FROM (VALUES ('A', 0.5), ('B', 0.3), ('C', 0.2))
      |       AS t(v, r)),
      |d AS (SELECT h.hour_ts, n_hour, r, coalesce(o, 0) AS o
      |      FROM h CROSS JOIN sp
      |      LEFT JOIN hb ON hb.hour_ts = h.hour_ts AND hb.v = sp.v),
      |t AS (SELECT hour_ts, n_hour, CAST(round(
      |        (CAST(o AS DOUBLE) - r * CAST(n_hour AS DOUBLE))
      |        * (CAST(o AS DOUBLE) - r * CAST(n_hour AS DOUBLE))
      |        / (r * CAST(n_hour AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
      |          AS t
      |      FROM d)
      |SELECT hour_ts, n_hour AS n_events, CAST(2 AS BIGINT) AS deg_free,
      |  round(CAST(sum(t) AS DOUBLE) / 1000000.0, 4) AS chi2
      |FROM t GROUP BY 1, 2 ORDER BY hour_ts""".stripMargin))

  /** [[Agg.moeRollup]]: Census-method margin-of-error propagation under
    * re-aggregation — √(Σ moe²) for sums, the Bureau's
    * proportion-MOE formula (with the documented ratio fallback on a
    * negative radicand) for shares. Synthetic per-customer estimates
    * (|acctbal| cents, 10% MOE) rolled up to nations. */
  private val q187 = QDef("q187_moe_rollup",
    (s, dir) => {
      val c = T(s, dir, "customer").select(col("c_nationkey"),
        expr("CAST(round(abs(c_acctbal) * 100, 0) AS BIGINT)").as("est"),
        expr("CAST(round(abs(c_acctbal) * 10, 0) AS BIGINT)").as("moe"))
      Agg.moeRollup(c, col("c_nationkey"), col("est"), col("moe"))
        .withColumnRenamed("g", "nation_key").orderBy("nation_key")
    },
    Some("""WITH c AS (SELECT c_nationkey AS g,
      |        CAST(round(abs(c_acctbal) * 100, 0) AS BIGINT) AS e,
      |        CAST(round(abs(c_acctbal) * 10, 0) AS BIGINT) AS m
      |      FROM customer),
      |gg AS (SELECT g, CAST(count(*) AS BIGINT) AS n_parts,
      |        CAST(sum(e) AS BIGINT) AS est,
      |        CAST(sum(m * m) AS BIGINT) AS m2
      |      FROM c GROUP BY 1),
      |t AS (SELECT CAST(sum(est) AS BIGINT) AS t_est,
      |        CAST(sum(m2) AS BIGINT) AS t_m2 FROM gg)
      |SELECT g AS nation_key, n_parts, est,
      |  round(sqrt(CAST(m2 AS DOUBLE)), 4) AS moe,
      |  round(CAST(est AS DOUBLE) / CAST(t_est AS DOUBLE), 4) AS share,
      |  round((CASE WHEN CAST(m2 AS DOUBLE)
      |        - (CAST(est AS DOUBLE) / CAST(t_est AS DOUBLE))
      |          * (CAST(est AS DOUBLE) / CAST(t_est AS DOUBLE))
      |          * CAST(t_m2 AS DOUBLE) >= 0
      |      THEN sqrt(CAST(m2 AS DOUBLE)
      |        - (CAST(est AS DOUBLE) / CAST(t_est AS DOUBLE))
      |          * (CAST(est AS DOUBLE) / CAST(t_est AS DOUBLE))
      |          * CAST(t_m2 AS DOUBLE))
      |      ELSE sqrt(CAST(m2 AS DOUBLE)
      |        + (CAST(est AS DOUBLE) / CAST(t_est AS DOUBLE))
      |          * (CAST(est AS DOUBLE) / CAST(t_est AS DOUBLE))
      |          * CAST(t_m2 AS DOUBLE)) END)
      |    / CAST(t_est AS DOUBLE), 4) AS share_moe
      |FROM gg CROSS JOIN t ORDER BY nation_key""".stripMargin))

  /** [[Agg.weightedPercentile]]: quantity-weighted median line price per
    * return flag — the household-weighted-median-income shape. The
    * cumulative-weight threshold comparison runs entirely in integer
    * space (cum·10⁴ ≥ q4·W). */
  private val q188 = QDef("q188_weighted_median",
    // bucketed two-phase form: the window form would sort ~600 k distinct
    // price cents in 3 tasks (one per returnflag); phase 1's bucket spine
    // is ~10³ rows and phase 2 sorts one $100 bucket per group. Answer is
    // bit-identical, so the oracle keeps the simple window spelling.
    (s, dir) => Agg.weightedPercentileBucketed(
      T(s, dir, "lineitem").select(col("l_returnflag"),
        expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("v"),
        col("l_quantity").cast("long").as("wt")),
      col("l_returnflag"), col("v"), col("wt"), q = 0.5)
      .withColumnRenamed("g", "flag").orderBy("flag"),
    Some("""WITH b AS (SELECT l_returnflag AS g,
      |        CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS v,
      |        CAST(l_quantity AS BIGINT) AS wt
      |      FROM lineitem),
      |bv AS (SELECT g, v, CAST(sum(wt) AS BIGINT) AS wt
      |       FROM b GROUP BY 1, 2),
      |t AS (SELECT g, CAST(sum(wt) AS BIGINT) AS tw FROM bv GROUP BY 1),
      |cw AS (SELECT bv.g, v, tw, CAST(sum(wt) OVER (PARTITION BY bv.g
      |          ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
      |          ROW) AS BIGINT) AS cum
      |      FROM bv JOIN t ON bv.g = t.g),
      |f AS (SELECT g, v, tw FROM cw WHERE cum * 10000 >= 5000 * tw)
      |SELECT g AS flag, CAST(min(v) AS BIGINT) AS weighted_pctl,
      |  CAST(max(tw) AS BIGINT) AS total_weight
      |FROM f GROUP BY 1 ORDER BY flag""".stripMargin))

  /** [[Mutations.mergeAggState]]: incremental rollup maintenance — the
    * pre-cutoff state (yesterday's materialized daily aggregate) folds
    * together with the post-cutoff delta, and because integer partial
    * sums re-associate freely the result is bit-identical to the full
    * recompute the oracle runs. */
  private val q189 = QDef("q189_incremental_agg",
    (s, dir) => {
      val e = T(s, dir, "events").select(to_date(col("ts")).as("day"),
        col("event_type"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
      def rollup(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("day", "event_type")
          .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
          .select(col("day"), col("event_type"), col("n"), col("cents"))
      val state = rollup(e.where(col("day") < lit("2024-01-20")))
      val delta = rollup(e.where(col("day") >= lit("2024-01-20")))
      Mutations.mergeAggState(state, delta, Seq("day", "event_type"),
          Seq("n", "cents"))
        .orderBy("day", "event_type")
    },
    Some("""SELECT CAST(ts AS DATE) AS day, event_type,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
      |    AS cents
      |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin))

  /** [[Curate.bm25Search]]: top-10 documents for the literal query
    * {hash, join, filter} — the retrieval companion to q92's per-doc
    * top terms. Postings filter against the query set before any
    * shuffle; per-term scores quantize to 1e-4 longs before the
    * per-doc sum. */
  private val q190 = QDef("q190_bm25_search",
    (s, dir) => Curate.bm25Search(T(s, dir, "documents"), col("doc_id"),
      col("text"), Seq("hash", "join", "filter"), k = 10),
    Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS l
      |       FROM documents),
      |tok AS (SELECT doc_id, len(l) AS dl, unnest(l) AS term FROM d),
      |q AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
      |      FROM tok WHERE term IN ('hash', 'join', 'filter')
      |      GROUP BY 1, 2, 3),
      |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
      |        FROM q GROUP BY 1),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(len(l)) AS DOUBLE) / count(*) AS avgdl FROM d),
      |sc AS (SELECT doc_id, CAST(round(
      |        ln(1 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2
      |        / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
      |        * 10000.0, 0) AS BIGINT) AS t
      |      FROM q JOIN dfq USING (term), st)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
      |  round(CAST(sum(t) AS DOUBLE) / 10000.0, 4) AS score
      |FROM sc GROUP BY 1 ORDER BY score DESC, doc_id
      |LIMIT 10""".stripMargin))

  /** Benford expected first-digit shares, log10(1 + 1/d) rounded to 4 —
    * the SAME literals land in the Spark plan and the oracle SQL. */
  private def BenfordPct: Seq[(String, Double)] =
    (1 to 9).map(d =>
      d.toString -> math.round(math.log10(1 + 1.0 / d) * 10000) / 10000.0)

  def all: Seq[QDef] = Seq(q140, q141, q142, q143, q144, q145,
    q146, q147, q148, q149, q150, q151, q152, q153, q154, q155,
    q156, q157, q158, q159, q160, q161, q162, q163, q164, q165, q166,
    q167, q168, q169, q170, q171, q172, q173, q174, q175, q176, q177,
    q178, q179, q180, q181, q182, q183, q184, q185, q186, q187, q188,
    q189, q190, q359, q360, q371)
}
