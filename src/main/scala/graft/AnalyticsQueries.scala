package graft

import org.apache.spark.sql.functions._
import Queries.QDef

/** Round-8 analytics batch (q210+): string-similarity record linkage
  * (native Jaro-Winkler codegen), changepoint detection, inequality and
  * feature-separability readouts, proper-scoring-rule calibration, and a
  * seeded differentially-private release. Same oracle conventions as
  * [[Queries]] (FIXTURES.md): integer quantization before every
  * cross-row sum, one sealed round(,4) division per statistic, total
  * ORDER BY.
  */
object AnalyticsQueries {
  private def T(s: org.apache.spark.sql.SparkSession, dir: String, n: String) =
    Tables.t(s, dir, n)

  /** [[FuzzyJoin.jaroWinklerPairs]]: brand-blocked part-name pairs scored
    * by the native [[org.apache.spark.sql.graft.JaroWinkler]] expression
    * (whole-stage codegen — Spark has no built-in JW; DuckDB's
    * jaro_winkler_similarity is the oracle's reference implementation).
    * The 0.847 threshold sits in a verified gap of the attainable score
    * set (nothing in (0.8440, 0.85) at any fixture SF), so unrounded
    * threshold comparison can't flip a pair across engines. */
  private val q210 = QDef("q210_jaro_winkler_pairs",
    (s, dir) => FuzzyJoin.jaroWinklerPairs(T(s, dir, "part"),
      col("p_brand"), col("p_name"), threshold = 0.847)
      .orderBy("blk", "name_a", "name_b"),
    Some("""WITH d AS (SELECT p_brand AS blk, p_name AS nm,
      |        CAST(count(*) AS BIGINT) AS n
      |      FROM part WHERE p_brand IS NOT NULL AND p_name IS NOT NULL
      |      GROUP BY 1, 2)
      |SELECT a.blk, a.nm AS name_a, b.nm AS name_b,
      |  round(jaro_winkler_similarity(a.nm, b.nm), 4) AS jw,
      |  a.n AS n_a, b.n AS n_b
      |FROM d a JOIN d b ON a.blk = b.blk AND a.nm < b.nm
      |WHERE jaro_winkler_similarity(a.nm, b.nm) >= 0.847
      |ORDER BY 1, 2, 3""".stripMargin))

  /** [[Timeseries.cusumChangepoint]] on daily order revenue: the
    * cumulative-deviation peak locates the most likely level shift.
    * Integer end to end — the scan compares n·cum − t·S longs. */
  private val q211 = QDef("q211_cusum_changepoint",
    (s, dir) => Timeseries.cusumChangepoint(
      T(s, dir, "orders").select(col("o_orderdate"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents")),
      col("o_orderdate"), col("cents")),
    Some("""WITH d AS (SELECT o_orderdate AS day,
      |        CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS BIGINT)
      |          AS x
      |      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
      |t AS (SELECT day, x, row_number() OVER (ORDER BY day) AS t,
      |        sum(x) OVER (ORDER BY day
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |      FROM d),
      |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(x) AS BIGINT) AS s FROM d),
      |sc AS (SELECT day, n, s, n*cum - t*s AS ns, abs(n*cum - t*s) AS a
      |       FROM t CROSS JOIN g),
      |pk AS (SELECT max(a) AS maxa FROM sc),
      |cp AS (SELECT min(day) AS cp_day, maxa, n, s
      |       FROM sc, pk WHERE a = maxa GROUP BY maxa, n, s)
      |SELECT cp_day,
      |  round(CAST(cp.maxa AS DOUBLE)/(CAST(cp.n AS DOUBLE)*100.0), 4)
      |    AS max_abs_cusum,
      |  CASE WHEN sc.ns > 0 THEN 'up_then_down' ELSE 'down_then_up' END
      |    AS shape,
      |  cp.n AS n_days,
      |  round(CAST(cp.s AS DOUBLE)/(CAST(cp.n AS DOUBLE)*100.0), 4)
      |    AS mean_daily
      |FROM cp JOIN sc ON sc.day = cp.cp_day""".stripMargin))

  /** [[Skew.gini]]: per-nation Gini of customer lifetime spend (cents;
    * no-order customers enter at 0 via the LEFT join — dropping them
    * would understate inequality exactly where it's highest). */
  private val q212 = QDef("q212_gini_spend",
    (s, dir) => {
      val sp = T(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
          .as("cents"))
      val cu = T(s, dir, "customer")
        .join(T(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .join(sp, col("c_custkey") === col("o_custkey"), "left")
        .select(col("n_name"), col("c_custkey"),
          coalesce(col("cents"), lit(0L)).as("v"))
      Skew.gini(cu, col("n_name"), col("v"), col("c_custkey"))
        .orderBy("g")
    },
    Some("""WITH sp AS (SELECT o_custkey AS ck,
      |        CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS BIGINT)
      |          AS cents
      |      FROM orders GROUP BY 1),
      |cu AS (SELECT n_name AS g, c_custkey AS tie,
      |         coalesce(cents, 0) AS v
      |       FROM customer JOIN nation ON c_nationkey = n_nationkey
      |       LEFT JOIN sp ON c_custkey = ck),
      |r AS (SELECT g, v,
      |        row_number() OVER (PARTITION BY g ORDER BY v, tie) AS i
      |      FROM cu),
      |a AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(v) AS BIGINT) AS sv,
      |        CAST(sum(i*v) AS BIGINT) AS siv
      |      FROM r GROUP BY g)
      |SELECT g, n, sv AS total,
      |  round((2.0*siv - CAST((n+1)*sv AS DOUBLE)) /
      |    (CAST(n AS DOUBLE) * nullif(sv, 0)), 4) AS gini
      |FROM a ORDER BY g""".stripMargin))

  /** [[RankEval.woeIv]]: weight-of-evidence / information value of $5k
    * price bands against the returned flag — "does price separate
    * returns?". Value-based bands (integer division on cents), not
    * ntile: band edges are tie-order-free literals. */
  private val q213 = QDef("q213_woe_iv",
    (s, dir) => RankEval.woeIv(
      T(s, dir, "lineitem").select(
        expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT) DIV 500000")
          .as("bin"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y")),
      col("bin"), col("y")).orderBy("bin"),
    Some("""WITH c AS (SELECT
      |        CAST(round(l_extendedprice*100,0) AS BIGINT) // 500000 AS bin,
      |        CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      |      FROM lineitem),
      |cell AS (SELECT bin,
      |        CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS g,
      |        CAST(sum(CASE WHEN y <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS b
      |      FROM c GROUP BY 1),
      |t AS (SELECT CAST(sum(g) AS BIGINT) AS gt,
      |        CAST(sum(b) AS BIGINT) AS bt FROM cell),
      |pb AS (SELECT bin, g, b,
      |        CAST(CASE WHEN g = 0 OR b = 0 THEN 1 ELSE 0 END AS BIGINT)
      |          AS one_sided,
      |        CASE WHEN g > 0 AND b > 0 THEN
      |          round(ln(CAST(g AS DOUBLE)*bt/(CAST(b AS DOUBLE)*gt)), 4)
      |        END AS woe,
      |        CASE WHEN g > 0 AND b > 0 THEN
      |          CAST(round((CAST(g AS DOUBLE)/gt - CAST(b AS DOUBLE)/bt) *
      |            ln(CAST(g AS DOUBLE)*bt/(CAST(b AS DOUBLE)*gt)) *
      |            1000000.0, 0) AS BIGINT)
      |        ELSE 0 END AS ivq
      |      FROM cell CROSS JOIN t),
      |iv AS (SELECT CAST(CASE WHEN sum(ivq) < 0
      |          THEN -((2 * CAST(-sum(ivq) AS HUGEINT) + 100) // 200)
      |          ELSE (2 * CAST(sum(ivq) AS HUGEINT) + 100) // 200 END
      |          AS DOUBLE) / 10000.0 AS iv
      |       FROM pb)
      |SELECT bin, g, b, one_sided, woe, iv
      |FROM pb CROSS JOIN iv ORDER BY bin""".stripMargin))

  /** [[RankEval.brierLogloss]]: Brier + log-loss of the max-normalized
    * spend score as a delinquency probability — the proper-scoring
    * companions to q191's AUC over the same units. */
  private val q214 = QDef("q214_brier_logloss",
    (s, dir) => {
      val sp = T(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
          .as("cents"))
      val u = T(s, dir, "customer")
        .select(col("c_custkey").as("id"),
          when(col("c_acctbal") < 0, 1L).otherwise(0L).as("y"))
        .join(sp, col("id") === col("o_custkey"), "left")
        .select(col("y"), coalesce(col("cents"), lit(0L)).as("sc"))
      val m = u.agg(max("sc").as("ms"))
      val scored = u.crossJoin(broadcast(m))
        .select((col("sc").cast("double") / col("ms").cast("double"))
          .as("p"), col("y"))
      RankEval.brierLogloss(scored, col("p"), col("y"))
    },
    Some("""WITH sp AS (SELECT o_custkey AS ck,
      |        CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS BIGINT)
      |          AS cents
      |      FROM orders GROUP BY 1),
      |u AS (SELECT CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS y,
      |        coalesce(cents, 0) AS sc
      |      FROM customer LEFT JOIN sp ON c_custkey = ck),
      |m AS (SELECT CAST(max(sc) AS BIGINT) AS ms FROM u),
      |scd AS (SELECT CAST(sc AS DOUBLE)/ms AS p, y FROM u CROSS JOIN m),
      |q AS (SELECT p, y,
      |        CAST(round((p - y)*(p - y) * 1000000.0, 0) AS BIGINT) AS sq,
      |        CAST(round(-(y*ln(least(greatest(p, 0.000001), 0.999999)) +
      |          (1-y)*ln(1 - least(greatest(p, 0.000001), 0.999999))) *
      |          1000000.0, 0) AS BIGINT) AS nl
      |      FROM scd)
      |SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
      |  round(CAST(sum(sq) AS DOUBLE)/count(*)/1000000.0, 4) AS brier,
      |  round(CAST(sum(nl) AS DOUBLE)/count(*)/1000000.0, 4) AS logloss
      |FROM q""".stripMargin))

  /** [[Privacy.dpHistogram]]: ε=0.5 Laplace-noised event-type counts,
    * noise pinned to the release salt (seeded noise is both the
    * production rule — reruns must not average away the mechanism — and
    * what makes a DP release oracle-checkable). */
  private val q215 = QDef("q215_dp_histogram",
    (s, dir) => Privacy.dpHistogram(T(s, dir, "events"),
      col("event_type"), epsilon = 0.5, salt = "r8").orderBy("cell"),
    Some("""WITH g AS (SELECT event_type AS cell,
      |        CAST(count(*) AS BIGINT) AS n
      |      FROM events WHERE event_type IS NOT NULL GROUP BY 1),
      |u AS (SELECT cell, n,
      |        (CAST(('0x' || substr(md5(cell || 'r8'), 1, 15)) AS BIGINT)
      |          % 1000000 + 0.5)/1000000.0 AS u
      |      FROM g)
      |SELECT cell,
      |  round(n + (-1.0/0.5) *
      |    (CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END) *
      |    ln(1 - 2*abs(u - 0.5)), 4) AS noisy_count,
      |  0.5 AS epsilon
      |FROM u ORDER BY cell""".stripMargin))

  /** [[CountMin]]: top-10 users by exact event count, with the CMS
    * point estimate alongside — the oracle re-states both columns from
    * exact counts, so the gate PROVES the sketch is collision-free for
    * the reported keys at this width (4×16384 over ~600 keys; the unit
    * suite shows the ≥-truth bias under forced collisions). */
  private val q216 = QDef("q216_countmin_topk",
    (s, dir) => {
      val ev = T(s, dir, "events")
      val cms = CountMin.sketch(ev, col("user_id"))
      val exact = ev.where(col("user_id").isNotNull)
        .groupBy("user_id").agg(count(lit(1)).as("n_exact"))
        .orderBy(desc("n_exact"), col("user_id")).limit(10)
      CountMin.estimates(exact, col("user_id"), cms)
        .select(col("user_id"), col("est").as("n_est"), col("n_exact"))
        .orderBy(desc("n_exact"), col("user_id"))
    },
    Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n_est,
      |  CAST(count(*) AS BIGINT) AS n_exact
      |FROM events WHERE user_id IS NOT NULL
      |GROUP BY 1 ORDER BY n_exact DESC, user_id LIMIT 10""".stripMargin))

  /** [[IntervalJoin.overlapReport]]: concurrent-shipment windows per
    * part — lineitem intervals [shipdate, shipdate + quantity days],
    * gridded into 32-day cells so candidates meet by equi-join (the
    * oracle states the naive quadratic BETWEEN join the grid must
    * reproduce exactly). */
  private val q217 = QDef("q217_interval_overlap",
    (s, dir) => IntervalJoin.overlapReport(
      T(s, dir, "lineitem").select(col("l_partkey"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("iid"),
        expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) DIV 86400000000")
          .as("s"),
        (expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) DIV 86400000000") +
          expr("CAST(round(l_quantity, 0) AS BIGINT)")).as("e")),
      col("l_partkey"), col("iid"), col("s"), col("e"), bucketDays = 32)
      .orderBy("k"),
    Some("""WITH l AS (SELECT l_partkey AS k,
      |        l_orderkey*10 + l_linenumber AS id,
      |        epoch_us(l_shipdate) // 86400000000 AS s,
      |        epoch_us(l_shipdate) // 86400000000 +
      |          CAST(round(l_quantity, 0) AS BIGINT) AS e
      |      FROM lineitem),
      |p AS (SELECT a.k AS k,
      |        least(a.e, b.e) - greatest(a.s, b.s) + 1 AS ov
      |      FROM l a JOIN l b ON a.k = b.k AND a.id < b.id
      |        AND a.s <= b.e AND b.s <= a.e)
      |SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(sum(ov) AS BIGINT) AS overlap_days
      |FROM p GROUP BY k ORDER BY k""".stripMargin))

  /** [[LanguageModel.bigramLogprob]]: per-doc cross-entropy + perplexity
    * under the corpus's add-1 bigram model. */
  private val q218 = QDef("q218_bigram_perplexity",
    (s, dir) => LanguageModel.bigramLogprob(T(s, dir, "documents"),
      col("doc_id"), col("text")).orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
      |       FROM documents),
      |bi AS (SELECT doc_id, p.ta AS w1, p.tb AS w2 FROM
      |       (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
      |          i -> {'ta': tk[i], 'tb': tk[i+1]})) AS p FROM t)),
      |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
      |       FROM bi GROUP BY 1, 2),
      |cs AS (SELECT w1, CAST(count(*) AS BIGINT) AS cs FROM bi GROUP BY 1),
      |v AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS vv
      |      FROM (SELECT unnest(tk) AS term FROM t)),
      |lp AS (SELECT doc_id,
      |         CAST(round(ln(CAST(c12 + 1 AS DOUBLE) / (cs + vv)) *
      |           1000000.0, 0) AS BIGINT) AS lq
      |       FROM bi JOIN cb USING (w1, w2) JOIN cs USING (w1)
      |       CROSS JOIN v)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |  CAST(CASE WHEN sum(lq) < 0
      |    THEN -((2 * CAST(-sum(lq) AS HUGEINT) * 10000 +
      |      count(*) * 1000000) // (2 * count(*) * 1000000))
      |    ELSE (2 * CAST(sum(lq) AS HUGEINT) * 10000 +
      |      count(*) * 1000000) // (2 * count(*) * 1000000) END AS DOUBLE)
      |    / 10000.0 AS avg_logprob,
      |  round(exp(-CAST(sum(lq) AS DOUBLE) / (1000000.0 * count(*))), 4)
      |    AS ppl
      |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** [[Pca.covarianceMatrix]]: the one-pass fixed-point covariance
    * matrix of the embedding table (upper triangle, 0-based dims) — the
    * distributed half of PCA. */
  private val q219 = QDef("q219_pca_covariance",
    (s, dir) => Pca.covarianceMatrix(T(s, dir, "embeddings"),
      col("embedding")).orderBy("i", "j"),
    Some("""WITH e AS (SELECT vec_id, embedding FROM embeddings
      |       WHERE embedding IS NOT NULL),
      |x AS (SELECT vec_id AS rid, u.s['i'] - 1 AS i,
      |        CAST(round(CAST(u.s['v'] AS DOUBLE) * 1000000.0, 0)
      |          AS BIGINT) AS xq
      |      FROM (SELECT vec_id, unnest(list_transform(
      |              range(1, len(embedding) + 1),
      |              k -> {'i': k, 'v': embedding[k]})) AS s
      |            FROM e) u),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
      |p AS (SELECT a.i AS i, b.i AS j,
      |        CAST(sum(a.xq * b.xq) AS HUGEINT) AS sab
      |      FROM x a JOIN x b ON a.rid = b.rid AND a.i <= b.i
      |      GROUP BY 1, 2),
      |s AS (SELECT i, CAST(sum(xq) AS HUGEINT) AS si FROM x GROUP BY 1),
      |r AS (SELECT p.i, p.j, n,
      |        CAST(n AS HUGEINT) * sab - sa.si * sb.si AS num,
      |        CAST(n AS HUGEINT) * (n - 1) *
      |          CAST(1000000000000 AS HUGEINT) AS den
      |      FROM p JOIN s sa ON sa.i = p.i JOIN s sb ON sb.i = p.j
      |      CROSS JOIN nn)
      |SELECT i, j, n,
      |  CAST(CASE WHEN num < 0
      |    THEN -((2 * (-num) * 10000 + den) // (2 * den))
      |    ELSE (2 * num * 10000 + den) // (2 * den) END AS DOUBLE)
      |    / 10000.0 AS cov
      |FROM r ORDER BY i, j""".stripMargin))

  /** Fixed-component PCA projection: the embeddings scored against two
    * LITERAL component vectors both engines share (q219 gates the
    * covariance). Embeddings quantize to 1e-6 longs, the components are
    * small-integer literals, and each score is an exact integer dot
    * computed inline and sealed in integer space. */
  private val q306 = {
    val c1 = (0 until 64).map(i => (i * 7) % 11 - 5)
    val c2 = (0 until 64).map(i => (i * 13) % 17 - 8)
    val c1s = c1.mkString("[", ", ", "]")
    val c2s = c2.mkString("[", ", ", "]")
    QDef("q306_pca_projection",
      (s, dir) => {
        val c1a = array(c1.map(v => lit(v.toLong)): _*)
        val c2a = array(c2.map(v => lit(v.toLong)): _*)
        T(s, dir, "embeddings")
          .where(col("vec_id").isNotNull && col("embedding").isNotNull)
          .withColumn("xq", expr(
            "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) " +
              "* 1000000.0, 0) AS BIGINT))"))
          .withColumn("d1", aggregate(
            zip_with(col("xq"), c1a, (x, c) => x * c),
            lit(0L), (acc, v) => acc + v))
          .withColumn("d2", aggregate(
            zip_with(col("xq"), c2a, (x, c) => x * c),
            lit(0L), (acc, v) => acc + v))
          .select(col("vec_id"),
            Seal.pow4("d1", 6).as("pc1"),
            Seal.pow4("d2", 6).as("pc2"))
          .orderBy("vec_id")
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
        |      WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
        |x AS (SELECT vec_id, list_transform(embedding,
        |        x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0, 0)
        |          AS BIGINT)) AS xq
        |      FROM e),
        |d AS (SELECT vec_id,
        |        CAST(list_sum(list_transform(range(1, 65),
        |          i -> xq[i] * ($c1s)[i])) AS BIGINT) AS d1,
        |        CAST(list_sum(list_transform(range(1, 65),
        |          i -> xq[i] * ($c2s)[i])) AS BIGINT) AS d2
        |      FROM x)
        |SELECT vec_id,
        |  CAST(CASE WHEN d1 < 0
        |    THEN -((2 * CAST(-d1 AS HUGEINT) + 100) // 200)
        |    ELSE (2 * CAST(d1 AS HUGEINT) + 100) // 200 END AS DOUBLE)
        |    / 10000.0 AS pc1,
        |  CAST(CASE WHEN d2 < 0
        |    THEN -((2 * CAST(-d2 AS HUGEINT) + 100) // 200)
        |    ELSE (2 * CAST(d2 AS HUGEINT) + 100) // 200 END AS DOUBLE)
        |    / 10000.0 AS pc2
        |FROM d ORDER BY vec_id""".stripMargin))
  }

  /** [[Trend.poissonBootstrap]]: 64-replicate bootstrap of mean line
    * price — the distributed (Poisson) bootstrap whose weights are
    * per-row inverse-CDF scalars, no global n, no per-resample shuffle. */
  private val q221 = QDef("q221_poisson_bootstrap",
    (s, dir) => Trend.poissonBootstrap(
      T(s, dir, "lineitem").select(
        (col("l_orderkey") * 10 + col("l_linenumber")).as("iid"),
        expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("x")),
      col("iid"), col("x"), b = 64, salt = "pb8"),
    Some("""WITH l AS (SELECT l_orderkey*10 + l_linenumber AS id,
      |        CAST(round(l_extendedprice*100,0) AS BIGINT) AS x
      |      FROM lineitem),
      |r AS (SELECT id, x, unnest(range(1, 65)) AS rep FROM l),
      |h AS (SELECT x, rep,
      |        (CAST((CAST(('0x' || substr(md5(CAST(id AS VARCHAR) || 'pb8'),
      |             1, 15)) AS BIGINT) % 1000000
      |          + rep * (CAST(('0x' || substr(md5(CAST(id AS VARCHAR) ||
      |             'pb8'), 16, 15)) AS BIGINT) % 999983)) % 1000000
      |          AS DOUBLE) + 0.5) / 1000000.0 AS u
      |      FROM r),
      |w AS (SELECT x, rep,
      |        (CASE WHEN u >= 0.36787944117144233 THEN 1 ELSE 0 END) +
      |        (CASE WHEN u >= 0.7357588823428847 THEN 1 ELSE 0 END) +
      |        (CASE WHEN u >= 0.9196986029286058 THEN 1 ELSE 0 END) +
      |        (CASE WHEN u >= 0.9810118431238463 THEN 1 ELSE 0 END) +
      |        (CASE WHEN u >= 0.9963401531726563 THEN 1 ELSE 0 END) +
      |        (CASE WHEN u >= 0.9994058151824183 THEN 1 ELSE 0 END) +
      |        (CASE WHEN u >= 0.999916758850712 THEN 1 ELSE 0 END) +
      |        (CASE WHEN u >= 0.9999897508033253 THEN 1 ELSE 0 END) +
      |        (CASE WHEN u >= 0.999998874797402 THEN 1 ELSE 0 END) +
      |        (CASE WHEN u >= 0.9999998885745216 THEN 1 ELSE 0 END) AS w
      |      FROM h),
      |m AS (SELECT rep,
      |        CAST(round(CAST(sum(w*x) AS DOUBLE) * 10000.0 /
      |          nullif(CAST(sum(w) AS DOUBLE), 0), 0) AS BIGINT) AS m4
      |      FROM w GROUP BY 1),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS nb,
      |        sum(CAST(m4 AS HUGEINT)) AS s1,
      |        sum(CAST(m4 AS HUGEINT) * CAST(m4 AS HUGEINT)) AS s2,
      |        quantile_cont(m4, 0.05) AS p05,
      |        quantile_cont(m4, 0.95) AS p95
      |      FROM m WHERE m4 IS NOT NULL)
      |SELECT nb AS n_reps,
      |  round(CAST(s1 AS DOUBLE) / (CAST(nb AS DOUBLE) * 10000.0), 4)
      |    AS boot_mean,
      |  round(sqrt((CAST(s2 AS DOUBLE) -
      |      CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(nb AS DOUBLE))
      |    / CAST(nb - 1 AS DOUBLE)) / 10000.0, 4) AS boot_se,
      |  round(p05 / 10000.0, 4) AS ci_lo,
      |  round(p95 / 10000.0, 4) AS ci_hi
      |FROM a""".stripMargin))

  /** [[Trend.diffInDiff]]: hash-armed difference-in-differences on
    * per-event value, time-split mid-month — the parallel-trends
    * readout over the events table. */
  private val q222 = QDef("q222_diff_in_diff",
    (s, dir) => Trend.diffInDiff(
      T(s, dir, "events").select(col("user_id"), col("ts"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("x")),
      col("user_id"), col("ts"), col("x"),
      cutoff = "2024-01-16 00:00:00", salt = "did8"),
    Some("""WITH e AS (SELECT
      |        CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)
      |            || 'did8'), 1, 15)) AS BIGINT) % 2 = 0
      |          THEN 'T' ELSE 'C' END AS arm,
      |        CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
      |          THEN 'post' ELSE 'pre' END AS per,
      |        CAST(round(value * 100, 0) AS BIGINT) AS x
      |      FROM events
      |      WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |        AND value IS NOT NULL),
      |c AS (SELECT arm, per, CAST(sum(x) AS BIGINT) AS sx,
      |        CAST(count(*) AS BIGINT) AS n
      |      FROM e GROUP BY 1, 2),
      |a AS (SELECT
      |        max(CASE WHEN arm = 'T' AND per = 'pre' THEN sx END) AS stp,
      |        max(CASE WHEN arm = 'T' AND per = 'pre' THEN n END) AS ntp,
      |        max(CASE WHEN arm = 'T' AND per = 'post' THEN sx END) AS stq,
      |        max(CASE WHEN arm = 'T' AND per = 'post' THEN n END) AS ntq,
      |        max(CASE WHEN arm = 'C' AND per = 'pre' THEN sx END) AS scp,
      |        max(CASE WHEN arm = 'C' AND per = 'pre' THEN n END) AS ncp,
      |        max(CASE WHEN arm = 'C' AND per = 'post' THEN sx END) AS scq,
      |        max(CASE WHEN arm = 'C' AND per = 'post' THEN n END) AS ncq,
      |        CAST(sum(CASE WHEN arm = 'T' THEN n ELSE 0 END) AS BIGINT)
      |          AS n_treat,
      |        CAST(sum(CASE WHEN arm = 'C' THEN n ELSE 0 END) AS BIGINT)
      |          AS n_ctrl
      |      FROM c),
      |fx AS (SELECT n_treat, n_ctrl, stp, ntp, stq, ntq, scp, ncp, scq,
      |        ncq,
      |        CAST(stq AS HUGEINT) * ntp * ncq * ncp
      |          - CAST(stp AS HUGEINT) * ntq * ncq * ncp
      |          - CAST(scq AS HUGEINT) * ntq * ntp * ncp
      |          + CAST(scp AS HUGEINT) * ntq * ntp * ncq AS dnum,
      |        100 * CAST(ntq AS HUGEINT) * ntp * ncq * ncp AS dden
      |      FROM a)
      |SELECT n_treat, n_ctrl,
      |  CAST(CASE WHEN stp < 0
      |    THEN -((2 * CAST(-stp AS HUGEINT) * 10000 + ntp * 100) //
      |      (2 * ntp * 100))
      |    ELSE (2 * CAST(stp AS HUGEINT) * 10000 + ntp * 100) //
      |      (2 * ntp * 100) END AS DOUBLE) / 10000.0 AS mean_t_pre,
      |  CAST(CASE WHEN stq < 0
      |    THEN -((2 * CAST(-stq AS HUGEINT) * 10000 + ntq * 100) //
      |      (2 * ntq * 100))
      |    ELSE (2 * CAST(stq AS HUGEINT) * 10000 + ntq * 100) //
      |      (2 * ntq * 100) END AS DOUBLE) / 10000.0 AS mean_t_post,
      |  CAST(CASE WHEN scp < 0
      |    THEN -((2 * CAST(-scp AS HUGEINT) * 10000 + ncp * 100) //
      |      (2 * ncp * 100))
      |    ELSE (2 * CAST(scp AS HUGEINT) * 10000 + ncp * 100) //
      |      (2 * ncp * 100) END AS DOUBLE) / 10000.0 AS mean_c_pre,
      |  CAST(CASE WHEN scq < 0
      |    THEN -((2 * CAST(-scq AS HUGEINT) * 10000 + ncq * 100) //
      |      (2 * ncq * 100))
      |    ELSE (2 * CAST(scq AS HUGEINT) * 10000 + ncq * 100) //
      |      (2 * ncq * 100) END AS DOUBLE) / 10000.0 AS mean_c_post,
      |  CAST(CASE WHEN dnum < 0
      |    THEN -((2 * (-dnum) * 10000 + dden) // (2 * dden))
      |    ELSE (2 * dnum * 10000 + dden) // (2 * dden) END AS DOUBLE)
      |    / 10000.0 AS did
      |FROM fx""".stripMargin))

  /** [[RankEval.qiniBands]]: cumulative uplift of purchase conversion
    * by descending activity band, arms hash-assigned — the uplift
    * acceptance curve (activity stands in for a model score; the
    * operator only needs SOME deterministic ranking). */
  private val q223 = QDef("q223_qini_uplift",
    (s, dir) => {
      val perUser = T(s, dir, "events")
        .where(col("user_id").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("cnt"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
        .select(least(expr("cnt DIV 20"), lit(9L)).as("band"),
          pmod(Dedup.hash60(concat(col("user_id").cast("string"),
            lit("up8"))), lit(2L)).as("tr"),
          col("y"))
      RankEval.qiniBands(perUser, col("band"),
        when(col("tr") === 0, 1L).otherwise(0L), col("y"))
        .orderBy(desc("band"))
    },
    Some("""WITH pu AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt,
      |        max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |          AS y
      |      FROM events WHERE user_id IS NOT NULL GROUP BY 1),
      |u AS (SELECT least(cnt // 20, 9) AS band,
      |        CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)
      |            || 'up8'), 1, 15)) AS BIGINT) % 2 = 0
      |          THEN 1 ELSE 0 END AS t,
      |        y
      |      FROM pu),
      |c AS (SELECT band,
      |        CAST(sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |          AS nt,
      |        CAST(sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |          AS nc,
      |        CAST(sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT)
      |          AS yt,
      |        CAST(sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT)
      |          AS yc
      |      FROM u GROUP BY 1),
      |q AS (SELECT band, nt, nc, yt, yc,
      |        CAST(sum(nt) OVER wdesc AS BIGINT) AS cnt_,
      |        CAST(sum(nc) OVER wdesc AS BIGINT) AS cnc,
      |        CAST(sum(yt) OVER wdesc AS BIGINT) AS cyt,
      |        CAST(sum(yc) OVER wdesc AS BIGINT) AS cyc
      |      FROM c
      |      WINDOW wdesc AS (ORDER BY band DESC
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT band, nt, nc, yt, yc,
      |  round(CAST(cyt AS DOUBLE) -
      |    CAST(cyc AS DOUBLE) * CAST(cnt_ AS DOUBLE) /
      |      CAST(nullif(cnc, 0) AS DOUBLE), 4) AS qini
      |FROM q ORDER BY band DESC""".stripMargin))

  /** [[Sketches.hllDistinct]]: HyperLogLog (p=6) distinct users per event
    * type — the register-level sketch whose every intermediate is an
    * integer (harmonic sum in 2^55 fixed-point), so the DuckDB twin
    * reproduces the estimate hash-exactly. The mergeable counterpart to
    * q107's KMV: 64 six-bit registers per group, pointwise-max merge. */
  private val q224 = QDef("q224_hll_distinct",
    (s, dir) => Sketches.hllDistinct(
      T(s, dir, "events").where(col("event_type").isNotNull),
      col("event_type"), col("user_id")).orderBy("grp"),
    Some("""WITH h AS (SELECT event_type AS grp,
      |        CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
      |          AS BIGINT) AS h
      |      FROM events
      |      WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
      |r AS (SELECT grp, h % 64 AS bkt,
      |        max(CASE WHEN h // 64 = 0 THEN 55
      |            ELSE 55 - length(bin(h // 64)) END) AS reg
      |      FROM h GROUP BY 1, 2),
      |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_buckets,
      |        CAST(sum(CAST(1 AS BIGINT) << (55 - reg)) AS BIGINT) AS ss
      |      FROM r GROUP BY 1),
      |e AS (SELECT grp, n_buckets,
      |        CAST(64 - n_buckets AS BIGINT) AS zero_buckets,
      |        CAST(ss + (64 - n_buckets) * 36028797018963968 AS BIGINT)
      |          AS s55
      |      FROM g),
      |w AS (SELECT *, CAST(0.709 AS DOUBLE) *
      |        CAST(147573952589676412928 AS DOUBLE) / CAST(s55 AS DOUBLE)
      |          AS raw
      |      FROM e)
      |SELECT grp, n_buckets, zero_buckets, s55,
      |  round(CASE WHEN raw <= 160.0 AND zero_buckets > 0
      |    THEN 64.0 * ln(64.0 / CAST(zero_buckets AS DOUBLE))
      |    ELSE raw END, 4) AS est_distinct
      |FROM w ORDER BY grp""".stripMargin))

  /** [[Dedup.goldenRecords]]: survivorship over exact-text duplicate
    * clusters of `documents` — majority language, anchor (min-id) source,
    * and the source of the largest member — the entity-resolution merge
    * step downstream of the q21/q45 dedup family. */
  private val q225 = QDef("q225_golden_record",
    (s, dir) => Dedup.goldenRecords(T(s, dir, "documents"),
      col("doc_id"), col("text"), col("lang"), col("source"),
      col("n_chars"), col("source")).orderBy("cluster"),
    Some("""WITH r0 AS (SELECT
      |        CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS cluster,
      |        doc_id AS id, lang AS mv, source AS av, n_chars AS bm,
      |        source AS bf
      |      FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
      |agg AS (SELECT cluster, CAST(min(id) AS BIGINT) AS golden_id,
      |        CAST(count(*) AS BIGINT) AS n_members
      |      FROM r0 GROUP BY 1),
      |md AS (SELECT cluster, mv, row_number() OVER (PARTITION BY cluster
      |          ORDER BY cnt DESC, mv) AS rn
      |       FROM (SELECT cluster, mv, count(mv) AS cnt
      |             FROM r0 GROUP BY 1, 2)),
      |an AS (SELECT cluster, av, row_number() OVER (PARTITION BY cluster
      |          ORDER BY id) AS rn FROM r0),
      |bs AS (SELECT cluster, bf, bm, row_number() OVER (PARTITION BY cluster
      |          ORDER BY coalesce(bm, -9223372036854775807 - 1) DESC, id)
      |          AS rn FROM r0)
      |SELECT a.cluster, a.golden_id, a.n_members, md.mv AS mode_val,
      |  an.av AS anchor_val, bs.bf AS best_val,
      |  CAST(bs.bm AS BIGINT) AS best_metric
      |FROM agg a
      |  JOIN md ON a.cluster = md.cluster AND md.rn = 1
      |  JOIN an ON a.cluster = an.cluster AND an.rn = 1
      |  JOIN bs ON a.cluster = bs.cluster AND bs.rn = 1
      |ORDER BY a.cluster""".stripMargin))

  /** [[Encode.targetEncodingLoo]]: leave-one-out target encoding of order
    * priority against the fulfilled flag, smoothing m=20 — the complete
    * per-category encoding map (binary target ⇒ at most two LOO values
    * per category), exact-rational until one sealed division. */
  private val q226 = QDef("q226_target_encoding",
    (s, dir) => Encode.targetEncodingLoo(
      T(s, dir, "orders").where(col("o_orderstatus").isNotNull),
      col("o_orderpriority"),
      (col("o_orderstatus") === "F").cast("long"), m = 20L),
    Some("""WITH r0 AS (SELECT o_orderpriority AS cat,
      |        CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      |      FROM orders
      |      WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL),
      |per AS (SELECT cat, CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(y) AS BIGINT) AS sy FROM r0 GROUP BY 1),
      |g AS (SELECT CAST(count(*) AS BIGINT) AS gn,
      |        CAST(sum(y) AS BIGINT) AS gs FROM r0)
      |SELECT cat, n, sy AS pos,
      |  CASE WHEN sy > 0 THEN
      |    CAST((2 * CAST((sy - 1) * gn + 20 * gs AS HUGEINT) * 10000 +
      |      (n - 1 + 20) * gn) // (2 * (n - 1 + 20) * gn) AS DOUBLE)
      |      / 10000.0 END AS enc_pos,
      |  CASE WHEN sy < n THEN
      |    CAST((2 * CAST(sy * gn + 20 * gs AS HUGEINT) * 10000 +
      |      (n - 1 + 20) * gn) // (2 * (n - 1 + 20) * gn) AS DOUBLE)
      |      / 10000.0 END AS enc_neg,
      |  CAST((2 * CAST((n - 1) * sy * gn + n * 20 * gs AS HUGEINT) * 10000
      |    + n * (n - 1 + 20) * gn) // (2 * n * (n - 1 + 20) * gn)
      |    AS DOUBLE) / 10000.0 AS avg_enc
      |FROM per CROSS JOIN g ORDER BY cat""".stripMargin))

  /** [[Trend.stratifiedAte]]: subclassification ATE of hash-armed
    * treatment on purchase conversion, stratified by fixed activity bands
    * (1–2 / 3–5 / 6–10 / 11+ events — static thresholds, no global
    * window; a data-driven quartile banding would use the q201
    * rank-bucketing device at scale). */
  private val q227 = QDef("q227_stratified_ate",
    (s, dir) => {
      val perUser = T(s, dir, "events")
        .where(col("user_id").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("cnt"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
        .select(col("user_id"), col("y"),
          when(col("cnt") <= 2, "b1_low")
            .when(col("cnt") <= 5, "b2_mid")
            .when(col("cnt") <= 10, "b3_high")
            .otherwise("b4_power").as("st"))
      Trend.stratifiedAte(perUser, col("user_id"), col("st"), col("y"),
        salt = "ate7")
    },
    Some("""WITH u AS (SELECT user_id AS u, CAST(count(*) AS BIGINT) AS cnt,
      |        max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      |      FROM events WHERE user_id IS NOT NULL GROUP BY 1),
      |s AS (SELECT u, y, CASE WHEN cnt <= 2 THEN 'b1_low'
      |        WHEN cnt <= 5 THEN 'b2_mid' WHEN cnt <= 10 THEN 'b3_high'
      |        ELSE 'b4_power' END AS st FROM u),
      |r0 AS (SELECT st, y, CASE WHEN CAST(('0x' ||
      |        substr(md5(CAST(u AS VARCHAR) || 'ate7'), 1, 15)) AS BIGINT)
      |          % 2 = 0 THEN 1 ELSE 0 END AS t FROM s),
      |c AS (SELECT st, CAST(sum(t) AS BIGINT) AS nt,
      |        CAST(sum(1 - t) AS BIGINT) AS nc,
      |        CAST(sum(t * y) AS BIGINT) AS syt,
      |        CAST(sum((1 - t) * y) AS BIGINT) AS syc
      |      FROM r0 GROUP BY 1),
      |used AS (SELECT nt, nc, nt + nc AS ns,
      |        CAST(round(CAST(nt + nc AS DOUBLE) *
      |          CAST(syt * nc - syc * nt AS DOUBLE) * 1000000.0
      |          / CAST(nt * nc AS DOUBLE), 0) AS BIGINT) AS t6
      |      FROM c WHERE nt > 0 AND nc > 0),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_strata,
      |        CAST(coalesce(sum(nt), 0) AS BIGINT) AS n_treat,
      |        CAST(coalesce(sum(nc), 0) AS BIGINT) AS n_ctrl FROM c),
      |ua AS (SELECT CAST(count(*) AS BIGINT) AS n_strata_used,
      |        CAST(coalesce(sum(ns), 0) AS BIGINT) AS n_used,
      |        CAST(coalesce(sum(t6), 0) AS BIGINT) AS st6 FROM used)
      |SELECT n_strata, n_strata_used, n_treat, n_ctrl,
      |  round(CAST(st6 AS DOUBLE) /
      |    (1000000.0 * CAST(nullif(n_used, 0) AS DOUBLE)), 4) AS ate
      |FROM ua CROSS JOIN tot""".stripMargin))

  /** [[Timeseries.theilSen]]: robust monthly revenue trend per order
    * priority — median pair slope + median residual intercept, pair
    * slopes quantized to 1e-4 longs before the exact percentile. */
  private val q228 = QDef("q228_theil_sen",
    (s, dir) => Timeseries.theilSen(
      T(s, dir, "orders")
        .where(col("o_orderdate").isNotNull && col("o_totalprice").isNotNull &&
          col("o_orderpriority").isNotNull)
        .select(col("o_orderpriority").as("g"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .cast("long").as("t"),
          expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents")),
      col("g"), col("t"), col("cents")),
    Some("""WITH pts AS (SELECT o_orderpriority AS g,
      |        CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
      |          AS t,
      |        CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
      |          AS BIGINT) AS y
      |      FROM orders
      |      WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
      |        AND o_orderpriority IS NOT NULL
      |      GROUP BY 1, 2),
      |sl AS (SELECT a.g,
      |        CAST(round(CAST(b.y - a.y AS DOUBLE) * 10000.0
      |          / CAST(b.t - a.t AS DOUBLE), 0) AS BIGINT) AS s4
      |       FROM pts a JOIN pts b ON a.g = b.g AND a.t < b.t),
      |med AS (SELECT g, CAST(count(*) AS BIGINT) AS n_pairs,
      |        quantile_cont(s4, 0.5) AS ms4 FROM sl GROUP BY 1),
      |it AS (SELECT p.g, med.n_pairs, med.ms4,
      |        p.y * 10000 - CAST(round(ms4, 0) AS BIGINT) * p.t AS i4
      |       FROM pts p JOIN med ON p.g = med.g),
      |fin AS (SELECT g, n_pairs, ms4, CAST(count(*) AS BIGINT) AS n_points,
      |        quantile_cont(i4, 0.5) AS mi4 FROM it GROUP BY 1, 2, 3)
      |SELECT g, n_points, n_pairs, round(ms4 / 10000.0, 4) AS slope,
      |  round(mi4 / 10000.0, 4) AS intercept
      |FROM fin ORDER BY g""".stripMargin))

  /** [[Cooccur.adamicAdar]]: top-20 part pairs by Adamic-Adar evidence
    * over order baskets — 1/ln|basket| weighting de-biases large orders;
    * per-basket weights quantized once, pair scores exact long sums. */
  private val q229 = QDef("q229_adamic_adar",
    (s, dir) => Cooccur.adamicAdar(T(s, dir, "lineitem"),
      col("l_orderkey"), col("l_partkey"), k = 20),
    Some("""WITH b AS (SELECT l_orderkey AS bk, l_partkey AS it
      |      FROM lineitem
      |      WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
      |      GROUP BY 1, 2),
      |s AS (SELECT bk, CAST(count(*) AS BIGINT) AS sz FROM b GROUP BY 1),
      |w AS (SELECT bk, CAST(round(1000000.0 / ln(CAST(sz AS DOUBLE)), 0)
      |        AS BIGINT) AS w6
      |      FROM s WHERE sz >= 2),
      |p AS (SELECT a.it AS item_a, b2.it AS item_b, w.w6
      |      FROM b a
      |        JOIN b b2 ON a.bk = b2.bk AND a.it < b2.it
      |        JOIN w ON w.bk = a.bk),
      |g AS (SELECT item_a, item_b, CAST(count(*) AS BIGINT) AS n_shared,
      |        CAST(sum(w6) AS BIGINT) AS aa6
      |      FROM p GROUP BY 1, 2)
      |SELECT item_a, item_b, n_shared,
      |  CAST((2 * CAST(aa6 AS HUGEINT) + 100) // 200 AS DOUBLE) / 10000.0
      |    AS score
      |FROM g ORDER BY aa6 DESC, item_a, item_b LIMIT 20""".stripMargin))

  /** [[Trend.kendallTauB]]: rank agreement between supplier account
    * balance and lineitem volume, per nation — the tie-corrected pair
    * statistic; all counts exact longs, one sealed √-division. */
  private val q230 = QDef("q230_kendall_tau",
    (s, dir) => Trend.kendallTauB(
      T(s, dir, "supplier")
        .join(T(s, dir, "lineitem").groupBy("l_suppkey")
          .agg(count(lit(1)).as("nli")),
          col("s_suppkey") === col("l_suppkey"), "left")
        .join(T(s, dir, "nation"),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("g"), col("s_suppkey").as("id"),
          expr("CAST(round(s_acctbal * 100, 0) AS BIGINT)").as("x"),
          coalesce(col("nli"), lit(0L)).as("y")),
      col("g"), col("id"), col("x"), col("y")),
    Some("""WITH per AS (SELECT n_name AS g, s_suppkey AS id,
      |        CAST(round(s_acctbal * 100, 0) AS BIGINT) AS x,
      |        CAST(coalesce(c.nli, 0) AS BIGINT) AS y
      |      FROM supplier
      |        LEFT JOIN (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS nli
      |                   FROM lineitem GROUP BY 1) c
      |          ON s_suppkey = c.l_suppkey
      |        JOIN nation ON s_nationkey = n_nationkey),
      |pr AS (SELECT a.g,
      |        CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END
      |          AS sx,
      |        CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END
      |          AS sy
      |       FROM per a JOIN per b ON a.g = b.g AND a.id < b.id),
      |ag AS (SELECT g, CAST(count(*) AS BIGINT) AS n_pairs,
      |        CAST(sum(CASE WHEN sx * sy = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |          AS c,
      |        CAST(sum(CASE WHEN sx * sy = -1 THEN 1 ELSE 0 END) AS BIGINT)
      |          AS d,
      |        CAST(sum(CASE WHEN sx = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |          AS ties_x,
      |        CAST(sum(CASE WHEN sy = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |          AS ties_y
      |       FROM pr GROUP BY 1)
      |SELECT g, n_pairs, c, d, ties_x, ties_y,
      |  round(CAST(c - d AS DOUBLE) /
      |    sqrt(CAST(nullif((n_pairs - ties_x) * (n_pairs - ties_y), 0)
      |      AS DOUBLE)), 4) AS tau_b
      |FROM ag ORDER BY g""".stripMargin))

  /** [[TextAnalysis.fleschParts]]: Flesch reading ease per (lang,
    * source) — vowel-group syllables via the collapse-to-V
    * regexp-length device, per-doc scores quantized to 1e-4 longs
    * before the corpus mean. */
  private val q231 = QDef("q231_readability",
    (s, dir) => {
      val d = T(s, dir, "documents")
        .where(col("text").isNotNull && col("lang").isNotNull &&
          col("source").isNotNull)
        .select(col("lang"), col("source"),
          TextAnalysis.fleschParts(col("text")).as("p"))
        .select(col("lang"), col("source"), col("p.words").as("w"),
          col("p.sentences").as("sn"), col("p.syllables").as("y"))
        .withColumn("f4",
          round((lit(206.835) -
            lit(1.015) * (col("w").cast("double") / col("sn").cast("double")) -
            lit(84.6) * (col("y").cast("double") / col("w").cast("double"))) *
            lit(10000.0), 0).cast("long"))
      // rounding done in INTEGER space — round(a/b, 4) as the exact
      // rational (2·a·10⁴ + b) div (2·b) in 1e-4 units, then one exact
      // display division: the double seal round(,4) diverges cross-engine
      // when the true mean lands exactly on a .00005 boundary (q231 hit
      // one: 50.24605), which no double can represent
      d.groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum("w").as("sw"),
          sum("sn").as("ss"), sum("y").as("sy"), sum("f4").as("sf4"))
        .select(col("lang"), col("source"), col("n_docs"),
          (expr("(2 * sw * 10000 + ss) div (2 * ss)").cast("double") /
            lit(10000.0)).as("words_per_sentence"),
          (expr("(2 * sy * 10000 + sw) div (2 * sw)").cast("double") /
            lit(10000.0)).as("syllables_per_word"),
          (when(col("sf4") < 0,
              -expr("(2 * (-sf4) + n_docs) div (2 * n_docs)"))
            .otherwise(expr("(2 * sf4 + n_docs) div (2 * n_docs)"))
            .cast("double") / lit(10000.0)).as("avg_flesch"))
        .orderBy("lang", "source")
    },
    Some("""WITH d AS (SELECT lang, source,
      |        CAST(length(text) - length(replace(text, ' ', '')) + 1
      |          AS BIGINT) AS w,
      |        greatest(CAST(1 AS BIGINT),
      |          CAST(length(text) - length(regexp_replace(text, '[.!?]',
      |            '', 'g')) AS BIGINT)) AS sn,
      |        CAST(length(regexp_replace(lower(text), '[aeiouy]+', 'V', 'g'))
      |          - length(regexp_replace(regexp_replace(lower(text),
      |            '[aeiouy]+', 'V', 'g'), 'V', '', 'g')) AS BIGINT) AS y
      |      FROM documents
      |      WHERE text IS NOT NULL AND lang IS NOT NULL
      |        AND source IS NOT NULL),
      |f AS (SELECT lang, source, w, sn, y,
      |        CAST(round((CAST(206.835 AS DOUBLE) -
      |          CAST(1.015 AS DOUBLE) * (CAST(w AS DOUBLE) / CAST(sn AS DOUBLE)) -
      |          CAST(84.6 AS DOUBLE) * (CAST(y AS DOUBLE) / CAST(w AS DOUBLE)))
      |          * 10000.0, 0) AS BIGINT) AS f4
      |      FROM d),
      |g AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
      |        CAST(sum(w) AS BIGINT) AS sw, CAST(sum(sn) AS BIGINT) AS ss,
      |        CAST(sum(y) AS BIGINT) AS sy, CAST(sum(f4) AS BIGINT) AS sf4
      |      FROM f GROUP BY 1, 2)
      |SELECT lang, source, n_docs,
      |  CAST((2 * sw * 10000 + ss) // (2 * ss) AS DOUBLE) / 10000.0
      |    AS words_per_sentence,
      |  CAST((2 * sy * 10000 + sw) // (2 * sw) AS DOUBLE) / 10000.0
      |    AS syllables_per_word,
      |  CAST(CASE WHEN sf4 < 0
      |      THEN -((2 * (-sf4) + n_docs) // (2 * n_docs))
      |      ELSE (2 * sf4 + n_docs) // (2 * n_docs) END AS DOUBLE) / 10000.0
      |    AS avg_flesch
      |FROM g ORDER BY 1, 2""".stripMargin))

  /** [[Trend.mannWhitneyU]]: rank-sum comparison of shipment quantities
    * returned (R) vs normal (N) lineitems — discrete 1..50 values keep the rank spine bounded
    * and exercise the tie correction hard (every value is a large tie
    * block); doubled-rank arithmetic keeps everything integer until the
    * sealed z. */
  private val q232 = QDef("q232_mann_whitney",
    (s, dir) => Trend.mannWhitneyU(T(s, dir, "lineitem"),
      col("l_returnflag"), col("l_quantity"), a = "R", b = "N"),
    Some("""WITH vals AS (SELECT CAST(l_quantity AS BIGINT) AS v,
      |        CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
      |          AS BIGINT) AS na,
      |        CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)
      |          AS BIGINT) AS nb
      |      FROM lineitem
      |      WHERE l_quantity IS NOT NULL AND l_returnflag IN ('R', 'N')
      |      GROUP BY 1),
      |t AS (SELECT v, na, nb, na + nb AS t FROM vals),
      |c AS (SELECT na, nb, t,
      |        sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
      |          AND CURRENT ROW) - t AS below
      |      FROM t),
      |a AS (SELECT CAST(coalesce(sum(na), 0) AS BIGINT) AS n1,
      |        CAST(coalesce(sum(nb), 0) AS BIGINT) AS n2,
      |        CAST(coalesce(sum(na * (2 * below + t + 1)), 0) AS BIGINT)
      |          AS r2,
      |        CAST(coalesce(sum(t * t * t - t), 0) AS BIGINT) AS tm
      |      FROM c),
      |u AS (SELECT n1, n2, r2 - n1 * (n1 + 1) AS u2, tm, n1 + n2 AS n
      |      FROM a)
      |SELECT n1, n2, CAST(u2 AS DOUBLE) / 2.0 AS u1,
      |  round(CAST(u2 - n1 * n2 AS DOUBLE) / (2.0 * sqrt(nullif(
      |    CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0 *
      |      (CAST(n + 1 AS DOUBLE) -
      |        CAST(tm AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)),
      |    0.0))), 4) AS z
      |FROM u""".stripMargin))

  /** [[Trend.mcnemar]]: paired purchase conversion per user before vs
    * after the q222 cutoff — discordant users only; the same-user
    * pairing the independent z test (q167) cannot legally analyze. */
  private val q233 = QDef("q233_mcnemar",
    (s, dir) => Trend.mcnemar(
      T(s, dir, "events")
        .where(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"),
          (col("event_type") === "purchase" &&
            col("ts") < to_timestamp(lit("2024-01-16 00:00:00")))
            .cast("long").as("pre"),
          (col("event_type") === "purchase" &&
            col("ts") >= to_timestamp(lit("2024-01-16 00:00:00")))
            .cast("long").as("post")),
      col("user_id"), col("pre"), col("post")),
    Some("""WITH f AS (SELECT user_id AS u,
      |        max(CASE WHEN event_type = 'purchase'
      |          AND ts < TIMESTAMP '2024-01-16 00:00:00'
      |          THEN 1 ELSE 0 END) AS p1,
      |        max(CASE WHEN event_type = 'purchase'
      |          AND ts >= TIMESTAMP '2024-01-16 00:00:00'
      |          THEN 1 ELSE 0 END) AS p2
      |      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |      GROUP BY 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_units,
      |  CAST(coalesce(sum(CASE WHEN p1 = 1 AND p2 = 1 THEN 1 ELSE 0 END),
      |    0) AS BIGINT) AS both,
      |  CAST(coalesce(sum(CASE WHEN p1 = 1 AND p2 = 0 THEN 1 ELSE 0 END),
      |    0) AS BIGINT) AS b,
      |  CAST(coalesce(sum(CASE WHEN p1 = 0 AND p2 = 1 THEN 1 ELSE 0 END),
      |    0) AS BIGINT) AS c,
      |  CAST(coalesce(sum(CASE WHEN p1 = 0 AND p2 = 0 THEN 1 ELSE 0 END),
      |    0) AS BIGINT) AS neither,
      |  CAST((2 * CAST((sum(CASE WHEN p1 = 1 AND p2 = 0 THEN 1 ELSE 0
      |      END) - sum(CASE WHEN p1 = 0 AND p2 = 1 THEN 1 ELSE 0 END)) *
      |    (sum(CASE WHEN p1 = 1 AND p2 = 0 THEN 1 ELSE 0 END) -
      |      sum(CASE WHEN p1 = 0 AND p2 = 1 THEN 1 ELSE 0 END)) AS HUGEINT)
      |    * 10000 + nullif(sum(CASE WHEN p1 <> p2 THEN 1 ELSE 0 END), 0))
      |    // (2 * nullif(sum(CASE WHEN p1 <> p2 THEN 1 ELSE 0 END), 0))
      |    AS DOUBLE) / 10000.0 AS chi2,
      |  CAST((2 * CAST((abs(sum(CASE WHEN p1 = 1 AND p2 = 0 THEN 1 ELSE 0
      |      END) - sum(CASE WHEN p1 = 0 AND p2 = 1 THEN 1 ELSE 0 END)) - 1)
      |    * (abs(sum(CASE WHEN p1 = 1 AND p2 = 0 THEN 1 ELSE 0 END) -
      |      sum(CASE WHEN p1 = 0 AND p2 = 1 THEN 1 ELSE 0 END)) - 1)
      |    AS HUGEINT) * 10000 +
      |    nullif(sum(CASE WHEN p1 <> p2 THEN 1 ELSE 0 END), 0)) //
      |    (2 * nullif(sum(CASE WHEN p1 <> p2 THEN 1 ELSE 0 END), 0))
      |    AS DOUBLE) / 10000.0 AS chi2_cc
      |FROM f""".stripMargin))

  /** [[Raking.rake2d]]: IPF survey weighting of a 30% hash sample of
    * customers to the full nation × segment margins, two row+col
    * rounds — integer 1e-6 weight state between passes keeps both
    * engines bit-identical through the unrolled iteration. */
  private val q234 = QDef("q234_raking_ipf",
    (s, dir) => {
      val cust = T(s, dir, "customer")
      Raking.rake2d(
        cust.where(pmod(Dedup.hash60(col("c_custkey").cast("string")),
          lit(10L)) < 3),
        cust, col("c_nationkey"), col("c_mktsegment"), iters = 2)
    },
    Some("""WITH smp AS (SELECT c_nationkey AS r, c_mktsegment AS c
      |      FROM customer
      |      WHERE c_nationkey IS NOT NULL AND c_mktsegment IS NOT NULL
      |        AND CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)),
      |          1, 15)) AS BIGINT) % 10 < 3),
      |pop AS (SELECT c_nationkey AS r, c_mktsegment AS c FROM customer
      |      WHERE c_nationkey IS NOT NULL AND c_mktsegment IS NOT NULL),
      |tr AS (SELECT r, CAST(count(*) AS BIGINT) AS tr FROM pop GROUP BY 1),
      |tc AS (SELECT c, CAST(count(*) AS BIGINT) AS tc FROM pop GROUP BY 1),
      |c0 AS (SELECT r, c, CAST(count(*) AS BIGINT) AS n,
      |        CAST(1000000 AS BIGINT) AS w6 FROM smp GROUP BY 1, 2),
      |s1 AS (SELECT r, CAST(sum(n * w6) AS BIGINT) AS s FROM c0 GROUP BY 1),
      |c1 AS (SELECT c0.r, c0.c, c0.n,
      |        CAST(round(CAST(c0.w6 AS DOUBLE) * (CAST(tr.tr AS DOUBLE) *
      |          1000000.0 / CAST(s1.s AS DOUBLE)), 0) AS BIGINT) AS w6
      |       FROM c0 JOIN s1 ON c0.r = s1.r JOIN tr ON c0.r = tr.r),
      |s2 AS (SELECT c, CAST(sum(n * w6) AS BIGINT) AS s FROM c1 GROUP BY 1),
      |c2 AS (SELECT c1.r, c1.c, c1.n,
      |        CAST(round(CAST(c1.w6 AS DOUBLE) * (CAST(tc.tc AS DOUBLE) *
      |          1000000.0 / CAST(s2.s AS DOUBLE)), 0) AS BIGINT) AS w6
      |       FROM c1 JOIN s2 ON c1.c = s2.c JOIN tc ON c1.c = tc.c),
      |s3 AS (SELECT r, CAST(sum(n * w6) AS BIGINT) AS s FROM c2 GROUP BY 1),
      |c3 AS (SELECT c2.r, c2.c, c2.n,
      |        CAST(round(CAST(c2.w6 AS DOUBLE) * (CAST(tr.tr AS DOUBLE) *
      |          1000000.0 / CAST(s3.s AS DOUBLE)), 0) AS BIGINT) AS w6
      |       FROM c2 JOIN s3 ON c2.r = s3.r JOIN tr ON c2.r = tr.r),
      |s4 AS (SELECT c, CAST(sum(n * w6) AS BIGINT) AS s FROM c3 GROUP BY 1),
      |c4 AS (SELECT c3.r, c3.c, c3.n,
      |        CAST(round(CAST(c3.w6 AS DOUBLE) * (CAST(tc.tc AS DOUBLE) *
      |          1000000.0 / CAST(s4.s AS DOUBLE)), 0) AS BIGINT) AS w6
      |       FROM c3 JOIN s4 ON c3.c = s4.c JOIN tc ON c3.c = tc.c)
      |SELECT r, c, n AS n_sample, w6,
      |  CAST(w6 AS DOUBLE) / 1000000.0 AS weight
      |FROM c4 ORDER BY r, c""".stripMargin))

  /** [[Encode.featureHashing]]: top-3 of 64 hashed token buckets per
    * document source — fixed-width features with no vocabulary pass;
    * md5-prefix bucket hash is the engine-reproducible stand-in for
    * murmur. */
  private val q235 = QDef("q235_feature_hashing",
    (s, dir) => Encode.featureHashing(
      T(s, dir, "documents").where(col("text").isNotNull),
      col("source"), col("text"), buckets = 64, k = 3),
    Some("""WITH tk AS (SELECT grp, tok FROM (
      |        SELECT source AS grp, unnest(string_split(text, ' ')) AS tok
      |        FROM documents
      |        WHERE source IS NOT NULL AND text IS NOT NULL)
      |      WHERE length(tok) > 0),
      |bw AS (SELECT grp,
      |        CAST(('0x' || substr(md5(tok), 1, 7)) AS BIGINT) % 64
      |          AS bucket,
      |        CAST(count(*) AS BIGINT) AS weight
      |      FROM tk GROUP BY 1, 2),
      |r AS (SELECT grp, bucket, weight,
      |        CAST(row_number() OVER (PARTITION BY grp
      |          ORDER BY weight DESC, bucket) AS BIGINT) AS rn
      |      FROM bw)
      |SELECT grp, bucket, weight, rn FROM r WHERE rn <= 3
      |ORDER BY grp, rn""".stripMargin))

  def all: Seq[QDef] = Seq(q210, q211, q212, q213, q214, q215, q216,
    q217, q218, q219, q221, q222, q223, q224, q225, q226, q227, q228,
    q229, q230, q231, q232, q233, q234, q235, q306)
}
