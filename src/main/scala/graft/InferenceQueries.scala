package graft

import org.apache.spark.sql.functions._
import Queries.QDef

/** Round-9 inference batch (q236+): multi-group classical tests over
  * the star-schema metrics — one-way ANOVA and its Brown-Forsythe
  * robust variant, Cramér's V association strength, and Cronbach's
  * alpha reliability. Same oracle conventions as [[Queries]]
  * (FIXTURES.md): integer quantization before every cross-row sum,
  * fixed-point s²/n terms ([[Inference]]), one sealed round(,4)
  * division per statistic, total ORDER BY (single-row reports are
  * order-free).
  */
object InferenceQueries {
  private def T(s: org.apache.spark.sql.SparkSession, dir: String, n: String) =
    Tables.t(s, dir, n)

  /** [[Inference.anovaF]]: do the five order priorities differ in mean
    * order value? Kilodollar quantization keeps n·Σv² long-safe at any
    * fixture SF (and documents the coarseness/scale trade the operator
    * contract demands). */
  private val q236 = QDef("q236_anova_f",
    (s, dir) => Inference.anovaF(T(s, dir, "orders"),
      col("o_orderpriority"),
      expr("CAST(round(o_totalprice / 1000.0, 0) AS BIGINT)")),
    Some("""WITH d AS (SELECT o_orderpriority AS g,
      |        CAST(round(o_totalprice / 1000.0, 0) AS BIGINT) AS v
      |      FROM orders
      |      WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
      |pg AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(v) AS BIGINT) AS s,
      |        CAST(sum(v * v) AS BIGINT) AS ss FROM d GROUP BY 1),
      |t AS (SELECT n, s, ss,
      |        CAST(round(CAST(s AS DOUBLE) * s / n * 10000.0, 0) AS BIGINT)
      |          AS tg FROM pg),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS n,
      |        CAST(sum(s) AS BIGINT) AS st, CAST(sum(ss) AS BIGINT) AS sst,
      |        CAST(sum(tg) AS BIGINT) AS stg FROM t),
      |b AS (SELECT k, n, st, sst, stg,
      |        CAST(round(CAST(st AS DOUBLE) * st / n * 10000.0, 0) AS BIGINT)
      |          AS tall FROM a)
      |SELECT k AS k_groups, n AS n_rows,
      |  round(CAST(stg - tall AS DOUBLE) / 10000.0, 4) AS ss_between,
      |  round(CAST(sst * 10000 - stg AS DOUBLE) / 10000.0, 4) AS ss_within,
      |  round((CAST(stg - tall AS DOUBLE) / 10000.0 /
      |      nullif(CAST(k - 1 AS DOUBLE), 0.0)) /
      |    nullif(CAST(sst * 10000 - stg AS DOUBLE) / 10000.0 /
      |      nullif(CAST(n - k AS DOUBLE), 0.0), 0.0), 4) AS f_stat
      |FROM b""".stripMargin))

  /** [[Inference.brownForsythe]]: the same priority comparison on
    * absolute deviations from group MEDIANS — the robust twin that
    * stays valid under the unequal variances q236 assumes away.
    * Doubled deviations |2v − 2·med| keep everything integer. */
  private val q237 = QDef("q237_brown_forsythe",
    (s, dir) => Inference.brownForsythe(T(s, dir, "orders"),
      col("o_orderpriority"),
      expr("CAST(round(o_totalprice / 1000.0, 0) AS BIGINT)")),
    Some("""WITH d0 AS (SELECT o_orderpriority AS g,
      |        CAST(round(o_totalprice / 1000.0, 0) AS BIGINT) AS v
      |      FROM orders
      |      WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
      |m AS (SELECT g, CAST(round(2 * median(v), 0) AS BIGINT) AS m2
      |      FROM d0 GROUP BY 1),
      |d AS (SELECT d0.g AS g, abs(2 * v - m2) AS v
      |      FROM d0 JOIN m ON d0.g = m.g),
      |pg AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(v) AS BIGINT) AS s,
      |        CAST(sum(v * v) AS BIGINT) AS ss FROM d GROUP BY 1),
      |t AS (SELECT n, s, ss,
      |        CAST(round(CAST(s AS DOUBLE) * s / n * 10000.0, 0) AS BIGINT)
      |          AS tg FROM pg),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS n,
      |        CAST(sum(s) AS BIGINT) AS st, CAST(sum(ss) AS BIGINT) AS sst,
      |        CAST(sum(tg) AS BIGINT) AS stg FROM t),
      |b AS (SELECT k, n, st, sst, stg,
      |        CAST(round(CAST(st AS DOUBLE) * st / n * 10000.0, 0) AS BIGINT)
      |          AS tall FROM a)
      |SELECT k AS k_groups, n AS n_rows,
      |  round(CAST(stg - tall AS DOUBLE) / 10000.0, 4) AS ss_between,
      |  round(CAST(sst * 10000 - stg AS DOUBLE) / 10000.0, 4) AS ss_within,
      |  round((CAST(stg - tall AS DOUBLE) / 10000.0 /
      |      nullif(CAST(k - 1 AS DOUBLE), 0.0)) /
      |    nullif(CAST(sst * 10000 - stg AS DOUBLE) / 10000.0 /
      |      nullif(CAST(n - k AS DOUBLE), 0.0), 0.0), 4) AS f_stat
      |FROM b""".stripMargin))

  /** [[Inference.cramersV]]: strength of the priority × status
    * association — the effect-size companion to a raw chi-square
    * (q130 tests a different pair). The r·c spine LEFT-JOINs the cell
    * table so ZERO cells still contribute their full e term. */
  private val q238 = QDef("q238_cramers_v",
    (s, dir) => Inference.cramersV(T(s, dir, "orders"),
      col("o_orderpriority"), col("o_orderstatus")),
    Some("""WITH d AS (SELECT o_orderpriority AS x, o_orderstatus AS y
      |      FROM orders
      |      WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL),
      |ce AS (SELECT x, y, CAST(count(*) AS BIGINT) AS o FROM d GROUP BY 1, 2),
      |rx AS (SELECT x, CAST(sum(o) AS BIGINT) AS rx FROM ce GROUP BY 1),
      |cy AS (SELECT y, CAST(sum(o) AS BIGINT) AS cy FROM ce GROUP BY 1),
      |tt AS (SELECT CAST(sum(o) AS BIGINT) AS n,
      |        CAST(count(DISTINCT x) AS BIGINT) AS r,
      |        CAST(count(DISTINCT y) AS BIGINT) AS c FROM ce),
      |fu AS (SELECT rx.rx AS rx, cy.cy AS cy, coalesce(ce.o, 0) AS o
      |       FROM rx CROSS JOIN cy
      |       LEFT JOIN ce ON ce.x = rx.x AND ce.y = cy.y),
      |tm AS (SELECT n, r, c,
      |        CAST(round((CAST(o AS DOUBLE) -
      |            CAST(rx AS DOUBLE) * cy / n) *
      |          (CAST(o AS DOUBLE) - CAST(rx AS DOUBLE) * cy / n) /
      |          (CAST(rx AS DOUBLE) * cy / n) * 1000000.0, 0) AS BIGINT)
      |          AS t
      |       FROM fu CROSS JOIN tt),
      |ag AS (SELECT n, r, c, CAST(sum(t) AS BIGINT) AS chifix
      |       FROM tm GROUP BY 1, 2, 3)
      |SELECT n AS n_rows, r AS levels_x, c AS levels_y,
      |  CAST(CASE WHEN chifix < 0
      |    THEN -((2 * CAST(-chifix AS HUGEINT) + 100) // 200)
      |    ELSE (2 * CAST(chifix AS HUGEINT) + 100) // 200 END AS DOUBLE)
      |    / 10000.0 AS chi2,
      |  round(sqrt(CAST(chifix AS DOUBLE) / 1000000.0 /
      |    nullif(CAST(n * least(r - 1, c - 1) AS DOUBLE), 0.0)), 4)
      |    AS cramers_v
      |FROM ag""".stripMargin))

  /** [[Inference.cronbachAlpha]]: do per-user counts of the five event
    * types move together (one underlying "engagement" trait)? Item
    * scores are (user, event_type) counts; users missing a type score
    * 0 via the zero-fill-by-omission device the operator documents. */
  private val q239 = QDef("q239_cronbach_alpha",
    (s, dir) => Inference.cronbachAlpha(
      T(s, dir, "events"), col("user_id"), col("event_type"), lit(1L)),
    Some("""WITH c AS (SELECT user_id AS u, event_type AS it,
      |        CAST(count(*) AS BIGINT) AS x
      |      FROM events
      |      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      |      GROUP BY 1, 2),
      |ti AS (SELECT it, CAST(sum(x) AS BIGINT) AS s,
      |        CAST(sum(x * x) AS BIGINT) AS ss FROM c GROUP BY 1),
      |tu AS (SELECT u, CAST(sum(x) AS BIGINT) AS t FROM c GROUP BY 1),
      |ts AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(t) AS BIGINT) AS st,
      |        CAST(sum(t * t) AS BIGINT) AS stt FROM tu),
      |ag AS (SELECT ts.n AS n, ts.st AS st, ts.stt AS stt,
      |        CAST(count(*) AS BIGINT) AS k,
      |        CAST(sum(ts.n * ss - s * s) AS BIGINT) AS num
      |       FROM ti CROSS JOIN ts GROUP BY 1, 2, 3)
      |SELECT k AS k_items, n AS n_units,
      |  round(CAST(k AS DOUBLE) / nullif(CAST(k - 1 AS DOUBLE), 0.0) *
      |    (1.0 - CAST(num AS DOUBLE) /
      |      nullif(CAST(n * stt - st * st AS DOUBLE), 0.0)), 4) AS alpha
      |FROM ag""".stripMargin))

  /** [[Causal.ivWald]]: effect of order count (endogenous x) on total
    * spend (y) instrumented by custkey parity — the deterministic
    * engine-identical stand-in for an encouragement assignment (the
    * q222 hash-arm device, simplified to an exact modulus). Customers
    * without orders enter at x=y=0 via the LEFT join. */
  private val q240 = QDef("q240_iv_wald",
    (s, dir) => {
      val sp = T(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("x"),
          sum(expr("CAST(round(o_totalprice, 0) AS BIGINT)")).as("y"))
      Causal.ivWald(
        T(s, dir, "customer")
          .join(sp, col("c_custkey") === col("o_custkey"), "left")
          .select((col("c_custkey") % 2).as("z"),
            coalesce(col("x"), lit(0L)).as("x"),
            coalesce(col("y"), lit(0L)).as("y")),
        col("z"), col("x"), col("y"))
    },
    Some("""WITH sp AS (SELECT o_custkey AS ck, CAST(count(*) AS BIGINT) AS x,
      |        CAST(sum(CAST(round(o_totalprice, 0) AS BIGINT)) AS BIGINT)
      |          AS y
      |      FROM orders GROUP BY 1),
      |u AS (SELECT c_custkey % 2 AS z, coalesce(x, 0) AS x,
      |        coalesce(y, 0) AS y
      |      FROM customer LEFT JOIN sp ON c_custkey = ck),
      |a AS (SELECT
      |   CAST(sum(CASE WHEN z = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |   CAST(sum(CASE WHEN z <> 1 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |   CAST(sum(CASE WHEN z = 1 THEN x ELSE 0 END) AS BIGINT) AS sx1,
      |   CAST(sum(CASE WHEN z <> 1 THEN x ELSE 0 END) AS BIGINT) AS sx0,
      |   CAST(sum(CASE WHEN z = 1 THEN y ELSE 0 END) AS BIGINT) AS sy1,
      |   CAST(sum(CASE WHEN z <> 1 THEN y ELSE 0 END) AS BIGINT) AS sy0
      |  FROM u),
      |b AS (SELECT n0, n1,
      |   CAST(sy1 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), 0.0)
      |     - CAST(sy0 AS DOUBLE) / nullif(CAST(n0 AS DOUBLE), 0.0) AS dy,
      |   CAST(sx1 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), 0.0)
      |     - CAST(sx0 AS DOUBLE) / nullif(CAST(n0 AS DOUBLE), 0.0) AS dx
      |  FROM a)
      |SELECT n0, n1, round(dy, 4) AS reduced_form,
      |  round(dx, 4) AS first_stage,
      |  round(dy / nullif(dx, 0.0), 4) AS beta_iv
      |FROM b""".stripMargin))

  /** [[Causal.rddLocalLinear]]: does crossing the 150 k$ order-value
    * line shift the urgent-priority share? Kilodollar-centered running
    * variable (long-safe power sums at any SF), ±50 k$ bandwidth,
    * treatment at r ≥ 0. */
  private val q241 = QDef("q241_rdd_cutoff",
    (s, dir) => Causal.rddLocalLinear(
      T(s, dir, "orders")
        .where(col("o_totalprice").isNotNull &&
          col("o_orderpriority").isNotNull)
        .select(
          (expr("CAST(round(o_totalprice / 1000.0, 0) AS BIGINT)") -
            150).as("r"),
          when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
            .as("y")),
      col("r"), col("y"), bandwidth = 50L),
    Some("""WITH d AS (SELECT
      |        CAST(round(o_totalprice / 1000.0, 0) AS BIGINT) - 150 AS r,
      |        CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
      |      FROM orders
      |      WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL),
      |f AS (SELECT r, y FROM d WHERE abs(r) <= 50),
      |a AS (SELECT
      |   CAST(sum(CASE WHEN r < 0 THEN 1 ELSE 0 END) AS BIGINT) AS nl,
      |   CAST(sum(CASE WHEN r < 0 THEN r ELSE 0 END) AS BIGINT) AS sxl,
      |   CAST(sum(CASE WHEN r < 0 THEN y ELSE 0 END) AS BIGINT) AS syl,
      |   CAST(sum(CASE WHEN r < 0 THEN r * y ELSE 0 END) AS BIGINT) AS sxyl,
      |   CAST(sum(CASE WHEN r < 0 THEN r * r ELSE 0 END) AS BIGINT) AS sxxl,
      |   CAST(sum(CASE WHEN r >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nr,
      |   CAST(sum(CASE WHEN r >= 0 THEN r ELSE 0 END) AS BIGINT) AS sxr,
      |   CAST(sum(CASE WHEN r >= 0 THEN y ELSE 0 END) AS BIGINT) AS syr,
      |   CAST(sum(CASE WHEN r >= 0 THEN r * y ELSE 0 END) AS BIGINT) AS sxyr,
      |   CAST(sum(CASE WHEN r >= 0 THEN r * r ELSE 0 END) AS BIGINT) AS sxxr
      |  FROM f),
      |b AS (SELECT nl, nr,
      |   CAST(nl * sxyl - sxl * syl AS HUGEINT) AS snl,
      |   CAST(nr * sxyr - sxr * syr AS HUGEINT) AS snr,
      |   CAST(syl * sxxl - sxl * sxyl AS HUGEINT) AS inl,
      |   CAST(syr * sxxr - sxr * sxyr AS HUGEINT) AS inr,
      |   nullif(CAST(nl * sxxl - sxl * sxl AS HUGEINT), 0) AS dl,
      |   nullif(CAST(nr * sxxr - sxr * sxr AS HUGEINT), 0) AS dr
      |  FROM a),
      |se AS (SELECT nl, nr,
      |   CAST(CASE WHEN snl < 0 THEN -((2 * (-snl) * 10000 + dl) //
      |     (2 * dl)) ELSE (2 * snl * 10000 + dl) // (2 * dl) END
      |     AS DOUBLE) / 10000.0 AS sll,
      |   CAST(CASE WHEN snr < 0 THEN -((2 * (-snr) * 10000 + dr) //
      |     (2 * dr)) ELSE (2 * snr * 10000 + dr) // (2 * dr) END
      |     AS DOUBLE) / 10000.0 AS slr,
      |   CAST(CASE WHEN inl < 0 THEN -((2 * (-inl) * 10000 + dl) //
      |     (2 * dl)) ELSE (2 * inl * 10000 + dl) // (2 * dl) END
      |     AS DOUBLE) / 10000.0 AS il,
      |   CAST(CASE WHEN inr < 0 THEN -((2 * (-inr) * 10000 + dr) //
      |     (2 * dr)) ELSE (2 * inr * 10000 + dr) // (2 * dr) END
      |     AS DOUBLE) / 10000.0 AS ir
      |  FROM b)
      |SELECT nl AS n_left, nr AS n_right,
      |  sll AS slope_left, slr AS slope_right,
      |  il AS icept_left, ir AS icept_right,
      |  round(ir - il, 4) AS rdd_effect
      |FROM se""".stripMargin))

  /** [[Causal.caliperMatchAtt]]: BUILDING-segment customers matched to
    * the nearest non-BUILDING control by account balance (±$100
    * caliper, with replacement); ATT on order counts. The operator
    * runs the bucketed candidate join; the oracle states the same
    * match as a plain inequality join. */
  private val q242 = QDef("q242_propensity_caliper",
    (s, dir) => {
      val oc = T(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("oy"))
      Causal.caliperMatchAtt(
        T(s, dir, "customer")
          .where(col("c_acctbal").isNotNull && col("c_mktsegment").isNotNull)
          .join(oc, col("c_custkey") === col("o_custkey"), "left")
          .select((col("c_mktsegment") === "BUILDING").as("tr"),
            expr("CAST(round(c_acctbal * 100, 0) AS BIGINT)").as("s"),
            coalesce(col("oy"), lit(0L)).as("y"), col("c_custkey").as("tie")),
        col("tr"), col("s"), col("y"), col("tie"), caliper = 10000L)
    },
    Some("""WITH oc AS (SELECT o_custkey AS ck, CAST(count(*) AS BIGINT) AS oy
      |      FROM orders GROUP BY 1),
      |u AS (SELECT c_mktsegment = 'BUILDING' AS tr,
      |        CAST(round(c_acctbal * 100, 0) AS BIGINT) AS s,
      |        coalesce(oy, 0) AS y, c_custkey AS tie
      |      FROM customer LEFT JOIN oc ON c_custkey = ck
      |      WHERE c_acctbal IS NOT NULL AND c_mktsegment IS NOT NULL),
      |tr AS (SELECT s, CAST(count(*) AS BIGINT) AS nt,
      |        CAST(sum(y) AS BIGINT) AS syt
      |       FROM u WHERE tr GROUP BY 1),
      |co AS (SELECT s, arg_min(y, tie) AS yc FROM u WHERE NOT tr GROUP BY 1),
      |cand AS (SELECT tr.s AS ts, nt, syt, co.yc AS yc,
      |          abs(co.s - tr.s) * 2 +
      |            CASE WHEN co.s > tr.s THEN 1 ELSE 0 END AS rnk
      |        FROM tr JOIN co ON abs(co.s - tr.s) <= 10000),
      |best AS (SELECT ts, min(nt) AS nt, min(syt) AS syt,
      |          arg_min(yc, rnk) AS yc
      |         FROM cand GROUP BY 1),
      |mt AS (SELECT CAST(coalesce(sum(nt), 0) AS BIGINT) AS n_matched,
      |        CAST(coalesce(sum(syt), 0) AS BIGINT) AS sy,
      |        CAST(coalesce(sum(nt * yc), 0) AS BIGINT) AS sc FROM best),
      |tt AS (SELECT CAST(coalesce(sum(nt), 0) AS BIGINT) AS n_treated
      |       FROM tr)
      |SELECT n_treated, n_matched,
      |  round(CAST(sy - sc AS DOUBLE) /
      |    nullif(CAST(n_matched AS DOUBLE), 0.0), 4) AS att
      |FROM tt CROSS JOIN mt""".stripMargin))

  /** Cross-correlation function of daily order count (x) against daily
    * revenue `lag` days LATER (y) for lags 0..7 — does volume lead
    * value? Each order's kilodollar value is quantized before the
    * daily sum (long-safe n·Σy² at any SF); the lag spine is a per-row
    * explode (no cross join), and [[Trend.pearson]] keyed by lag does
    * the rest. */
  private val q243 = QDef("q243_ccf_lags",
    (s, dir) => {
      val daily = T(s, dir, "orders").where(col("o_orderdate").isNotNull)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("cnt"),
          sum(expr("CAST(round(o_totalprice / 1000.0, 0) AS BIGINT)"))
            .as("rev"))
      val a = daily.select(col("day"), col("cnt"))
        .withColumn("lag", expr("explode(sequence(0L, 7L))"))
      val b = daily.select(col("day").as("bday"), col("rev"))
      Trend.pearson(
          a.join(b, col("bday") === date_add(col("day"),
            col("lag").cast("int"))),
          col("lag"), col("cnt"), col("rev"))
        .select(col("g").as("lag"), col("n").as("n_days"), col("r"))
        .orderBy("lag")
    },
    Some("""WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
      |        CAST(count(*) AS BIGINT) AS cnt,
      |        CAST(sum(CAST(round(o_totalprice / 1000.0, 0) AS BIGINT))
      |          AS BIGINT) AS rev
      |      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
      |l AS (SELECT unnest(range(0, 8)) AS lag),
      |pr AS (SELECT l.lag AS lag, a.cnt AS x, b.rev AS y
      |       FROM l JOIN d a ON true JOIN d b
      |         ON b.day = a.day + CAST(l.lag AS INTEGER)),
      |su AS (SELECT lag, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |         CAST(sum(x * y) AS BIGINT) AS sxy,
      |         CAST(sum(x * x) AS BIGINT) AS sxx,
      |         CAST(sum(y * y) AS BIGINT) AS syy
      |       FROM pr GROUP BY 1)
      |SELECT lag, n AS n_days,
      |  round(CAST(n * sxy - sx * sy AS DOUBLE) /
      |        nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
      |                    CAST(n * syy - sy * sy AS DOUBLE)), 0.0), 4) AS r
      |FROM su ORDER BY lag""".stripMargin))

  /** [[LanguageModel.dsirWeights]]: DSIR-style data selection — which
    * documents look most like the English target slice? Add-1-smoothed
    * unigram log-ratios, quantized per term type, averaged per token. */
  private val q244 = QDef("q244_dsir_weights",
    (s, dir) => LanguageModel.dsirWeights(
      T(s, dir, "documents")
        .where(col("text").isNotNull && col("lang").isNotNull),
      col("doc_id"), col("text"), col("lang") === "en", k = 15),
    Some("""WITH tok AS (SELECT doc_id,
      |        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt,
      |        unnest(string_split(text, ' ')) AS term
      |      FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
      |vb AS (SELECT term, CAST(count(*) AS BIGINT) AS c,
      |        CAST(sum(tgt) AS BIGINT) AS ct FROM tok GROUP BY 1),
      |tt AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(sum(ct) AS BIGINT)
      |          AS nt, CAST(count(*) AS BIGINT) AS v FROM vb),
      |lr AS (SELECT term,
      |        CAST(round(ln((CAST(ct + 1 AS DOUBLE) / (nt + v)) /
      |          (CAST(c + 1 AS DOUBLE) / (n + v))) * 1000000.0, 0)
      |          AS BIGINT) AS lr6
      |      FROM vb CROSS JOIN tt),
      |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
      |        CAST(sum(lr6) AS BIGINT) AS s6
      |      FROM tok JOIN lr USING (term) GROUP BY 1)
      |SELECT doc_id, n_tok,
      |  CAST(CASE WHEN s6 < 0
      |    THEN -((2 * CAST(-s6 AS HUGEINT) * 10000 + n_tok * 1000000) //
      |      (2 * n_tok * 1000000))
      |    ELSE (2 * CAST(s6 AS HUGEINT) * 10000 + n_tok * 1000000) //
      |      (2 * n_tok * 1000000) END AS DOUBLE) / 10000.0 AS weight
      |FROM d ORDER BY weight DESC, doc_id LIMIT 15""".stripMargin))

  /** [[Sequences.eventuallyFollows]]: any-gap precedence support for
    * ordered event-type pairs per user — the 2-item sequential-pattern
    * table (q120's Markov transitions count only adjacent steps). */
  private val q245 = QDef("q245_seq_pattern_support",
    (s, dir) => Sequences.eventuallyFollows(T(s, dir, "events"),
      col("user_id"), col("ts"), col("event_type")),
    Some("""WITH e AS (SELECT user_id AS k, epoch_us(ts) AS us,
      |        event_type AS l
      |      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |        AND event_type IS NOT NULL),
      |p AS (SELECT k, l, CAST(min(us) AS BIGINT) AS mn,
      |        CAST(max(us) AS BIGINT) AS mx FROM e GROUP BY 1, 2),
      |t AS (SELECT CAST(count(DISTINCT k) AS BIGINT) AS n_keys FROM p),
      |s AS (SELECT a.l AS a, b.l AS b, CAST(count(*) AS BIGINT) AS support
      |      FROM p a JOIN p b ON a.k = b.k AND a.l <> b.l AND a.mn < b.mx
      |      GROUP BY 1, 2)
      |SELECT a, b, support,
      |  CAST((2 * CAST(support AS HUGEINT) * 10000 + n_keys) //
      |    (2 * n_keys) AS DOUBLE) / 10000.0 AS support_ratio
      |FROM s CROSS JOIN t ORDER BY a, b""".stripMargin))

  /** [[Cooccur.infoGain]]: which feature best predicts order status —
    * price band, ISO weekday, or priority? One exploded panel pass;
    * entropy terms fixed-point quantized over exact cell counts. */
  private val q246 = QDef("q246_info_gain",
    (s, dir) => Cooccur.infoGain(T(s, dir, "orders"),
      col("o_orderstatus"), Seq(
        "price_band" ->
          expr("CAST(round(o_totalprice / 1000.0, 0) AS BIGINT) DIV 100"),
        "dow" -> (weekday(col("o_orderdate")) + 1),
        "priority" -> col("o_orderpriority"))),
    Some("""WITH d AS (SELECT o_orderstatus AS y,
      |        CAST(CAST(round(o_totalprice / 1000.0, 0) AS BIGINT) // 100
      |          AS VARCHAR) AS band,
      |        CAST(CAST(isodow(o_orderdate) AS INT) AS VARCHAR) AS dow,
      |        o_orderpriority AS pri
      |      FROM orders),
      |u AS (SELECT y, 'price_band' AS f, band AS b FROM d
      |      UNION ALL SELECT y, 'dow' AS f, dow AS b FROM d
      |      UNION ALL SELECT y, 'priority' AS f, pri AS b FROM d),
      |ce AS (SELECT f, b, y, CAST(count(*) AS BIGINT) AS c FROM u
      |       WHERE y IS NOT NULL AND b IS NOT NULL GROUP BY 1, 2, 3),
      |nb AS (SELECT f, b, CAST(sum(c) AS BIGINT) AS nb FROM ce
      |       GROUP BY 1, 2),
      |nf AS (SELECT f, CAST(sum(c) AS BIGINT) AS n FROM ce GROUP BY 1),
      |cy AS (SELECT f, y, CAST(sum(c) AS BIGINT) AS cy FROM ce
      |       GROUP BY 1, 2),
      |ch AS (SELECT ce.f AS f, CAST(sum(CAST(round(CAST(c AS DOUBLE) / n *
      |          ln(CAST(c AS DOUBLE) / nb.nb) * 1000000.0, 0) AS BIGINT))
      |          AS BIGINT) AS sch
      |       FROM ce JOIN nb ON ce.f = nb.f AND ce.b = nb.b
      |       JOIN nf ON ce.f = nf.f GROUP BY 1),
      |hy AS (SELECT cy.f AS f, min(n) AS n,
      |        CAST(sum(CAST(round(CAST(cy AS DOUBLE) / n *
      |          ln(CAST(cy AS DOUBLE) / n) * 1000000.0, 0) AS BIGINT))
      |          AS BIGINT) AS shy
      |       FROM cy JOIN nf ON cy.f = nf.f GROUP BY 1)
      |SELECT hy.f AS feature, hy.n AS n_rows,
      |  CAST(CASE WHEN -shy < 0
      |    THEN -((2 * CAST(shy AS HUGEINT) + 100) // 200)
      |    ELSE (2 * CAST(-shy AS HUGEINT) + 100) // 200 END AS DOUBLE)
      |    / 10000.0 AS h_label,
      |  CAST(CASE WHEN sch - shy < 0
      |    THEN -((2 * CAST(-(sch - shy) AS HUGEINT) + 100) // 200)
      |    ELSE (2 * CAST(sch - shy AS HUGEINT) + 100) // 200 END
      |    AS DOUBLE) / 10000.0 AS info_gain
      |FROM hy JOIN ch ON hy.f = ch.f ORDER BY feature""".stripMargin))

  /** [[LanguageModel.naiveBayesClassify]]: add-1 multinomial NB lang
    * self-classification confusion matrix over the documents corpus —
    * integer class scores (quantized log-likelihood matrix including
    * zero-count smoothing terms), lexicographic tie-break. */
  private val q247 = QDef("q247_naive_bayes_lang",
    (s, dir) => LanguageModel.naiveBayesClassify(
      T(s, dir, "documents"), col("doc_id"), col("text"), col("lang")),
    Some("""WITH docs AS (SELECT doc_id, lang AS cls, text FROM documents
      |      WHERE doc_id IS NOT NULL AND lang IS NOT NULL
      |        AND text IS NOT NULL),
      |tok AS (SELECT doc_id, cls, unnest(string_split(text, ' ')) AS term
      |       FROM docs),
      |dtc AS (SELECT doc_id, cls, term, CAST(count(*) AS BIGINT) AS cnt
      |       FROM tok GROUP BY 1, 2, 3),
      |md AS (SELECT cls AS mcls, term, CAST(count(*) AS BIGINT) AS c
      |       FROM tok GROUP BY 1, 2),
      |nc AS (SELECT mcls, CAST(sum(c) AS BIGINT) AS ncls FROM md
      |       GROUP BY 1),
      |vb AS (SELECT DISTINCT term FROM tok),
      |vv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vb),
      |pr AS (SELECT cls AS pcls, CAST(count(*) AS BIGINT) AS nd FROM docs
      |       GROUP BY 1),
      |nt AS (SELECT CAST(count(*) AS BIGINT) AS ndocs FROM docs),
      |mat AS (SELECT vb.term AS term, nc.mcls AS cand,
      |         CAST(round(ln(CAST(coalesce(c, 0) + 1 AS DOUBLE) /
      |           (ncls + v)) * 1000000.0, 0) AS BIGINT) AS lp6
      |        FROM vb CROSS JOIN nc CROSS JOIN vv
      |        LEFT JOIN md ON md.term = vb.term AND md.mcls = nc.mcls),
      |sc AS (SELECT d.doc_id AS doc_id, d.cls AS true_cls, m.cand AS cand,
      |         CAST(sum(cnt * lp6) AS BIGINT) AS s6
      |       FROM dtc d JOIN mat m ON d.term = m.term GROUP BY 1, 2, 3),
      |sp AS (SELECT doc_id, true_cls, cand,
      |         s6 + CAST(round(ln(CAST(nd AS DOUBLE) / ndocs)
      |           * 1000000.0, 0) AS BIGINT) AS sc6
      |       FROM sc JOIN pr ON pr.pcls = sc.cand CROSS JOIN nt),
      |rk AS (SELECT doc_id, true_cls, cand,
      |         row_number() OVER (PARTITION BY doc_id
      |           ORDER BY sc6 DESC, cand) AS rn FROM sp)
      |SELECT true_cls AS lang, cand AS pred, CAST(count(*) AS BIGINT)
      |    AS n_docs
      |FROM rk WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** The q160 co-purchase graph reused for the clustering/assortativity
    * readouts (same support-2 threshold, same degree orientation). */
  private def copurchasePairs(s: org.apache.spark.sql.SparkSession,
                              dir: String) =
    Cooccur.pairCounts(Cooccur.basketItems(
        T(s, dir, "lineitem"), col("l_orderkey"), col("l_partkey"),
        distinctItems = false))
      .where(col("c_ab") >= 2)
      .select(col("item_a").as("u"), col("item_b").as("v"))

  /** [[Graph.clusteringCoefficient]] over the co-purchase graph:
    * oriented-wedge closure rate + mean local coefficient. */
  private val q248 = QDef("q248_clustering_coeff",
    (s, dir) => Graph.clusteringCoefficient(copurchasePairs(s, dir),
      col("u"), col("v")),
    Some(s"""WITH ${StatQueries.copurchaseCtes},
      |deg AS (SELECT vert, CAST(count(*) AS BIGINT) AS d
      |        FROM (SELECT u AS vert FROM e UNION ALL SELECT v FROM e)
      |        GROUP BY 1),
      |o AS (SELECT CASE WHEN row(du.d, u) < row(dv.d, v) THEN u ELSE v END
      |          AS s,
      |        CASE WHEN row(du.d, u) < row(dv.d, v) THEN v ELSE u END AS t,
      |        CASE WHEN row(du.d, u) < row(dv.d, v) THEN dv.d ELSE du.d END
      |          AS dt
      |      FROM e JOIN deg du ON du.vert = u JOIN deg dv ON dv.vert = v),
      |w AS (SELECT o1.s AS s, o1.t AS y, o2.t AS z
      |      FROM o o1 JOIN o o2 ON o1.s = o2.s
      |      WHERE row(o1.dt, o1.t) < row(o2.dt, o2.t)),
      |tr AS (SELECT w.s AS s, w.y AS y, w.z AS z
      |       FROM w JOIN o ON o.s = w.y AND o.t = w.z),
      |pv AS (SELECT vert, CAST(count(*) AS BIGINT) AS t FROM (
      |        SELECT s AS vert FROM tr UNION ALL SELECT y AS vert FROM tr
      |        UNION ALL SELECT z AS vert FROM tr) GROUP BY 1),
      |cc AS (SELECT CAST(round(CAST(2 * coalesce(t, 0) AS DOUBLE) /
      |          (d * (d - 1)) * 1000000.0, 0) AS BIGINT) AS c6
      |       FROM deg LEFT JOIN pv ON pv.vert = deg.vert WHERE d >= 2),
      |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_closable,
      |        CAST(coalesce(sum(c6), 0) AS BIGINT) AS s6 FROM cc),
      |nv AS (SELECT CAST(count(*) AS BIGINT) AS n_vertices FROM deg),
      |nw AS (SELECT CAST(count(*) AS BIGINT) AS n_wedges FROM w),
      |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles FROM tr)
      |SELECT n_vertices, n_wedges, n_triangles, n_closable,
      |  round(CAST(n_triangles AS DOUBLE) /
      |    nullif(CAST(n_wedges AS DOUBLE), 0.0), 4) AS oriented_wedge_closure,
      |  round(CAST(s6 AS DOUBLE) / 1000000.0 /
      |    nullif(CAST(n_closable AS DOUBLE), 0.0), 4) AS avg_local_cc
      |FROM nv CROSS JOIN nw CROSS JOIN nt CROSS JOIN ag""".stripMargin))

  /** [[Graph.degreeAssortativity]] of the co-purchase graph. */
  private val q249 = QDef("q249_degree_assortativity",
    (s, dir) => Graph.degreeAssortativity(copurchasePairs(s, dir),
      col("u"), col("v")),
    Some(s"""WITH ${StatQueries.copurchaseCtes},
      |deg AS (SELECT vert, CAST(count(*) AS BIGINT) AS d
      |        FROM (SELECT u AS vert FROM e UNION ALL SELECT v FROM e)
      |        GROUP BY 1),
      |ed AS (SELECT du.d AS du, dv.d AS dv
      |       FROM e JOIN deg du ON du.vert = u JOIN deg dv ON dv.vert = v),
      |pe AS (SELECT du AS x, dv AS y FROM ed
      |       UNION ALL SELECT dv AS x, du AS y FROM ed),
      |su AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |         CAST(sum(x * y) AS BIGINT) AS sxy,
      |         CAST(sum(x * x) AS BIGINT) AS sxx,
      |         CAST(sum(y * y) AS BIGINT) AS syy FROM pe)
      |SELECT n AS n_endpoints,
      |  round(CAST(n * sxy - sx * sy AS DOUBLE) /
      |        nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
      |                    CAST(n * syy - sy * sy AS DOUBLE)), 0.0), 4)
      |    AS assortativity
      |FROM su""".stripMargin))

  /** [[Timeseries.hurstRs]] of daily order revenue (kilodollar daily
    * sums): per-size mean ln(R/S) plus the OLS Hurst slope. */
  private val q250 = QDef("q250_hurst_rs",
    (s, dir) => Timeseries.hurstRs(
      T(s, dir, "orders").where(col("o_orderdate").isNotNull)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(expr("CAST(round(o_totalprice / 1000.0, 0) AS BIGINT)"))
          .as("x")),
      col("day"), col("x")),
    Some("""WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
      |        CAST(sum(CAST(round(o_totalprice / 1000.0, 0) AS BIGINT))
      |          AS BIGINT) AS x
      |      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
      |ix AS (SELECT x, CAST(row_number() OVER (ORDER BY day) AS BIGINT)
      |          AS idx FROM d),
      |sz AS (SELECT CAST(unnest([8, 16, 32, 64]) AS BIGINT) AS sz),
      |sc AS (SELECT sz.sz AS sz, idx, x, (idx - 1) // sz.sz AS ch
      |       FROM ix CROSS JOIN sz),
      |wn AS (SELECT sz, ch, idx, x,
      |        CAST(sum(x) OVER (PARTITION BY sz, ch ORDER BY idx
      |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
      |        CAST(row_number() OVER (PARTITION BY sz, ch ORDER BY idx)
      |          AS BIGINT) AS j,
      |        CAST(sum(x) OVER (PARTITION BY sz, ch) AS BIGINT) AS sx,
      |        CAST(sum(x * x) OVER (PARTITION BY sz, ch) AS BIGINT) AS sxx,
      |        CAST(count(*) OVER (PARTITION BY sz, ch) AS BIGINT) AS cnt
      |      FROM sc),
      |dv AS (SELECT sz, ch, sz * cum - j * sx AS dj, sx, sxx
      |       FROM wn WHERE cnt = sz),
      |ck AS (SELECT sz, ch,
      |        CAST(round(ln(nullif(CAST(max(dj) - min(dj) AS DOUBLE), 0.0) /
      |          nullif(sqrt(CAST(sz * min(sxx) - min(sx) * min(sx)
      |            AS DOUBLE)), 0.0)) * 1000000.0, 0) AS BIGINT) AS q6
      |       FROM dv GROUP BY 1, 2),
      |ps AS (SELECT sz, CAST(count(*) AS BIGINT) AS n_chunks,
      |        CAST(sum(q6) AS BIGINT) AS s6
      |       FROM ck WHERE q6 IS NOT NULL GROUP BY 1),
      |py AS (SELECT sz, n_chunks,
      |        CAST(round(CAST(s6 AS DOUBLE) / n_chunks, 0) AS BIGINT) AS y6,
      |        CAST(round(ln(CAST(sz AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
      |          AS x6
      |       FROM ps),
      |ols AS (SELECT CAST(count(*) AS BIGINT) AS k,
      |        CAST(sum(x6) AS BIGINT) AS sx, CAST(sum(y6) AS BIGINT) AS sy,
      |        CAST(sum(x6 * y6) AS BIGINT) AS sxy,
      |        CAST(sum(x6 * x6) AS BIGINT) AS sxx FROM py)
      |SELECT sz AS size, n_chunks,
      |  CAST(CASE WHEN y6 < 0 THEN -((2 * CAST(-y6 AS HUGEINT) + 100) // 200)
      |    ELSE (2 * CAST(y6 AS HUGEINT) + 100) // 200 END AS DOUBLE)
      |    / 10000.0 AS mean_ln_rs,
      |  CAST(CASE WHEN k * sxy - sx * sy < 0
      |    THEN -((2 * CAST(-(k * sxy - sx * sy) AS HUGEINT) * 10000 +
      |      nullif(k * sxx - sx * sx, 0)) //
      |      (2 * nullif(k * sxx - sx * sx, 0)))
      |    ELSE (2 * CAST(k * sxy - sx * sy AS HUGEINT) * 10000 +
      |      nullif(k * sxx - sx * sx, 0)) //
      |      (2 * nullif(k * sxx - sx * sx, 0)) END AS DOUBLE) / 10000.0
      |    AS hurst
      |FROM py CROSS JOIN ols ORDER BY size""".stripMargin))

  /** [[Trend.ridge2]]: kilodollar line price on quantity and discount
    * points (λ = 10¹² on the n²-scaled moments ≈ 0.1% shrink at
    * sf0.1) — the closed-form regularized twin of the OLS family. */
  private val q251 = QDef("q251_ridge_regression",
    (s, dir) => Trend.ridge2(
      T(s, dir, "lineitem").select(
        col("l_quantity").cast("long").as("x1"),
        expr("CAST(round(l_discount * 100, 0) AS BIGINT)").as("x2"),
        expr("CAST(round(l_extendedprice / 1000.0, 0) AS BIGINT)").as("y")),
      col("x1"), col("x2"), col("y"), lambda = 1e12),
    Some("""WITH d AS (SELECT CAST(l_quantity AS BIGINT) AS x1,
      |        CAST(round(l_discount * 100, 0) AS BIGINT) AS x2,
      |        CAST(round(l_extendedprice / 1000.0, 0) AS BIGINT) AS y
      |      FROM lineitem
      |      WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
      |        AND l_extendedprice IS NOT NULL),
      |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
      |        CAST(sum(y) AS BIGINT) AS sy,
      |        CAST(sum(x1 * x1) AS BIGINT) AS s11,
      |        CAST(sum(x2 * x2) AS BIGINT) AS s22,
      |        CAST(sum(x1 * x2) AS BIGINT) AS s12,
      |        CAST(sum(x1 * y) AS BIGINT) AS s1y,
      |        CAST(sum(x2 * y) AS BIGINT) AS s2y FROM d),
      |m AS (SELECT n, s1, s2, sy,
      |        CAST(n * s11 - s1 * s1 AS DOUBLE) + 1000000000000.0 AS a,
      |        CAST(n * s12 - s1 * s2 AS DOUBLE) AS b,
      |        CAST(n * s22 - s2 * s2 AS DOUBLE) + 1000000000000.0 AS c,
      |        CAST(n * s1y - s1 * sy AS DOUBLE) AS e,
      |        CAST(n * s2y - s2 * sy AS DOUBLE) AS f FROM s),
      |v AS (SELECT n, s1, s2, sy, c * e - b * f AS num1,
      |        a * f - b * e AS num2,
      |        nullif(a * c - b * b, 0.0) AS det FROM m)
      |SELECT n, round(num1 / det, 4) AS beta1,
      |  round(num2 / det, 4) AS beta2,
      |  round(CAST(sy AS DOUBLE) / n -
      |    num1 / det * (CAST(s1 AS DOUBLE) / n) -
      |    num2 / det * (CAST(s2 AS DOUBLE) / n), 4) AS intercept
      |FROM v""".stripMargin))

  /** [[Inference.fisherExact]]: is English over-represented in src0?
    * Exact hypergeometric inference over the 2×2 — the SMALL-SAMPLE
    * companion to q238 (documents is the deliberately small table;
    * the operator's O(n)-spine contract is the point). */
  private val q252 = QDef("q252_fisher_exact",
    (s, dir) => Inference.fisherExact(
      T(s, dir, "documents")
        .where(col("lang").isNotNull && col("source").isNotNull),
      col("lang") === "en", col("source") === "src0"),
    Some("""WITH d AS (SELECT lang = 'en' AS a, source = 'src0' AS b
      |      FROM documents
      |      WHERE lang IS NOT NULL AND source IS NOT NULL),
      |ct AS (SELECT
      |    CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
      |    CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n10,
      |    CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n01,
      |    CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n00
      |   FROM d),
      |mg AS (SELECT n11, n11 + n10 AS r1, n01 + n00 AS r2, n11 + n01 AS c1,
      |        n10 + n00 AS c2, n11 + n10 + n01 + n00 AS n FROM ct),
      |sp AS (SELECT i, CAST(sum(CASE WHEN i >= 2
      |         THEN CAST(round(ln(CAST(i AS DOUBLE)) * 1000000.0, 0)
      |           AS BIGINT) ELSE 0 END)
      |         OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) AS BIGINT) AS lf
      |      FROM (SELECT unnest(range(0, (SELECT n FROM mg) + 1)) AS i)),
      |ks AS (SELECT mg.*, unnest(range(greatest(0, c1 - r2),
      |         least(r1, c1) + 1)) AS k FROM mg),
      |sc AS (SELECT n11, r1, c1, n, k,
      |        l1.lf - l2.lf - l3.lf + l4.lf - l5.lf - l6.lf
      |          - (l7.lf - l8.lf - l9.lf) AS lnp6
      |      FROM ks
      |      JOIN sp l2 ON l2.i = k
      |      JOIN sp l3 ON l3.i = r1 - k
      |      JOIN sp l5 ON l5.i = c1 - k
      |      JOIN sp l6 ON l6.i = r2 - c1 + k
      |      JOIN sp l1 ON l1.i = r1
      |      JOIN sp l4 ON l4.i = r2
      |      JOIN sp l7 ON l7.i = n
      |      JOIN sp l8 ON l8.i = c1
      |      JOIN sp l9 ON l9.i = c2),
      |ob AS (SELECT lnp6 AS obs6 FROM sc WHERE k = n11)
      |SELECT n11, r1, c1, n AS n_total,
      |  round(exp(CAST(obs6 AS DOUBLE) / 1000000.0), 4) AS p_point,
      |  CAST((2 * CAST(sum(CAST(round(exp(CAST(lnp6 AS DOUBLE) / 1000000.0)
      |    * 1000000000000.0, 0) AS BIGINT)) AS HUGEINT) + 100000000) //
      |    200000000 AS DOUBLE) / 10000.0 AS p_two_sided
      |FROM sc CROSS JOIN ob WHERE lnp6 <= obs6
      |GROUP BY n11, r1, c1, n, obs6""".stripMargin))

  /** [[Inference.cochranArmitage]]: does the return rate trend with
    * quantity decile-band dose? All-integer N-cleared statistic. */
  private val q253 = QDef("q253_cochran_armitage",
    (s, dir) => Inference.cochranArmitage(
      T(s, dir, "lineitem")
        .where(col("l_quantity").isNotNull && col("l_returnflag").isNotNull),
      expr("(CAST(l_quantity AS BIGINT) - 1) DIV 10"),
      when(col("l_returnflag") === "R", 1L).otherwise(0L)),
    Some("""WITH d AS (SELECT (CAST(l_quantity AS BIGINT) - 1) // 10 AS s,
      |        CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      |      FROM lineitem
      |      WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(y) AS BIGINT) AS r1, CAST(sum(s) AS BIGINT) AS sn,
      |        CAST(sum(s * s) AS BIGINT) AS ssn,
      |        CAST(sum(s * y) AS BIGINT) AS sa FROM d)
      |SELECT n, r1,
      |  round(CAST(n * sa - r1 * sn AS DOUBLE) /
      |    nullif(CAST(n AS DOUBLE), 0.0), 4) AS t_stat,
      |  round(CAST(n * sa - r1 * sn AS DOUBLE) * sqrt(CAST(n AS DOUBLE)) /
      |    nullif(sqrt(CAST(r1 AS DOUBLE) * (n - r1) *
      |      CAST(n * ssn - sn * sn AS DOUBLE)), 0.0), 4) AS z
      |FROM a""".stripMargin))

  /** [[Inference.mantelHaenszel]]: deep-discount exposure vs returns,
    * stratified by ship year — the Simpson-proof pooled odds ratio. */
  private val q254 = QDef("q254_mantel_haenszel",
    (s, dir) => Inference.mantelHaenszel(
      T(s, dir, "lineitem")
        .where(col("l_shipdate").isNotNull && col("l_discount").isNotNull &&
          col("l_returnflag").isNotNull),
      year(col("l_shipdate")), col("l_discount") > 0.05,
      col("l_returnflag") === "R"),
    Some("""WITH d AS (SELECT year(l_shipdate) AS st, l_discount > 0.05 AS e,
      |        l_returnflag = 'R' AS o
      |      FROM lineitem WHERE l_shipdate IS NOT NULL
      |        AND l_discount IS NOT NULL AND l_returnflag IS NOT NULL),
      |pe AS (SELECT st,
      |    CAST(sum(CASE WHEN e AND o THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN e AND NOT o THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |    CAST(sum(CASE WHEN NOT e AND o THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN NOT e AND NOT o THEN 1 ELSE 0 END) AS BIGINT)
      |      AS dd
      |   FROM d GROUP BY 1),
      |tm AS (SELECT a + b + c + dd AS nn, a, b, c, dd FROM pe),
      |qs AS (SELECT
      |    CAST(round(a * CAST(dd AS DOUBLE) / nn * 1000000.0, 0) AS BIGINT)
      |      AS r6,
      |    CAST(round(b * CAST(c AS DOUBLE) / nn * 1000000.0, 0) AS BIGINT)
      |      AS s6,
      |    a * 1000000 AS a6,
      |    CAST(round(CAST(a + b AS DOUBLE) * (a + c) / nn * 1000000.0, 0)
      |      AS BIGINT) AS e6,
      |    CAST(round(CAST(a + b AS DOUBLE) * (c + dd) * (a + c) * (b + dd) /
      |      (CAST(nn AS DOUBLE) * nn * nullif(CAST(nn - 1 AS DOUBLE), 0.0))
      |      * 1000000.0, 0) AS BIGINT) AS v6
      |   FROM tm),
      |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_strata,
      |    CAST(sum(r6) AS BIGINT) AS sr, CAST(sum(s6) AS BIGINT) AS ss,
      |    CAST(sum(a6 - e6) AS BIGINT) AS dev6,
      |    CAST(sum(v6) AS BIGINT) AS sv
      |   FROM qs)
      |SELECT n_strata,
      |  CAST((2 * CAST(sr AS HUGEINT) * 10000 + nullif(ss, 0)) //
      |    (2 * nullif(ss, 0)) AS DOUBLE) / 10000.0 AS or_mh,
      |  CAST((2 * CAST(dev6 AS HUGEINT) * dev6 * 10000 +
      |    nullif(1000000 * CAST(sv AS HUGEINT), 0)) //
      |    (2 * nullif(1000000 * CAST(sv AS HUGEINT), 0)) AS DOUBLE)
      |    / 10000.0 AS chi2_cmh
      |FROM ag""".stripMargin))

  /** Shared by q255 and its banded scale twin q326 (GrowthQueries) —
    * the q60/q61/q305 same-oracle convention pins them bit-identical. */
  val containmentOracle: String = """WITH g AS (SELECT doc_id, source,
      |        list_distinct(string_split(text, ' ')) AS grams
      |      FROM documents),
      |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |        CAST(len(a.grams) AS BIGINT) AS n_a,
      |        CAST(len(b.grams) AS BIGINT) AS n_b,
      |        len(list_intersect(a.grams, b.grams)) * 1.0 /
      |          least(len(a.grams), len(b.grams)) AS c
      |      FROM g a JOIN g b ON a.source = b.source
      |        AND a.doc_id < b.doc_id)
      |SELECT id_a, id_b, n_a, n_b,
      |  CAST((2 * CAST(round(c * least(n_a, n_b), 0) AS HUGEINT) * 10000
      |    + least(n_a, n_b)) // (2 * least(n_a, n_b)) AS DOUBLE)
      |    / 10000.0 AS containment
      |FROM p WHERE c >= 0.9 ORDER BY id_a, id_b""".stripMargin

  /** [[Dedup.ngramContainmentPairs]]: subset-duplicate pairs Jaccard
    * misses — short docs embedded in long ones within a source block. */
  private val q255 = QDef("q255_ngram_containment",
    (s, dir) => Dedup.ngramContainmentPairs(T(s, dir, "documents"),
        col("text"), col("doc_id"), col("source"), n = 1, minC = 0.9)
      .withColumn("containment", round(col("containment"), 4))
      .orderBy("id_a", "id_b"),
    Some(containmentOracle))

  /** [[Inference.grubbs]]: single-outlier scan of customer balances
    * (whole dollars keep n·Σx² long-safe) — N-cleared integer extreme
    * pick, one aggregation. */
  private val q256 = QDef("q256_grubbs_outlier",
    (s, dir) => Inference.grubbs(T(s, dir, "customer"),
      expr("CAST(round(c_acctbal, 0) AS BIGINT)")),
    Some("""WITH d AS (SELECT CAST(round(c_acctbal, 0) AS BIGINT) AS x
      |      FROM customer WHERE c_acctbal IS NOT NULL),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(x) AS BIGINT) AS s, CAST(sum(x * x) AS BIGINT) AS ss,
      |        CAST(max(x) AS BIGINT) AS mx, CAST(min(x) AS BIGINT) AS mn
      |      FROM d)
      |SELECT n,
      |  CAST(CASE WHEN s < 0
      |    THEN -((2 * CAST(-s AS HUGEINT) * 10000 + nullif(n, 0)) //
      |      (2 * nullif(n, 0)))
      |    ELSE (2 * CAST(s AS HUGEINT) * 10000 + nullif(n, 0)) //
      |      (2 * nullif(n, 0)) END AS DOUBLE) / 10000.0 AS mean,
      |  round(sqrt(CAST(n * ss - s * s AS DOUBLE) /
      |    nullif(CAST(n * (n - 1) AS DOUBLE), 0.0)), 4) AS sd,
      |  CASE WHEN n * mx - s >= s - n * mn THEN 'high' ELSE 'low' END
      |    AS side,
      |  round(CAST(greatest(n * mx - s, s - n * mn) AS DOUBLE) /
      |    nullif(CAST(n AS DOUBLE) * sqrt(CAST(n * ss - s * s AS DOUBLE) /
      |      nullif(CAST(n * (n - 1) AS DOUBLE), 0.0)), 0.0), 4) AS g_stat
      |FROM a""".stripMargin))

  /** [[Trend.partialCorr]]: price–discount association with quantity
    * partialled out — one nine-sum pass computes all three pairwise
    * correlations at once. */
  private val q257 = QDef("q257_partial_corr",
    (s, dir) => Trend.partialCorr(
      T(s, dir, "lineitem")
        .where(col("l_quantity").isNotNull &&
          col("l_extendedprice").isNotNull && col("l_discount").isNotNull),
      expr("CAST(round(l_extendedprice / 1000.0, 0) AS BIGINT)"),
      expr("CAST(round(l_discount * 100, 0) AS BIGINT)"),
      col("l_quantity")),
    Some("""WITH d AS (SELECT
      |        CAST(round(l_extendedprice / 1000.0, 0) AS BIGINT) AS x,
      |        CAST(round(l_discount * 100, 0) AS BIGINT) AS y,
      |        CAST(l_quantity AS BIGINT) AS z
      |      FROM lineitem
      |      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
      |        AND l_discount IS NOT NULL),
      |su AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |        CAST(sum(z) AS BIGINT) AS sz,
      |        CAST(sum(x * x) AS BIGINT) AS sxx,
      |        CAST(sum(y * y) AS BIGINT) AS syy,
      |        CAST(sum(z * z) AS BIGINT) AS szz,
      |        CAST(sum(x * y) AS BIGINT) AS sxy,
      |        CAST(sum(x * z) AS BIGINT) AS sxz,
      |        CAST(sum(y * z) AS BIGINT) AS syz FROM d),
      |rs AS (SELECT n,
      |        CAST(n * sxy - sx * sy AS DOUBLE) /
      |          nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
      |            CAST(n * syy - sy * sy AS DOUBLE)), 0.0) AS rxy,
      |        CAST(n * sxz - sx * sz AS DOUBLE) /
      |          nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
      |            CAST(n * szz - sz * sz AS DOUBLE)), 0.0) AS rxz,
      |        CAST(n * syz - sy * sz AS DOUBLE) /
      |          nullif(sqrt(CAST(n * syy - sy * sy AS DOUBLE) *
      |            CAST(n * szz - sz * sz AS DOUBLE)), 0.0) AS ryz
      |       FROM su)
      |SELECT n, round(rxy, 4) AS r_xy, round(rxz, 4) AS r_xz,
      |  round(ryz, 4) AS r_yz,
      |  round((rxy - rxz * ryz) /
      |    nullif(sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 0.0), 4)
      |    AS r_partial
      |FROM rs""".stripMargin))

  /** [[Dedup.clusterSizeHistogram]]: exact-dup capacity planning —
    * cluster-size histogram with chars-saved accounting (min-doc_id
    * representative kept). */
  private val q258 = QDef("q258_dup_cluster_histogram",
    (s, dir) => Dedup.clusterSizeHistogram(T(s, dir, "documents"),
      md5(col("text").cast("binary")), col("n_chars"), col("doc_id")),
    Some("""WITH cl AS (SELECT md5(text) AS k,
      |        CAST(count(*) AS BIGINT) AS sz,
      |        CAST(sum(n_chars) AS BIGINT) AS sumch,
      |        CAST(arg_min(n_chars, doc_id) AS BIGINT) AS keptch
      |      FROM documents
      |      WHERE text IS NOT NULL AND n_chars IS NOT NULL
      |        AND doc_id IS NOT NULL
      |      GROUP BY 1)
      |SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
      |  CAST(sum(sz) AS BIGINT) AS n_docs,
      |  CAST(sum(sz - 1) AS BIGINT) AS n_excess_docs,
      |  CAST(sum(sumch - keptch) AS BIGINT) AS chars_dropped
      |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin))

  /** [[Timeseries.backtestSeasonalNaive]]: how good is "same weekday
    * last week" on daily order volume? The baseline forecast readout. */
  private val q259 = QDef("q259_seasonal_naive_backtest",
    (s, dir) => Timeseries.backtestSeasonalNaive(
      T(s, dir, "orders").where(col("o_orderdate").isNotNull)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("x")),
      col("day"), col("x"), season = 7),
    Some("""WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
      |        CAST(count(*) AS BIGINT) AS x
      |      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
      |p AS (SELECT a.x AS x, b.x AS xp FROM d a JOIN d b
      |      ON a.day = b.day + 7),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(abs(x - xp)) AS BIGINT) AS sae,
      |        CAST(sum((x - xp) * (x - xp)) AS BIGINT) AS sse,
      |        CAST(sum(CASE WHEN x <> 0 THEN
      |          CAST(round(CAST(abs(x - xp) AS DOUBLE) / x * 1000000.0, 0)
      |            AS BIGINT) END) AS BIGINT) AS sape6,
      |        CAST(sum(CASE WHEN x <> 0 THEN 1 ELSE 0 END) AS BIGINT)
      |          AS n_mape
      |      FROM p)
      |SELECT n AS n_days,
      |  round(CAST(sae AS DOUBLE) / nullif(CAST(n AS DOUBLE), 0.0), 4)
      |    AS mae,
      |  round(sqrt(CAST(sse AS DOUBLE) / nullif(CAST(n AS DOUBLE), 0.0)),
      |    4) AS rmse,
      |  round(CAST(sape6 AS DOUBLE) / 1000000.0 /
      |    nullif(CAST(n_mape AS DOUBLE), 0.0), 4) AS mape
      |FROM a""".stripMargin))

  /** [[Sequences.markovStationary]]: long-run occupancy of the session
    * event chain — three unrolled power-iteration steps with 1e-6
    * fixed-point inter-pass state (the rake2d device); dangling states
    * get self-loops. */
  private val q260 = QDef("q260_markov_stationary",
    (s, dir) => Sequences.markovStationary(T(s, dir, "events"),
      col("user_id"), unix_micros(col("ts")), col("event_id"),
      col("event_type"), iters = 3),
    Some("""WITH ev AS (SELECT user_id AS k, epoch_us(ts) AS us,
      |        event_id AS tb, event_type AS s
      |      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |        AND event_type IS NOT NULL AND event_id IS NOT NULL),
      |p AS (SELECT s, lead(s) OVER (PARTITION BY k ORDER BY us, tb) AS nxt
      |      FROM ev),
      |c AS (SELECT s AS f, nxt AS t, CAST(count(*) AS BIGINT) AS n
      |      FROM p WHERE nxt IS NOT NULL GROUP BY 1, 2),
      |dg AS (SELECT DISTINCT t AS f, t AS t, CAST(1 AS BIGINT) AS n FROM c
      |       WHERE t NOT IN (SELECT f FROM c)),
      |ed AS (SELECT * FROM c UNION ALL SELECT * FROM dg),
      |rsx AS (SELECT f, CAST(sum(n) AS BIGINT) AS rs FROM ed GROUP BY 1),
      |e AS (SELECT ed.f AS f, ed.t AS t, ed.n AS n, rsx.rs AS rs
      |      FROM ed JOIN rsx ON ed.f = rsx.f),
      |p0 AS (SELECT DISTINCT f AS s, CAST(1000000 AS BIGINT) AS p6 FROM e),
      |p1 AS (SELECT e.t AS s, CAST(sum(CAST(round(CAST(p6 AS DOUBLE) * n
      |          / rs, 0) AS BIGINT)) AS BIGINT) AS p6
      |       FROM e JOIN p0 ON e.f = p0.s GROUP BY 1),
      |p2 AS (SELECT e.t AS s, CAST(sum(CAST(round(CAST(p6 AS DOUBLE) * n
      |          / rs, 0) AS BIGINT)) AS BIGINT) AS p6
      |       FROM e JOIN p1 ON e.f = p1.s GROUP BY 1),
      |p3 AS (SELECT e.t AS s, CAST(sum(CAST(round(CAST(p6 AS DOUBLE) * n
      |          / rs, 0) AS BIGINT)) AS BIGINT) AS p6
      |       FROM e JOIN p2 ON e.f = p2.s GROUP BY 1),
      |tt AS (SELECT CAST(sum(p6) AS BIGINT) AS t6 FROM p3)
      |SELECT s AS state, round(CAST(p6 AS DOUBLE) /
      |  nullif(CAST(t6 AS DOUBLE), 0.0), 4) AS pi
      |FROM p3 CROSS JOIN tt ORDER BY state""".stripMargin))

  /** [[Curate.filterFunnel]]: which structural rejection rule bites
    * how hard per source — the tune-this-rule curation readout. */
  private val q261 = QDef("q261_filter_funnel",
    (s, dir) => Curate.filterFunnel(T(s, dir, "documents"),
      col("source"), col("text")),
    Some("""WITH d AS (SELECT source AS g,
      |        len(string_split(text, ' ')) AS nt,
      |        len(list_distinct(string_split(text, ' '))) AS nd,
      |        length(text) AS nc
      |      FROM documents WHERE source IS NOT NULL AND text IS NOT NULL),
      |f AS (SELECT g, (nt < 10 OR nt > 1000) AS f_len,
      |        (CAST(nd AS DOUBLE) / nt < 0.3) AS f_ttr,
      |        ((CAST(nc - (nt - 1) AS DOUBLE) / nt) < 2 OR
      |         (CAST(nc - (nt - 1) AS DOUBLE) / nt) > 12) AS f_toklen
      |      FROM d)
      |SELECT g AS source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN f_len THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_fail_len,
      |  CAST(sum(CASE WHEN f_ttr THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_fail_ttr,
      |  CAST(sum(CASE WHEN f_toklen THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_fail_toklen,
      |  CAST(sum(CASE WHEN NOT f_len AND NOT f_ttr AND NOT f_toklen
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST((2 * CAST(sum(CASE WHEN NOT f_len AND NOT f_ttr AND NOT
      |    f_toklen THEN 1 ELSE 0 END) AS HUGEINT) * 10000 + count(*)) //
      |    (2 * count(*)) AS DOUBLE) / 10000.0 AS keep_rate
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin))

  /** [[RankEval.weightedKappa]]: ordinal agreement between quantity
    * terciles and capped price bands — distance-weighted disagreement,
    * zero cells carrying their expected weight. */
  private val q262 = QDef("q262_weighted_kappa",
    (s, dir) => RankEval.weightedKappa(
      T(s, dir, "lineitem")
        .where(col("l_quantity").isNotNull &&
          col("l_extendedprice").isNotNull),
      expr("(CAST(l_quantity AS BIGINT) - 1) DIV 17"),
      expr("least(CAST(round(l_extendedprice / 1000.0, 0) AS BIGINT)" +
        " DIV 20, CAST(2 AS BIGINT))")),
    Some("""WITH d AS (SELECT (CAST(l_quantity AS BIGINT) - 1) // 17 AS a,
      |        least(CAST(round(l_extendedprice / 1000.0, 0) AS BIGINT)
      |          // 20, 2) AS b
      |      FROM lineitem
      |      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
      |ce AS (SELECT a, b, CAST(count(*) AS BIGINT) AS o FROM d
      |       GROUP BY 1, 2),
      |ra AS (SELECT a, CAST(sum(o) AS BIGINT) AS r FROM ce GROUP BY 1),
      |cb AS (SELECT b, CAST(sum(o) AS BIGINT) AS c FROM ce GROUP BY 1),
      |tt AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM ce),
      |sp AS (SELECT ra.a AS a, cb.b AS b, r, c, coalesce(o, 0) AS o
      |      FROM ra CROSS JOIN cb
      |      LEFT JOIN ce ON ce.a = ra.a AND ce.b = cb.b),
      |tm AS (SELECT n, abs(a - b) * o AS wo,
      |        CAST(round(CAST(abs(a - b) AS DOUBLE) * r * c / n
      |          * 1000000.0, 0) AS BIGINT) AS we6
      |      FROM sp CROSS JOIN tt),
      |ag AS (SELECT n, CAST(sum(wo) AS BIGINT) AS no,
      |        CAST(sum(we6) AS BIGINT) AS ne6 FROM tm GROUP BY 1)
      |SELECT n,
      |  round(CAST(no AS DOUBLE) / nullif(CAST(n AS DOUBLE), 0.0), 4)
      |    AS obs_disagreement,
      |  round(CAST(ne6 AS DOUBLE) / 1000000.0 /
      |    nullif(CAST(n AS DOUBLE), 0.0), 4) AS exp_disagreement,
      |  CASE WHEN ne6 <> 0 THEN
      |    round(1.0 - CAST(no AS DOUBLE) * 1000000.0 / ne6, 4) END
      |    AS kappa_w
      |FROM ag""".stripMargin))

  /** [[Trend.iqrFences]]: box-plot-rule outlier counts of customer
    * balances per nation — the quartile sibling of q127's MAD scan. */
  private val q263 = QDef("q263_iqr_fences",
    (s, dir) => Trend.iqrFences(
      T(s, dir, "customer")
        .join(T(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey")),
      col("n_name"), col("c_acctbal")),
    Some("""WITH d AS (SELECT n_name AS g, c_acctbal AS v FROM customer
      |      JOIN nation ON c_nationkey = n_nationkey
      |      WHERE n_name IS NOT NULL AND c_acctbal IS NOT NULL),
      |q AS (SELECT g, quantile_cont(v, 0.25) AS q1,
      |        quantile_cont(v, 0.75) AS q3 FROM d GROUP BY 1),
      |j AS (SELECT d.g AS g, v, q1, q3, q1 - 1.5 * (q3 - q1) AS lo,
      |        q3 + 1.5 * (q3 - q1) AS hi
      |      FROM d JOIN q ON d.g = q.g)
      |SELECT g, CAST(count(*) AS BIGINT) AS n, round(min(q1), 4) AS q1,
      |  round(min(q3), 4) AS q3,
      |  CAST(sum(CASE WHEN v < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
      |  CAST(sum(CASE WHEN v > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_high
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin))

  /** [[Survival.nelsonAalen]]: cumulative user-churn hazard over the
    * q176 duration construction — additive increments quantized 1e-6,
    * prefix-summed on the distinct-duration spine. */
  private val q264 = QDef("q264_nelson_aalen",
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
      Survival.nelsonAalen(dur, col("dur"), col("ev"))
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
      |        CAST(round(CAST(d_at AS DOUBLE) / CAST(n_risk AS DOUBLE)
      |          * 1000000.0, 0) AS BIGINT) AS h6
      |      FROM r WHERE d_at > 0),
      |cu AS (SELECT t, n_risk, d_at,
      |        CAST(sum(h6) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
      |          PRECEDING AND CURRENT ROW) AS HUGEINT) AS ch6
      |      FROM ev)
      |SELECT t, n_risk, d_at AS n_events,
      |  CAST((2 * ch6 + 100) // 200 AS DOUBLE) / 10000.0 AS cum_hazard
      |FROM cu ORDER BY t""".stripMargin))

  /** [[Trend.ancova]]: segment order-value means adjusted for customer
    * balance — the common-slope covariate adjustment. */
  private val q265 = QDef("q265_ancova",
    (s, dir) => Trend.ancova(
      T(s, dir, "orders")
        .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .where(col("c_mktsegment").isNotNull && col("c_acctbal").isNotNull &&
          col("o_totalprice").isNotNull),
      col("c_mktsegment"),
      expr("CAST(round(c_acctbal, 0) AS BIGINT)"),
      expr("CAST(round(o_totalprice / 1000.0, 0) AS BIGINT)")),
    Some("""WITH d AS (SELECT c_mktsegment AS g,
      |        CAST(round(c_acctbal, 0) AS BIGINT) AS x,
      |        CAST(round(o_totalprice / 1000.0, 0) AS BIGINT) AS y
      |      FROM orders JOIN customer ON o_custkey = c_custkey
      |      WHERE c_mktsegment IS NOT NULL AND c_acctbal IS NOT NULL
      |        AND o_totalprice IS NOT NULL),
      |pg AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |        CAST(sum(x * y) AS BIGINT) AS sxy,
      |        CAST(sum(x * x) AS BIGINT) AS sxx FROM d GROUP BY 1),
      |t AS (SELECT g, n, sx, sy,
      |        CAST(round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
      |          * 10000.0, 0) AS BIGINT) AS cxy4,
      |        CAST(round((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
      |          * 10000.0, 0) AS BIGINT) AS cxx4 FROM pg),
      |p AS (SELECT CAST(sum(cxy4) AS BIGINT) AS pxy,
      |        CAST(sum(cxx4) AS BIGINT) AS pxx,
      |        CAST(sum(sx) AS BIGINT) AS tsx,
      |        CAST(sum(n) AS BIGINT) AS tn FROM t),
      |fx AS (SELECT g, n, sy,
      |        CAST(pxy AS HUGEINT) AS pxy, nullif(CAST(pxx AS HUGEINT), 0)
      |          AS npxx,
      |        CAST(sy AS HUGEINT) * nullif(CAST(pxx AS HUGEINT), 0) * tn
      |          - CAST(pxy AS HUGEINT) * (CAST(sx AS HUGEINT) * tn
      |            - CAST(tsx AS HUGEINT) * n) AS anum,
      |        CAST(n AS HUGEINT) * nullif(CAST(pxx AS HUGEINT), 0) * tn
      |          AS aden
      |      FROM t CROSS JOIN p)
      |SELECT g, n,
      |  CAST(CASE WHEN sy < 0
      |    THEN -((2 * CAST(-sy AS HUGEINT) * 10000 + n) // (2 * n))
      |    ELSE (2 * CAST(sy AS HUGEINT) * 10000 + n) // (2 * n)
      |    END AS DOUBLE) / 10000.0 AS mean_y,
      |  CAST(CASE WHEN pxy < 0
      |    THEN -((2 * (-pxy) * 10000 + npxx) // (2 * npxx))
      |    ELSE (2 * pxy * 10000 + npxx) // (2 * npxx) END AS DOUBLE)
      |    / 10000.0 AS slope_w,
      |  CAST(CASE WHEN anum < 0
      |    THEN -((2 * (-anum) * 10000 + aden) // (2 * aden))
      |    ELSE (2 * anum * 10000 + aden) // (2 * aden) END AS DOUBLE)
      |    / 10000.0 AS adj_mean_y
      |FROM fx ORDER BY g""".stripMargin))

  /** [[Curate.tfidfCosinePairs]]: lexically-weighted near-dup pairs —
    * rare shared terms count, boilerplate doesn't; exact integer dots
    * on 1e-3-quantized tf·idf weights. */
  /** Shared by q266 (naive block self-join) and q331 (banded twin,
    * `Curate.tfidfCosinePairsBanded`) — the q60/q61/q305/q326 one-oracle
    * convention pinning both forms bit-identical. */
  val cosineOracle: String =
    """WITH tok AS (SELECT id, blk, term, CAST(count(*) AS BIGINT) AS tf
      |      FROM (SELECT doc_id AS id, source AS blk,
      |              unnest(string_split(text, ' ')) AS term
      |            FROM documents
      |            WHERE doc_id IS NOT NULL AND source IS NOT NULL)
      |      GROUP BY 1, 2, 3),
      |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tok
      |        GROUP BY 1),
      |nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
      |       FROM documents WHERE doc_id IS NOT NULL),
      |w AS (SELECT id, blk, term,
      |        CAST(round(CAST(tf AS DOUBLE) *
      |          ln(CAST(nd AS DOUBLE) / df) * 1000.0, 0) AS BIGINT) AS w3
      |      FROM tok JOIN dft USING (term) CROSS JOIN nd),
      |nr AS (SELECT id, CAST(sum(w3 * w3) AS BIGINT) AS nrm FROM w
      |       GROUP BY 1),
      |dt AS (SELECT a.id AS id_a, b.id AS id_b,
      |        CAST(sum(a.w3 * b.w3) AS BIGINT) AS dot
      |      FROM w a JOIN w b ON a.blk = b.blk AND a.term = b.term
      |        AND a.id < b.id
      |      GROUP BY 1, 2),
      |cs AS (SELECT id_a, id_b, CAST(dot AS DOUBLE) /
      |        nullif(sqrt(CAST(na.nrm AS DOUBLE) * nb.nrm), 0.0) AS cos
      |      FROM dt JOIN nr na ON na.id = dt.id_a
      |      JOIN nr nb ON nb.id = dt.id_b)
      |SELECT id_a, id_b, round(cos, 4) AS cos FROM cs WHERE cos >= 0.6
      |ORDER BY id_a, id_b""".stripMargin

  private val q266 = QDef("q266_tfidf_cosine_pairs",
    (s, dir) => Curate.tfidfCosinePairs(T(s, dir, "documents"),
        col("doc_id"), col("text"), col("source"), minCos = 0.6)
      .withColumn("cos", round(col("cos"), 4))
      .orderBy("id_a", "id_b"),
    Some(cosineOracle))

  /** [[Timeseries.burstiness]]: Fano factor and Goh-Barabási index of
    * daily event volume per type over the full zero-filled day spine. */
  private val q267 = QDef("q267_burstiness",
    (s, dir) => Timeseries.burstiness(T(s, dir, "events"),
      col("event_type"), col("ts")),
    Some("""WITH d AS (SELECT event_type AS k,
      |        epoch_us(ts) // 86400000000 AS di
      |      FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
      |c AS (SELECT k, di, CAST(count(*) AS BIGINT) AS c FROM d
      |      GROUP BY 1, 2),
      |sp AS (SELECT min(di) AS lo, max(di) AS hi FROM d),
      |ks AS (SELECT DISTINCT k FROM d),
      |spine AS (SELECT k, unnest(range(lo, hi + 1)) AS di
      |          FROM ks CROSS JOIN sp),
      |f AS (SELECT spine.k AS k, coalesce(c.c, 0) AS c
      |      FROM spine LEFT JOIN c ON c.k = spine.k AND c.di = spine.di),
      |a AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(c) AS BIGINT) AS s,
      |        CAST(sum(c * c) AS BIGINT) AS ss FROM f GROUP BY 1)
      |SELECT k AS key, n AS n_days,
      |  CAST((2 * CAST(s AS HUGEINT) * 10000 + n) // (2 * n) AS DOUBLE)
      |    / 10000.0 AS mean,
      |  CAST((2 * CAST(n * ss - s * s AS HUGEINT) * 10000 +
      |    nullif(n * s, 0)) // (2 * nullif(n * s, 0)) AS DOUBLE) / 10000.0
      |    AS fano,
      |  round((sqrt(CAST(n * ss - s * s AS DOUBLE)) / n -
      |      CAST(s AS DOUBLE) / n) /
      |    nullif(sqrt(CAST(n * ss - s * s AS DOUBLE)) / n +
      |      CAST(s AS DOUBLE) / n, 0.0), 4) AS burstiness
      |FROM a ORDER BY key""".stripMargin))

  /** [[Profile.diversityIndices]]: how concentrated is each language's
    * source mix — Shannon/evenness/Simpson in one pass. */
  private val q268 = QDef("q268_diversity_indices",
    (s, dir) => Profile.diversityIndices(T(s, dir, "documents"),
      col("lang"), col("source")),
    Some("""WITH ce AS (SELECT lang AS g, source AS c,
      |        CAST(count(*) AS BIGINT) AS o
      |      FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
      |      GROUP BY 1, 2),
      |pg AS (SELECT g, CAST(sum(o) AS BIGINT) AS n,
      |        CAST(count(*) AS BIGINT) AS k,
      |        CAST(sum(o * o) AS BIGINT) AS ssq FROM ce GROUP BY 1),
      |h AS (SELECT ce.g AS g, CAST(sum(CAST(round(CAST(o AS DOUBLE) / n *
      |        ln(CAST(o AS DOUBLE) / n) * 1000000.0, 0) AS BIGINT))
      |        AS BIGINT) AS h6
      |      FROM ce JOIN pg ON ce.g = pg.g GROUP BY 1)
      |SELECT pg.g AS grp, n, k AS k_categories,
      |  CAST(CASE WHEN -h6 < 0 THEN -((2 * CAST(h6 AS HUGEINT) + 100) // 200)
      |    ELSE (2 * CAST(-h6 AS HUGEINT) + 100) // 200 END AS DOUBLE)
      |    / 10000.0 AS shannon_h,
      |  round(-CAST(h6 AS DOUBLE) / 1000000.0 /
      |    nullif(ln(CAST(k AS DOUBLE)), 0.0), 4) AS evenness,
      |  CAST((2 * CAST(n * n - ssq AS HUGEINT) * 10000 + n * n) //
      |    (2 * n * n) AS DOUBLE) / 10000.0 AS simpson_d
      |FROM pg JOIN h ON pg.g = h.g ORDER BY grp""".stripMargin))

  /** Per-brand price elasticity of demand: closed-form OLS on
    * 1e-3-quantized ln(price) vs ln(quantity) — the log-log slope IS
    * the elasticity (quantization scales cancel). Slope products stay
    * long-exact; the intercept numerator runs in double space (ln-sums
    * × power sums overflow the all-long olsTrend form at sf0.1+). */
  private val q269 = QDef("q269_price_elasticity",
    (s, dir) => {
      val e = T(s, dir, "lineitem")
        .join(T(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .where(col("l_extendedprice").isNotNull &&
          col("l_quantity").isNotNull && col("p_brand").isNotNull)
        .select(col("p_brand"),
          round(log(expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)")
            .cast("double")) * lit(1e3), 0).cast("long").as("x"),
          round(log(expr("CAST(l_quantity AS BIGINT)").cast("double")) *
            lit(1e3), 0).cast("long").as("y"))
      // inline OLS: ln-scale sums are too large for olsTrend's all-long
      // intercept products (sy·sxx overflowed at sf0.1) — the intercept
      // numerator goes through double space (heapsLaw device)
      e.groupBy(col("p_brand").as("brand"))
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("brand"), col("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
            nullif((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double"), lit(0.0)), 4).as("elasticity"),
          round((col("sy").cast("double") * col("sxx") -
            col("sx").cast("double") * col("sxy")) /
            nullif((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double"), lit(0.0)), 4).as("intercept"))
        .orderBy("brand")
    },
    Some("""WITH c AS (SELECT p_brand AS g,
      |        CAST(round(ln(CAST(CAST(round(l_extendedprice * 100, 0)
      |          AS BIGINT) AS DOUBLE)) * 1000.0, 0) AS BIGINT) AS x,
      |        CAST(round(ln(CAST(CAST(l_quantity AS BIGINT) AS DOUBLE))
      |          * 1000.0, 0) AS BIGINT) AS y
      |      FROM lineitem JOIN part ON l_partkey = p_partkey
      |      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
      |        AND p_brand IS NOT NULL),
      |su AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |         CAST(sum(x * y) AS BIGINT) AS sxy,
      |         CAST(sum(x * x) AS BIGINT) AS sxx
      |       FROM c GROUP BY 1)
      |SELECT g AS brand, n,
      |  round(CAST(n * sxy - sx * sy AS DOUBLE) /
      |        nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0.0), 4)
      |    AS elasticity,
      |  round((CAST(sy AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sxy) /
      |        nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0.0), 4)
      |    AS intercept
      |FROM su ORDER BY brand""".stripMargin))

  /** [[Inference.giniSplitGain]]: best single price cut for predicting
    * returns — the decision-tree inner loop over a literal threshold
    * grid. */
  private val q270 = QDef("q270_gini_split_gain",
    (s, dir) => Inference.giniSplitGain(
      T(s, dir, "lineitem")
        .where(col("l_extendedprice").isNotNull &&
          col("l_returnflag").isNotNull),
      expr("CAST(round(l_extendedprice / 1000.0, 0) AS BIGINT)"),
      when(col("l_returnflag") === "R", 1L).otherwise(0L),
      thresholds = Seq(10L, 20L, 30L, 40L, 50L, 60L, 70L, 80L, 90L, 100L)),
    Some("""WITH d AS (SELECT
      |        CAST(round(l_extendedprice / 1000.0, 0) AS BIGINT) AS x,
      |        CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      |      FROM lineitem
      |      WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL),
      |pa AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(y) AS BIGINT) AS p FROM d),
      |th AS (SELECT CAST(unnest([10, 20, 30, 40, 50, 60, 70, 80, 90, 100])
      |          AS BIGINT) AS t),
      |pt AS (SELECT t,
      |        CAST(sum(CASE WHEN x <= t THEN 1 ELSE 0 END) AS BIGINT) AS nl,
      |        CAST(sum(CASE WHEN x <= t THEN y ELSE 0 END) AS BIGINT) AS pl
      |       FROM d CROSS JOIN th GROUP BY 1)
      |SELECT t AS threshold, nl AS n_left, n - nl AS n_right,
      |  round(
      |    (CASE WHEN n = 0 THEN 0.0 ELSE 1.0 -
      |      (CAST(p AS DOUBLE) * p + CAST(n - p AS DOUBLE) * (n - p)) /
      |      (CAST(n AS DOUBLE) * n) END)
      |    - CAST(nl AS DOUBLE) / n *
      |      (CASE WHEN nl = 0 THEN 0.0 ELSE 1.0 -
      |        (CAST(pl AS DOUBLE) * pl +
      |         CAST(nl - pl AS DOUBLE) * (nl - pl)) /
      |        (CAST(nl AS DOUBLE) * nl) END)
      |    - CAST(n - nl AS DOUBLE) / n *
      |      (CASE WHEN n - nl = 0 THEN 0.0 ELSE 1.0 -
      |        (CAST(p - pl AS DOUBLE) * (p - pl) +
      |         CAST((n - nl) - (p - pl) AS DOUBLE) *
      |           ((n - nl) - (p - pl))) /
      |        (CAST(n - nl AS DOUBLE) * (n - nl)) END), 4) AS gain
      |FROM pt CROSS JOIN pa ORDER BY threshold""".stripMargin))

  /** [[Timeseries.peaks]]: daily-revenue local maxima with a 3-day
    * neighborhood and ≥50 k$ prominence — the spike detector. */
  private val q271 = QDef("q271_peak_detection",
    (s, dir) => Timeseries.peaks(
      T(s, dir, "orders").where(col("o_orderdate").isNotNull)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(expr("CAST(round(o_totalprice / 1000.0, 0) AS BIGINT)"))
          .as("x")),
      col("day"), col("x"), w = 3, minProminence = 50L),
    Some("""WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
      |        CAST(sum(CAST(round(o_totalprice / 1000.0, 0) AS BIGINT))
      |          AS BIGINT) AS x
      |      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
      |wn AS (SELECT day, x,
      |        CAST(max(x) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND
      |          1 PRECEDING) AS BIGINT) AS lmax,
      |        CAST(max(x) OVER (ORDER BY day ROWS BETWEEN 1 FOLLOWING AND
      |          3 FOLLOWING) AS BIGINT) AS rmax,
      |        CAST(count(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND
      |          1 PRECEDING) AS BIGINT) AS lcnt,
      |        CAST(count(*) OVER (ORDER BY day ROWS BETWEEN 1 FOLLOWING AND
      |          3 FOLLOWING) AS BIGINT) AS rcnt
      |      FROM d)
      |SELECT day, x AS value, x - greatest(lmax, rmax) AS prominence
      |FROM wn WHERE lcnt = 3 AND rcnt = 3 AND x > lmax AND x > rmax
      |  AND x - greatest(lmax, rmax) >= 50
      |ORDER BY day""".stripMargin))

  /** [[LanguageModel.ngramNovelty]]: per-document fresh-vocabulary
    * fraction — first-appearance attribution via one gram→min-doc
    * aggregation. */
  private val q272 = QDef("q272_ngram_novelty",
    (s, dir) => LanguageModel.ngramNovelty(T(s, dir, "documents"),
      col("doc_id"), col("text")),
    Some("""WITH g AS (SELECT doc_id,
      |        unnest(list_distinct(string_split(text, ' '))) AS gm
      |      FROM documents WHERE doc_id IS NOT NULL),
      |f AS (SELECT gm, CAST(min(doc_id) AS BIGINT) AS fd FROM g
      |      GROUP BY 1),
      |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_types,
      |        CAST(sum(CASE WHEN fd = doc_id THEN 1 ELSE 0 END) AS BIGINT)
      |          AS n_new
      |      FROM g JOIN f USING (gm) GROUP BY 1)
      |SELECT doc_id, n_types, n_new,
      |  CAST((2 * CAST(n_new AS HUGEINT) * 10000 + n_types) //
      |    (2 * n_types) AS DOUBLE) / 10000.0 AS novelty
      |FROM a ORDER BY doc_id""".stripMargin))

  /** [[Trend.winsorizedStats]]: per-nation balance stats with the tails
    * pinned to integer-rounded p5/p95 fences — clamped longs keep the
    * sums exact. */
  private val q273 = QDef("q273_winsorized_stats",
    (s, dir) => Trend.winsorizedStats(
      T(s, dir, "customer")
        .join(T(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey")),
      col("n_name"), expr("CAST(round(c_acctbal, 0) AS BIGINT)"),
      p = 0.05),
    Some("""WITH d AS (SELECT n_name AS g,
      |        CAST(round(c_acctbal, 0) AS BIGINT) AS v
      |      FROM customer JOIN nation ON c_nationkey = n_nationkey
      |      WHERE n_name IS NOT NULL AND c_acctbal IS NOT NULL),
      |f AS (SELECT g, CAST(round(quantile_cont(v, 0.05), 0) AS BIGINT)
      |          AS lo,
      |        CAST(round(quantile_cont(v, 0.95), 0) AS BIGINT) AS hi
      |      FROM d GROUP BY 1),
      |w AS (SELECT d.g AS g, lo, hi, least(greatest(v, lo), hi) AS w,
      |        v < lo AS cl, v > hi AS ch
      |      FROM d JOIN f ON d.g = f.g),
      |a AS (SELECT g, CAST(count(*) AS BIGINT) AS n, min(lo) AS lo,
      |        min(hi) AS hi, CAST(sum(w) AS BIGINT) AS s,
      |        CAST(sum(w * w) AS BIGINT) AS ss,
      |        CAST(sum(CASE WHEN cl THEN 1 ELSE 0 END) AS BIGINT)
      |          AS n_clamped_low,
      |        CAST(sum(CASE WHEN ch THEN 1 ELSE 0 END) AS BIGINT)
      |          AS n_clamped_high
      |      FROM w GROUP BY 1)
      |SELECT g, n, lo, hi, n_clamped_low, n_clamped_high,
      |  CAST(CASE WHEN s < 0
      |    THEN -((2 * CAST(-s AS HUGEINT) * 10000 + n) // (2 * n))
      |    ELSE (2 * CAST(s AS HUGEINT) * 10000 + n) // (2 * n)
      |    END AS DOUBLE) / 10000.0 AS wins_mean,
      |  round(sqrt(CAST(n * ss - s * s AS DOUBLE) /
      |    nullif(CAST(n * (n - 1) AS DOUBLE), 0.0)), 4) AS wins_sd
      |FROM a ORDER BY g""".stripMargin))

  /** [[LanguageModel.heapsLaw]]: vocabulary-growth exponent over the
    * doc_id-ordered corpus prefix — β collapse flags a circular crawl. */
  private val q274 = QDef("q274_heaps_law",
    (s, dir) => LanguageModel.heapsLaw(T(s, dir, "documents"),
      col("doc_id"), col("text")),
    Some("""WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS nt,
      |        list_distinct(string_split(text, ' ')) AS dk
      |      FROM documents WHERE doc_id IS NOT NULL),
      |nw AS (SELECT fd AS doc_id, CAST(count(*) AS BIGINT) AS nv
      |       FROM (SELECT gm, min(doc_id) AS fd
      |             FROM (SELECT doc_id, unnest(dk) AS gm FROM t)
      |             GROUP BY 1)
      |       GROUP BY 1),
      |c AS (SELECT t.doc_id AS doc_id, CAST(nt AS BIGINT) AS nt,
      |        coalesce(nv, 0) AS nv
      |      FROM t LEFT JOIN nw ON t.doc_id = nw.doc_id),
      |cu AS (SELECT CAST(sum(nt) OVER w AS BIGINT) AS bn,
      |        CAST(sum(nv) OVER w AS BIGINT) AS bv
      |      FROM c WINDOW w AS (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)),
      |pt AS (SELECT CAST(round(ln(CAST(bn AS DOUBLE)) * 1000.0, 0)
      |          AS BIGINT) AS x,
      |        CAST(round(ln(CAST(bv AS DOUBLE)) * 1000.0, 0) AS BIGINT)
      |          AS y
      |      FROM cu WHERE bn > 0 AND bv > 0),
      |su AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |        CAST(sum(x * y) AS BIGINT) AS sxy,
      |        CAST(sum(x * x) AS BIGINT) AS sxx FROM pt)
      |SELECT n AS n_docs,
      |  round(CAST(n * sxy - sx * sy AS DOUBLE) /
      |    nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0.0), 4) AS beta,
      |  round((CAST(sy AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sxy) /
      |    nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0.0) / 1000.0, 4)
      |    AS ln_k
      |FROM su""".stripMargin))

  /** [[Inference.icc1]]: how much of event value variance is explained
    * by event type — one-way random-effects ICC with the unbalanced-n₀
    * correction. */
  private val q275 = QDef("q275_icc",
    (s, dir) => Inference.icc1(
      T(s, dir, "events")
        .where(col("event_type").isNotNull && col("value").isNotNull),
      col("event_type"),
      expr("CAST(round(value * 100, 0) AS BIGINT)")),
    Some("""WITH d AS (SELECT event_type AS g,
      |        CAST(round(value * 100, 0) AS BIGINT) AS v
      |      FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
      |pg AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(v) AS BIGINT) AS s,
      |        CAST(sum(v * v) AS BIGINT) AS ss FROM d GROUP BY 1),
      |t AS (SELECT n, s, ss,
      |        CAST(round(CAST(s AS DOUBLE) * s / n * 10000.0, 0) AS BIGINT)
      |          AS tg FROM pg),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT)
      |          AS n,
      |        CAST(sum(s) AS BIGINT) AS st, CAST(sum(ss) AS BIGINT) AS sst,
      |        CAST(sum(tg) AS BIGINT) AS stg,
      |        CAST(sum(n * n) AS BIGINT) AS snn FROM t),
      |b AS (SELECT k, n, snn, stg, sst,
      |        CAST(round(CAST(st AS DOUBLE) * st / n * 10000.0, 0)
      |          AS BIGINT) AS tall FROM a),
      |m AS (SELECT k, n,
      |        CAST(stg - tall AS HUGEINT) AS aq,
      |        CAST(sst * 10000 - stg AS HUGEINT) AS bq,
      |        CAST(k - 1 AS HUGEINT) AS ka, CAST(n - k AS HUGEINT) AS kb,
      |        CAST(n AS HUGEINT) * n - snn - CAST(n AS HUGEINT) * (k - 1)
      |          AS cq,
      |        CAST(n AS HUGEINT) * n - snn AS n0num,
      |        nullif(CAST(n AS HUGEINT) * (k - 1), 0) AS n0den
      |       FROM b)
      |SELECT k AS k_groups, n AS n_rows,
      |  CAST(CASE WHEN n0num < 0
      |    THEN -((2 * (-n0num) * 10000 + n0den) // (2 * n0den))
      |    ELSE (2 * n0num * 10000 + n0den) // (2 * n0den) END AS DOUBLE)
      |    / 10000.0 AS n0,
      |  CAST(CASE WHEN n * (aq * kb - ka * bq) < 0
      |    THEN -((2 * (-(n * (aq * kb - ka * bq))) * 10000 +
      |      nullif(aq * kb * n + cq * bq, 0)) //
      |      (2 * nullif(aq * kb * n + cq * bq, 0)))
      |    ELSE (2 * n * (aq * kb - ka * bq) * 10000 +
      |      nullif(aq * kb * n + cq * bq, 0)) //
      |      (2 * nullif(aq * kb * n + cq * bq, 0)) END AS DOUBLE)
      |    / 10000.0 AS icc1
      |FROM m""".stripMargin))

  /** [[LanguageModel.klPerSource]]: which sources diverge most from
    * the corpus blend — add-1 KL over the full vocab×source spine,
    * 1e-9 fixed-point terms. */
  private val q276 = QDef("q276_kl_sources",
    (s, dir) => LanguageModel.klPerSource(T(s, dir, "documents"),
      col("text"), col("source")),
    Some("""WITH tok AS (SELECT source AS src,
      |        unnest(string_split(text, ' ')) AS t
      |      FROM documents WHERE source IS NOT NULL),
      |ce AS (SELECT src, t, CAST(count(*) AS BIGINT) AS c FROM tok
      |       GROUP BY 1, 2),
      |vb AS (SELECT t, CAST(sum(c) AS BIGINT) AS tot FROM ce GROUP BY 1),
      |sr AS (SELECT src AS ksrc, CAST(sum(c) AS BIGINT) AS nsrc FROM ce
      |       GROUP BY 1),
      |tt AS (SELECT CAST(sum(tot) AS BIGINT) AS nn,
      |        CAST(count(*) AS BIGINT) AS v FROM vb),
      |sp AS (SELECT vb.t AS t, tot, ksrc, nsrc, nn, v, ce.c AS c
      |      FROM vb CROSS JOIN sr CROSS JOIN tt
      |      LEFT JOIN ce ON ce.t = vb.t AND ce.src = ksrc),
      |tm AS (SELECT ksrc, nsrc,
      |        CAST(round((CAST(coalesce(c, 0) + 1 AS DOUBLE) / (nsrc + v)) *
      |          ln((CAST(coalesce(c, 0) + 1 AS DOUBLE) / (nsrc + v)) /
      |             (CAST(tot + 1 AS DOUBLE) / (nn + v))) * 1000000000.0, 0)
      |          AS BIGINT) AS t9
      |      FROM sp),
      |ag AS (SELECT ksrc, nsrc, CAST(sum(t9) AS BIGINT) AS kl9 FROM tm
      |       GROUP BY 1, 2)
      |SELECT ksrc AS source, nsrc AS n_tokens,
      |  CAST(CASE WHEN kl9 < 0
      |    THEN -((2 * CAST(-kl9 AS HUGEINT) + 100000) // 200000)
      |    ELSE (2 * CAST(kl9 AS HUGEINT) + 100000) // 200000 END
      |    AS DOUBLE) / 10000.0 AS kl_from_corpus
      |FROM ag ORDER BY source""".stripMargin))

  /** [[Timeseries.runsTest]]: is daily revenue's above/below-median
    * sign sequence random — the Wald-Wolfowitz regime check. */
  private val q277 = QDef("q277_runs_test",
    (s, dir) => Timeseries.runsTest(
      T(s, dir, "orders").where(col("o_orderdate").isNotNull)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(expr("CAST(round(o_totalprice / 1000.0, 0) AS BIGINT)"))
          .as("x")),
      col("day"), col("x")),
    Some("""WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
      |        CAST(sum(CAST(round(o_totalprice / 1000.0, 0) AS BIGINT))
      |          AS BIGINT) AS x
      |      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
      |m AS (SELECT median(x) AS m FROM d),
      |s AS (SELECT day, x > m AS up FROM d CROSS JOIN m
      |      WHERE CAST(x AS DOUBLE) <> m),
      |l AS (SELECT up, lag(up) OVER (ORDER BY day) AS prev FROM s),
      |a AS (SELECT CAST(sum(CASE WHEN up THEN 1 ELSE 0 END) AS BIGINT)
      |          AS n1,
      |        CAST(sum(CASE WHEN NOT up THEN 1 ELSE 0 END) AS BIGINT)
      |          AS n2,
      |        CAST(sum(CASE WHEN prev IS NULL OR prev <> up THEN 1
      |          ELSE 0 END) AS BIGINT) AS r FROM l)
      |SELECT n1 AS n_above, n2 AS n_below, r AS n_runs,
      |  round((CAST(r AS DOUBLE) - (1.0 + 2.0 * n1 * n2 / (n1 + n2))) /
      |    nullif(sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2) /
      |      (CAST(n1 + n2 AS DOUBLE) * (n1 + n2) * (n1 + n2 - 1))), 0.0),
      |    4) AS z
      |FROM a""".stripMargin))

  /** [[LanguageModel.keynessG2]]: Dunning G² keyness of the English
    * slice vs the rest — top-25 most distinctive terms either way. */
  private val q278 = QDef("q278_keyness_g2",
    (s, dir) => LanguageModel.keynessG2(
      T(s, dir, "documents")
        .where(col("lang").isNotNull && col("text").isNotNull),
      col("text"), col("lang") === "en", k = 25),
    Some("""WITH tok AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END
      |          AS tgt,
      |        unnest(string_split(text, ' ')) AS t
      |      FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL),
      |vb AS (SELECT t, CAST(sum(tgt) AS BIGINT) AS a,
      |        CAST(sum(1 - tgt) AS BIGINT) AS b FROM tok GROUP BY 1),
      |tt AS (SELECT CAST(sum(a) AS BIGINT) AS nt,
      |        CAST(sum(b) AS BIGINT) AS nr FROM vb),
      |g AS (SELECT t AS term, a, b,
      |        round(2.0 * (
      |          (CASE WHEN a > 0 THEN CAST(a AS DOUBLE) *
      |            ln(a / (CAST(nt AS DOUBLE) * (a + b) / (nt + nr)))
      |           ELSE 0.0 END) +
      |          (CASE WHEN b > 0 THEN CAST(b AS DOUBLE) *
      |            ln(b / (CAST(nr AS DOUBLE) * (a + b) / (nt + nr)))
      |           ELSE 0.0 END)), 4) AS g2,
      |        CASE WHEN a * nr > b * nt THEN 'over' ELSE 'under' END
      |          AS direction
      |      FROM vb CROSS JOIN tt)
      |SELECT term, a, b, g2, direction FROM g
      |ORDER BY g2 DESC, term LIMIT 25""".stripMargin))

  /** [[Sketches.captureRecapture]]: Chapman estimate of the customer
    * ID-space size from two 40% hash captures, with the true distinct
    * count riding along to validate the estimator. */
  private val q279 = QDef("q279_capture_recapture",
    (s, dir) => Sketches.captureRecapture(T(s, dir, "customer"),
      col("c_custkey"), pct1 = 40, pct2 = 40),
    Some("""WITH k AS (SELECT DISTINCT c_custkey AS k FROM customer
      |      WHERE c_custkey IS NOT NULL),
      |f AS (SELECT
      |    CAST(('0x' || substr(md5(CAST(k AS VARCHAR) || 'cr1'), 1, 15))
      |      AS BIGINT) % 100 < 40 AS s1,
      |    CAST(('0x' || substr(md5(CAST(k AS VARCHAR) || 'cr2'), 1, 15))
      |      AS BIGINT) % 100 < 40 AS s2
      |   FROM k)
      |SELECT CAST(count(*) AS BIGINT) AS n_true,
      |  CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |  CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |  CAST(sum(CASE WHEN s1 AND s2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS overlap,
      |  round(CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) + 1 AS DOUBLE) *
      |    (sum(CASE WHEN s2 THEN 1 ELSE 0 END) + 1) /
      |    (sum(CASE WHEN s1 AND s2 THEN 1 ELSE 0 END) + 1) - 1.0, 4)
      |    AS n_hat
      |FROM f""".stripMargin))

  /** [[Privacy.erasureAudit]]: orders audited against a derived
    * customer erasure list — the compliance gate readout (non-zero on
    * purpose here: the fixture has no deletion pass, so the report
    * shows the exact damage an unexecuted erasure would leave). */
  private val q280 = QDef("q280_erasure_audit",
    (s, dir) => Privacy.erasureAudit(
      T(s, dir, "orders"), col("o_custkey"),
      T(s, dir, "customer").where(col("c_custkey") % 97 === 0),
      col("c_custkey")),
    Some("""WITH ts AS (SELECT DISTINCT c_custkey AS tk FROM customer
      |      WHERE c_custkey IS NOT NULL AND c_custkey % 97 = 0),
      |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_tombstoned FROM ts),
      |j AS (SELECT o_custkey AS k, tk FROM orders
      |      LEFT JOIN ts ON o_custkey = tk WHERE o_custkey IS NOT NULL),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |        CAST(sum(CASE WHEN tk IS NOT NULL THEN 1 ELSE 0 END)
      |          AS BIGINT) AS n_lingering_rows,
      |        CAST(count(DISTINCT CASE WHEN tk IS NOT NULL THEN k END)
      |          AS BIGINT) AS n_lingering_keys
      |      FROM j)
      |SELECT n_tombstoned, n_lingering_keys, n_lingering_rows, n_rows,
      |  round(CAST(n_lingering_rows AS DOUBLE) /
      |    nullif(CAST(n_rows AS DOUBLE), 0.0), 4) AS lingering_share
      |FROM a CROSS JOIN nt""".stripMargin))

  /** [[LanguageModel.naiveBayesMargins]]: label-confidence histogram —
    * 5-nat margin buckets between the top two NB class scores per
    * true language. */
  private val q281 = QDef("q281_nb_margins",
    (s, dir) => LanguageModel.naiveBayesMargins(
      T(s, dir, "documents"), col("doc_id"), col("text"), col("lang")),
    Some("""WITH docs AS (SELECT doc_id, lang AS cls, text FROM documents
      |      WHERE doc_id IS NOT NULL AND lang IS NOT NULL
      |        AND text IS NOT NULL),
      |tok AS (SELECT doc_id, cls, unnest(string_split(text, ' ')) AS term
      |       FROM docs),
      |dtc AS (SELECT doc_id, cls, term, CAST(count(*) AS BIGINT) AS cnt
      |       FROM tok GROUP BY 1, 2, 3),
      |md AS (SELECT cls AS mcls, term, CAST(count(*) AS BIGINT) AS c
      |       FROM tok GROUP BY 1, 2),
      |nc AS (SELECT mcls, CAST(sum(c) AS BIGINT) AS ncls FROM md
      |       GROUP BY 1),
      |vb AS (SELECT DISTINCT term FROM tok),
      |vv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vb),
      |pr AS (SELECT cls AS pcls, CAST(count(*) AS BIGINT) AS nd FROM docs
      |       GROUP BY 1),
      |nt AS (SELECT CAST(count(*) AS BIGINT) AS ndocs FROM docs),
      |mat AS (SELECT vb.term AS term, nc.mcls AS cand,
      |         CAST(round(ln(CAST(coalesce(c, 0) + 1 AS DOUBLE) /
      |           (ncls + v)) * 1000000.0, 0) AS BIGINT) AS lp6
      |        FROM vb CROSS JOIN nc CROSS JOIN vv
      |        LEFT JOIN md ON md.term = vb.term AND md.mcls = nc.mcls),
      |sc AS (SELECT d.doc_id AS doc_id, d.cls AS true_cls, m.cand AS cand,
      |         CAST(sum(cnt * lp6) AS BIGINT) AS s6
      |       FROM dtc d JOIN mat m ON d.term = m.term GROUP BY 1, 2, 3),
      |sp AS (SELECT doc_id, true_cls, cand,
      |         s6 + CAST(round(ln(CAST(nd AS DOUBLE) / ndocs)
      |           * 1000000.0, 0) AS BIGINT) AS sc6
      |       FROM sc JOIN pr ON pr.pcls = sc.cand CROSS JOIN nt),
      |rk AS (SELECT doc_id, true_cls, sc6,
      |         row_number() OVER (PARTITION BY doc_id
      |           ORDER BY sc6 DESC, cand) AS rn FROM sp),
      |t2 AS (SELECT doc_id, true_cls,
      |        max(CASE WHEN rn = 1 THEN sc6 END) AS s1,
      |        max(CASE WHEN rn = 2 THEN sc6 END) AS s2
      |      FROM rk WHERE rn <= 2 GROUP BY 1, 2),
      |bk AS (SELECT true_cls, least((s1 - s2) // 5000000, 5) AS bucket
      |      FROM t2 WHERE s2 IS NOT NULL),
      |tl AS (SELECT true_cls AS tcls, CAST(count(*) AS BIGINT) AS n_lang
      |       FROM bk GROUP BY 1),
      |ag AS (SELECT true_cls, bucket, CAST(count(*) AS BIGINT) AS n_docs
      |       FROM bk GROUP BY 1, 2)
      |SELECT true_cls AS lang, CAST(bucket AS BIGINT) AS bucket, n_docs,
      |  CAST((2 * CAST(n_docs AS HUGEINT) * 10000 + n_lang) //
      |    (2 * n_lang) AS DOUBLE) / 10000.0 AS share
      |FROM ag JOIN tl ON ag.true_cls = tl.tcls
      |ORDER BY lang, bucket""".stripMargin))

  /** Segmented (piecewise-linear) daily-revenue trend: [[Trend.ridge2]]
    * at λ = 0 on the hinge basis (x, max(0, x−knot)) — β₂ is the slope
    * CHANGE at the 1995-01-01 knot, the intercept is the level there. */
  private val q282 = QDef("q282_segmented_trend",
    (s, dir) => {
      val daily = T(s, dir, "orders").where(col("o_orderdate").isNotNull)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(expr("CAST(round(o_totalprice / 1000.0, 0) AS BIGINT)"))
          .as("y"))
        .select(datediff(col("day"), to_date(lit("1995-01-01")))
          .cast("long").as("x1"), col("y"))
        .select(col("x1"), greatest(lit(0L), col("x1")).as("x2"), col("y"))
      Trend.ridge2(daily, col("x1"), col("x2"), col("y"), lambda = 0.0)
    },
    Some("""WITH dd AS (SELECT CAST(o_orderdate AS DATE) AS day,
      |        CAST(sum(CAST(round(o_totalprice / 1000.0, 0) AS BIGINT))
      |          AS BIGINT) AS y
      |      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
      |d AS (SELECT x1, greatest(CAST(0 AS BIGINT), x1) AS x2, y FROM (
      |        SELECT CAST(date_diff('day', DATE '1995-01-01', day)
      |          AS BIGINT) AS x1, y FROM dd)),
      |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
      |        CAST(sum(y) AS BIGINT) AS sy,
      |        CAST(sum(x1 * x1) AS BIGINT) AS s11,
      |        CAST(sum(x2 * x2) AS BIGINT) AS s22,
      |        CAST(sum(x1 * x2) AS BIGINT) AS s12,
      |        CAST(sum(x1 * y) AS BIGINT) AS s1y,
      |        CAST(sum(x2 * y) AS BIGINT) AS s2y FROM d),
      |m AS (SELECT n, s1, s2, sy,
      |        CAST(n * s11 - s1 * s1 AS DOUBLE) + 0.0 AS a,
      |        CAST(n * s12 - s1 * s2 AS DOUBLE) AS b,
      |        CAST(n * s22 - s2 * s2 AS DOUBLE) + 0.0 AS c,
      |        CAST(n * s1y - s1 * sy AS DOUBLE) AS e,
      |        CAST(n * s2y - s2 * sy AS DOUBLE) AS f FROM s),
      |v AS (SELECT n, s1, s2, sy, c * e - b * f AS num1,
      |        a * f - b * e AS num2,
      |        nullif(a * c - b * b, 0.0) AS det FROM m)
      |SELECT n, round(num1 / det, 4) AS beta1,
      |  round(num2 / det, 4) AS beta2,
      |  round(CAST(sy AS DOUBLE) / n -
      |    num1 / det * (CAST(s1 AS DOUBLE) / n) -
      |    num2 / det * (CAST(s2 AS DOUBLE) / n), 4) AS intercept
      |FROM v""".stripMargin))

  /** [[Cooccur.assocRules]]: directional co-purchase rules with
    * support/confidence/lift, top-30 by confidence. */
  private val q283 = QDef("q283_assoc_rules",
    (s, dir) => Cooccur.assocRules(T(s, dir, "lineitem"),
      col("l_orderkey"), col("l_partkey"), minSupport = 2L, k = 30),
    Some("""WITH li AS (SELECT l_orderkey AS b, l_partkey AS it
      |      FROM lineitem
      |      WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
      |db AS (SELECT DISTINCT b, it FROM li),
      |nb AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n
      |       FROM lineitem WHERE l_orderkey IS NOT NULL),
      |mg AS (SELECT it, CAST(count(*) AS BIGINT) AS c FROM db GROUP BY 1),
      |pr AS (SELECT a.it AS ia, b2.it AS ib, CAST(count(*) AS BIGINT)
      |          AS c_ab
      |      FROM db a JOIN db b2 ON a.b = b2.b AND a.it < b2.it
      |      GROUP BY 1, 2),
      |q AS (SELECT ia, ib, c_ab FROM pr WHERE c_ab >= 2),
      |bo AS (SELECT ia AS ante, ib AS cons, c_ab FROM q
      |      UNION ALL SELECT ib AS ante, ia AS cons, c_ab FROM q),
      |r AS (SELECT ante, cons, c_ab AS n_pair,
      |        CAST((2 * CAST(c_ab AS HUGEINT) * 10000 + n) // (2 * n)
      |          AS DOUBLE) / 10000.0 AS support,
      |        CAST((2 * CAST(c_ab AS HUGEINT) * 10000 + ca.c) //
      |          (2 * ca.c) AS DOUBLE) / 10000.0 AS confidence,
      |        CAST((2 * CAST(c_ab * n AS HUGEINT) * 10000 + ca.c * cc.c) //
      |          (2 * ca.c * cc.c) AS DOUBLE) / 10000.0 AS lift
      |      FROM bo JOIN mg ca ON ca.it = bo.ante
      |      JOIN mg cc ON cc.it = bo.cons
      |      CROSS JOIN nb)
      |SELECT ante AS antecedent, cons AS consequent, n_pair, support,
      |  confidence, lift
      |FROM r ORDER BY confidence DESC, antecedent, consequent
      |LIMIT 30""".stripMargin))

  /** [[Graph.dagLayers]]: dependency depth of the degree-ordered
    * co-purchase DAG — four unrolled max-propagation rounds, levels
    * capped at 4 by the stated bounded-iteration contract. */
  private val q284 = QDef("q284_dag_layers",
    (s, dir) => Graph.dagLayers(copurchasePairs(s, dir),
      col("u"), col("v"), rounds = 4),
    Some(s"""WITH ${StatQueries.copurchaseCtes},
      |deg AS (SELECT vert, CAST(count(*) AS BIGINT) AS d
      |        FROM (SELECT u AS vert FROM e UNION ALL SELECT v FROM e)
      |        GROUP BY 1),
      |o AS (SELECT CASE WHEN row(du.d, u) < row(dv.d, v) THEN u ELSE v END
      |          AS s,
      |        CASE WHEN row(du.d, u) < row(dv.d, v) THEN v ELSE u END AS t
      |      FROM e JOIN deg du ON du.vert = u JOIN deg dv ON dv.vert = v),
      |l0 AS (SELECT vert, CAST(0 AS BIGINT) AS lv FROM deg),
      |p1 AS (SELECT t AS vert, CAST(max(lv + 1) AS BIGINT) AS plv
      |       FROM o JOIN l0 ON o.s = l0.vert GROUP BY 1),
      |l1 AS (SELECT l0.vert AS vert, greatest(l0.lv, coalesce(plv, 0))
      |          AS lv
      |       FROM l0 LEFT JOIN p1 ON l0.vert = p1.vert),
      |p2 AS (SELECT t AS vert, CAST(max(lv + 1) AS BIGINT) AS plv
      |       FROM o JOIN l1 ON o.s = l1.vert GROUP BY 1),
      |l2 AS (SELECT l1.vert AS vert, greatest(l1.lv, coalesce(plv, 0))
      |          AS lv
      |       FROM l1 LEFT JOIN p2 ON l1.vert = p2.vert),
      |p3 AS (SELECT t AS vert, CAST(max(lv + 1) AS BIGINT) AS plv
      |       FROM o JOIN l2 ON o.s = l2.vert GROUP BY 1),
      |l3 AS (SELECT l2.vert AS vert, greatest(l2.lv, coalesce(plv, 0))
      |          AS lv
      |       FROM l2 LEFT JOIN p3 ON l2.vert = p3.vert),
      |p4 AS (SELECT t AS vert, CAST(max(lv + 1) AS BIGINT) AS plv
      |       FROM o JOIN l3 ON o.s = l3.vert GROUP BY 1),
      |l4 AS (SELECT l3.vert AS vert, greatest(l3.lv, coalesce(plv, 0))
      |          AS lv
      |       FROM l3 LEFT JOIN p4 ON l3.vert = p4.vert)
      |SELECT lv AS level, CAST(count(*) AS BIGINT) AS n_vertices
      |FROM l4 GROUP BY 1 ORDER BY 1""".stripMargin))

  /** [[Dedup.weightedJaccardPairs]]: repetition-aware multiset Jaccard
    * near-dups — exact integer Σmin/Σmax on token frequencies, one
    * sparse-vector merge per same-block doc pair. The oracle spells the
    * definition directly: Σmin over shared (block, term) postings, over
    * the per-id totals. */
  private val wjOracle = """WITH tok AS (SELECT id, blk, term, CAST(count(*) AS BIGINT)
      |          AS tf
      |      FROM (SELECT doc_id AS id, source AS blk,
      |              unnest(string_split(text, ' ')) AS term
      |            FROM documents
      |            WHERE doc_id IS NOT NULL AND source IS NOT NULL)
      |      GROUP BY 1, 2, 3),
      |tt AS (SELECT id, CAST(sum(tf) AS BIGINT) AS tt FROM tok
      |       GROUP BY 1),
      |mn AS (SELECT a.id AS id_a, b.id AS id_b,
      |        CAST(sum(least(a.tf, b.tf)) AS BIGINT) AS smin
      |      FROM tok a JOIN tok b ON a.blk = b.blk AND a.term = b.term
      |        AND a.id < b.id
      |      GROUP BY 1, 2),
      |j AS (SELECT id_a, id_b, smin, ta.tt + tb.tt - smin AS wden,
      |        CAST(smin AS DOUBLE) / (ta.tt + tb.tt - smin) AS wj
      |      FROM mn JOIN tt ta ON ta.id = mn.id_a
      |      JOIN tt tb ON tb.id = mn.id_b)
      |SELECT id_a, id_b,
      |  CAST((2 * CAST(smin AS HUGEINT) * 10000 + wden) // (2 * wden)
      |    AS DOUBLE) / 10000.0 AS wjaccard
      |FROM j WHERE wj >= 0.6
      |ORDER BY id_a, id_b""".stripMargin

  private val q285 = QDef("q285_weighted_jaccard",
    (s, dir) => Dedup.weightedJaccardPairs(T(s, dir, "documents"),
        col("text"), col("doc_id"), col("source"), minW = 0.6)
      .withColumn("wjaccard", round(col("wjaccard"), 4))
      .orderBy("id_a", "id_b"),
    Some(wjOracle))

  /** [[Dedup.weightedJaccardPairsBanded]]: the q285 scale twin (the
    * q60/q61 convention) — prefix-filter candidates over rare-first
    * (block, term) postings instead of every same-block doc pair, exact
    * verify, SAME oracle: the driver's gate pins bit-identical output. */
  private val q305 = QDef("q305_weighted_jaccard_banded",
    (s, dir) => Dedup.weightedJaccardPairsBanded(T(s, dir, "documents"),
        col("text"), col("doc_id"), col("source"), minW = 0.6)
      .withColumn("wjaccard", round(col("wjaccard"), 4))
      .orderBy("id_a", "id_b"),
    Some(wjOracle))

  /** [[RankEval.calibrationError]]: ECE/MCE of a pseudo-probability
    * (price-cents mod 10⁴) against returns — the q193 bins summarized
    * to the two gate numbers. */
  private val q286 = QDef("q286_calibration_error",
    (s, dir) => RankEval.calibrationError(
      T(s, dir, "lineitem")
        .where(col("l_extendedprice").isNotNull &&
          col("l_returnflag").isNotNull),
      expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT) % 10000"),
      when(col("l_returnflag") === "R", 1L).otherwise(0L),
      (col("l_orderkey") * 10 + col("l_linenumber")),
      bins = 10, scoreScale = 10000L),
    Some("""WITH d AS (SELECT
      |        CAST(round(l_extendedprice * 100, 0) AS BIGINT) % 10000 AS s,
      |        CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
      |        l_orderkey * 10 + l_linenumber AS id
      |      FROM lineitem
      |      WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
      |        AND l_orderkey * 10 + l_linenumber IS NOT NULL),
      |b AS (SELECT ntile(10) OVER (ORDER BY s DESC, id) AS bin, s, y
      |      FROM d),
      |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(y) AS BIGINT) AS np, CAST(sum(s) AS BIGINT) AS ss
      |      FROM b GROUP BY 1),
      |t AS (SELECT n, CAST(round(abs(CAST(np AS DOUBLE) / n -
      |        CAST(ss AS DOUBLE) / (n * 10000)) * 1000000.0, 0) AS BIGINT)
      |        AS gap6 FROM g),
      |a AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
      |        CAST(count(*) AS BIGINT) AS n_bins,
      |        CAST(sum(n * gap6) AS BIGINT) AS wg6,
      |        CAST(max(gap6) AS BIGINT) AS mx6 FROM t)
      |SELECT nn AS n, n_bins,
      |  CAST((2 * CAST(wg6 AS HUGEINT) * 10000 + nullif(nn, 0) * 1000000)
      |    // (2 * nullif(nn, 0) * 1000000) AS DOUBLE) / 10000.0 AS ece,
      |  CAST((2 * CAST(mx6 AS HUGEINT) + 100) // 200 AS DOUBLE) / 10000.0
      |    AS mce
      |FROM a""".stripMargin))

  /** [[Sequences.entropyRate]]: nats-per-step unpredictability of the
    * session event chain under its stationary mass. */
  private val q287 = QDef("q287_entropy_rate",
    (s, dir) => Sequences.entropyRate(T(s, dir, "events"),
      col("user_id"), unix_micros(col("ts")), col("event_id"),
      col("event_type"), iters = 3),
    Some("""WITH ev AS (SELECT user_id AS k, epoch_us(ts) AS us,
      |        event_id AS tb, event_type AS s
      |      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |        AND event_type IS NOT NULL AND event_id IS NOT NULL),
      |p AS (SELECT s, lead(s) OVER (PARTITION BY k ORDER BY us, tb) AS nxt
      |      FROM ev),
      |c AS (SELECT s AS f, nxt AS t, CAST(count(*) AS BIGINT) AS n
      |      FROM p WHERE nxt IS NOT NULL GROUP BY 1, 2),
      |dg AS (SELECT DISTINCT t AS f, t AS t, CAST(1 AS BIGINT) AS n FROM c
      |       WHERE t NOT IN (SELECT f FROM c)),
      |ed AS (SELECT * FROM c UNION ALL SELECT * FROM dg),
      |rsx AS (SELECT f, CAST(sum(n) AS BIGINT) AS rs FROM ed GROUP BY 1),
      |e AS (SELECT ed.f AS f, ed.t AS t, ed.n AS n, rsx.rs AS rs
      |      FROM ed JOIN rsx ON ed.f = rsx.f),
      |p0 AS (SELECT DISTINCT f AS s, CAST(1000000 AS BIGINT) AS p6 FROM e),
      |p1 AS (SELECT e.t AS s, CAST(sum(CAST(round(CAST(p6 AS DOUBLE) * n
      |          / rs, 0) AS BIGINT)) AS BIGINT) AS p6
      |       FROM e JOIN p0 ON e.f = p0.s GROUP BY 1),
      |p2 AS (SELECT e.t AS s, CAST(sum(CAST(round(CAST(p6 AS DOUBLE) * n
      |          / rs, 0) AS BIGINT)) AS BIGINT) AS p6
      |       FROM e JOIN p1 ON e.f = p1.s GROUP BY 1),
      |p3 AS (SELECT e.t AS s, CAST(sum(CAST(round(CAST(p6 AS DOUBLE) * n
      |          / rs, 0) AS BIGINT)) AS BIGINT) AS p6
      |       FROM e JOIN p2 ON e.f = p2.s GROUP BY 1),
      |tt AS (SELECT CAST(sum(p6) AS BIGINT) AS t6,
      |        CAST(count(*) AS BIGINT) AS n_states FROM p3),
      |tm AS (SELECT n_states,
      |        CAST(round(CAST(p6 AS DOUBLE) / t6 * (CAST(n AS DOUBLE) / rs)
      |          * ln(CAST(n AS DOUBLE) / rs) * 1000000000.0, 0) AS BIGINT)
      |          AS t9
      |      FROM e JOIN p3 ON e.f = p3.s CROSS JOIN tt),
      |ag AS (SELECT n_states, CAST(sum(t9) AS BIGINT) AS h9 FROM tm
      |       GROUP BY 1)
      |SELECT n_states,
      |  CAST(CASE WHEN -h9 < 0
      |    THEN -((2 * CAST(h9 AS HUGEINT) + 100000) // 200000)
      |    ELSE (2 * CAST(-h9 AS HUGEINT) + 100000) // 200000 END
      |    AS DOUBLE) / 10000.0 AS entropy_rate
      |FROM ag""".stripMargin))

  /** [[Sketches.histogramQuantiles]]: mergeable 100-bin price sketch
    * with the exact percentile riding along — the honest approximate-
    * quantile story (bin-width-bounded error, validated in place). */
  private val q288 = QDef("q288_histogram_quantile",
    (s, dir) => Sketches.histogramQuantiles(
      T(s, dir, "lineitem").where(col("l_extendedprice").isNotNull)
        .select(expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)")
          .as("v")),
      col("v"), lo = 0L, hi = 11100000L, bins = 100,
      qs = Seq(0.5, 0.9, 0.99)),
    Some("""WITH d AS (SELECT CAST(round(l_extendedprice * 100, 0)
      |          AS BIGINT) AS v
      |      FROM lineitem WHERE l_extendedprice IS NOT NULL),
      |bn AS (SELECT least(CAST(floor(greatest((v - 0) * 100 / 11100000.0,
      |          0)) AS BIGINT), 99) AS b FROM d),
      |ct AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM bn GROUP BY 1),
      |cm AS (SELECT b, c, CAST(sum(c) OVER (ORDER BY b
      |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM ct),
      |c2 AS (SELECT b, c, cum, cum - c AS bef FROM cm),
      |tt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM ct),
      |ex AS (SELECT quantile_cont(v, 0.5) AS ex0,
      |        quantile_cont(v, 0.9) AS ex1,
      |        quantile_cont(v, 0.99) AS ex2 FROM d),
      |qq AS (SELECT unnest([0.5, 0.9, 0.99]) AS q),
      |pk AS (SELECT q, n, b, c, bef FROM qq CROSS JOIN tt JOIN c2
      |        ON CAST(cum AS DOUBLE) >= q * n
      |        AND CAST(bef AS DOUBLE) < q * n),
      |fin AS (SELECT q, n,
      |        round(0.0 + (CAST(b AS DOUBLE) + (q * n - bef) / c)
      |          * 111000.0, 4) AS estimate,
      |        round(CASE q WHEN 0.5 THEN ex0 WHEN 0.9 THEN ex1 ELSE ex2
      |          END, 4) AS exact
      |       FROM pk CROSS JOIN ex)
      |SELECT q AS quantile, n, estimate, exact,
      |  round(abs(estimate - exact), 4) AS abs_err
      |FROM fin ORDER BY quantile""".stripMargin))

  /** [[Dedup.blockingReport]]: candidate-pair budget and reduction
    * ratio of source-blocking on documents — the pre-flight dedup
    * go/no-go. */
  private val q289 = QDef("q289_blocking_report",
    (s, dir) => Dedup.blockingReport(T(s, dir, "documents"),
      col("doc_id"), col("source")),
    Some("""WITH d AS (SELECT doc_id, source FROM documents
      |      WHERE doc_id IS NOT NULL AND source IS NOT NULL),
      |b AS (SELECT source, CAST(count(*) AS BIGINT) AS b FROM d
      |      GROUP BY 1),
      |a AS (SELECT CAST(sum(b) AS BIGINT) AS n_docs,
      |        CAST(count(*) AS BIGINT) AS n_blocks,
      |        CAST(max(b) AS BIGINT) AS largest_block,
      |        CAST(sum(b * (b - 1)) AS BIGINT) AS pp2 FROM b)
      |SELECT n_docs, n_blocks, largest_block,
      |  pp2 // 2 AS n_candidate_pairs,
      |  round(1.0 - CAST(pp2 // 2 AS DOUBLE) /
      |    nullif(CAST(n_docs AS DOUBLE) * (n_docs - 1) / 2.0, 0.0), 4)
      |    AS reduction_ratio
      |FROM a""".stripMargin))

  /** [[Sequences.dwellTime]]: seconds the session spends in each event
    * state before moving on — exact µs gap sums. */
  private val q290 = QDef("q290_dwell_time",
    (s, dir) => Sequences.dwellTime(T(s, dir, "events"),
      col("user_id"), unix_micros(col("ts")), col("event_id"),
      col("event_type")),
    Some("""WITH e AS (SELECT user_id AS k, epoch_us(ts) AS us,
      |        event_id AS tb, event_type AS s
      |      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |        AND event_type IS NOT NULL AND event_id IS NOT NULL),
      |l AS (SELECT s, us, lead(us) OVER (PARTITION BY k ORDER BY us, tb)
      |          AS nus
      |      FROM e),
      |a AS (SELECT s AS state, CAST(count(*) AS BIGINT) AS n_intervals,
      |        CAST(sum(nus - us) AS BIGINT) AS dus
      |      FROM l WHERE nus IS NOT NULL GROUP BY 1)
      |SELECT state, n_intervals,
      |  CAST((2 * CAST(dus AS HUGEINT) + 100) // 200 AS DOUBLE) / 10000.0
      |    AS total_s,
      |  CAST((2 * CAST(dus AS HUGEINT) * 10000 + n_intervals * 1000000) //
      |    (2 * n_intervals * 1000000) AS DOUBLE) / 10000.0 AS mean_s
      |FROM a ORDER BY state""".stripMargin))

  /** [[Derive.priceIndex]]: matched-model Laspeyres/Paasche/Fisher
    * price indices, ship-year 1994 → 1995 — the macro companion to the
    * per-brand elasticity (q269). */
  private val q291 = QDef("q291_price_index",
    (s, dir) => Derive.priceIndex(
      T(s, dir, "lineitem")
        .where(col("l_partkey").isNotNull && col("l_shipdate").isNotNull &&
          col("l_extendedprice").isNotNull && col("l_quantity").isNotNull),
      col("l_partkey"), year(col("l_shipdate")),
      expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)"),
      col("l_quantity"), p0 = "1994", p1 = "1995"),
    Some("""WITH d AS (SELECT l_partkey AS it,
      |        CAST(year(l_shipdate) AS VARCHAR) AS p,
      |        CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c,
      |        CAST(l_quantity AS BIGINT) AS q
      |      FROM lineitem
      |      WHERE l_partkey IS NOT NULL AND l_shipdate IS NOT NULL
      |        AND l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
      |        AND CAST(l_quantity AS BIGINT) > 0),
      |pa AS (SELECT it, CAST(sum(c) AS BIGINT) AS c0,
      |        CAST(sum(q) AS BIGINT) AS q0 FROM d WHERE p = '1994'
      |       GROUP BY 1),
      |pb AS (SELECT it, CAST(sum(c) AS BIGINT) AS c1,
      |        CAST(sum(q) AS BIGINT) AS q1 FROM d WHERE p = '1995'
      |       GROUP BY 1),
      |j AS (SELECT pa.it AS it, c0, q0, c1, q1 FROM pa
      |      JOIN pb ON pa.it = pb.it),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
      |        CAST(sum(c0) AS BIGINT) AS sc0,
      |        CAST(sum(c1) AS BIGINT) AS sc1,
      |        CAST(sum(CAST(round(CAST(c1 AS DOUBLE) / q1 * q0 * 100.0, 0)
      |          AS BIGINT)) AS BIGINT) AS l2,
      |        CAST(sum(CAST(round(CAST(c0 AS DOUBLE) / q0 * q1 * 100.0, 0)
      |          AS BIGINT)) AS BIGINT) AS pd2
      |      FROM j)
      |SELECT n_items,
      |  round(CAST(l2 AS DOUBLE) / 100.0 /
      |    nullif(CAST(sc0 AS DOUBLE), 0.0), 4) AS laspeyres,
      |  round(CAST(sc1 AS DOUBLE) /
      |    nullif(CAST(pd2 AS DOUBLE) / 100.0, 0.0), 4) AS paasche,
      |  round(sqrt((CAST(l2 AS DOUBLE) / 100.0 /
      |    nullif(CAST(sc0 AS DOUBLE), 0.0)) * (CAST(sc1 AS DOUBLE) /
      |    nullif(CAST(pd2 AS DOUBLE) / 100.0, 0.0))), 4) AS fisher
      |FROM a""".stripMargin))

  /** [[Timeseries.controlChartI]]: is daily order volume a stable
    * process — I-MR limits and breach count. */
  private val q292 = QDef("q292_control_chart",
    (s, dir) => Timeseries.controlChartI(
      T(s, dir, "orders").where(col("o_orderdate").isNotNull)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("x")),
      col("day"), col("x")),
    Some("""WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
      |        CAST(count(*) AS BIGINT) AS x
      |      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
      |mr AS (SELECT CAST(count(*) AS BIGINT) AS nmr,
      |        CAST(sum(abs(x - prev)) AS BIGINT) AS smr
      |      FROM (SELECT x, lag(x) OVER (ORDER BY day) AS prev FROM d)
      |      WHERE prev IS NOT NULL),
      |b AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(x) AS BIGINT) AS s FROM d),
      |lm AS (SELECT n, nmr, CAST(s AS DOUBLE) / n AS mu,
      |        CAST(smr AS DOUBLE) / nullif(CAST(nmr AS DOUBLE), 0.0)
      |          AS mrbar
      |      FROM b CROSS JOIN mr),
      |l2 AS (SELECT n, nmr, mu, mrbar, mu + 2.66 * mrbar AS ucl,
      |        mu - 2.66 * mrbar AS lcl FROM lm),
      |vi AS (SELECT n, ucl, lcl,
      |        CAST(sum(CASE WHEN CAST(x AS DOUBLE) > ucl
      |          OR CAST(x AS DOUBLE) < lcl THEN 1 ELSE 0 END) AS BIGINT)
      |          AS n_violations
      |      FROM d CROSS JOIN l2 GROUP BY 1, 2, 3),
      |fx AS (SELECT vi.n AS n, n_violations, s, smr, nmr,
      |        100 * CAST(s AS HUGEINT) * nmr + 266 * CAST(smr AS HUGEINT)
      |          * vi.n AS unum,
      |        100 * CAST(s AS HUGEINT) * nmr - 266 * CAST(smr AS HUGEINT)
      |          * vi.n AS lnum,
      |        nullif(100 * CAST(vi.n AS HUGEINT) * nmr, 0) AS lden
      |      FROM vi CROSS JOIN b CROSS JOIN mr)
      |SELECT n AS n_days,
      |  CAST((2 * CAST(s AS HUGEINT) * 10000 + n) // (2 * n) AS DOUBLE)
      |    / 10000.0 AS mean,
      |  CAST((2 * CAST(smr AS HUGEINT) * 10000 + nullif(nmr, 0)) //
      |    (2 * nullif(nmr, 0)) AS DOUBLE) / 10000.0 AS mr_bar,
      |  CAST(CASE WHEN unum < 0
      |    THEN -((2 * (-unum) * 10000 + lden) // (2 * lden))
      |    ELSE (2 * unum * 10000 + lden) // (2 * lden) END AS DOUBLE)
      |    / 10000.0 AS ucl,
      |  CAST(CASE WHEN lnum < 0
      |    THEN -((2 * (-lnum) * 10000 + lden) // (2 * lden))
      |    ELSE (2 * lnum * 10000 + lden) // (2 * lden) END AS DOUBLE)
      |    / 10000.0 AS lcl,
      |  n_violations
      |FROM fx""".stripMargin))

  /** [[LanguageModel.termBurstiness]]: Church-Gale bursty terms — the
    * stopword-free content-word detector, top-30 by Fano factor. */
  private val q293 = QDef("q293_term_burstiness",
    (s, dir) => LanguageModel.termBurstiness(T(s, dir, "documents"),
      col("doc_id"), col("text"), minDf = 5L, k = 30),
    Some("""WITH docs AS (SELECT doc_id, text FROM documents
      |      WHERE doc_id IS NOT NULL),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM docs),
      |dt AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
      |        SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |        FROM docs)
      |      GROUP BY 1, 2),
      |ag AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
      |        CAST(sum(tf) AS BIGINT) AS s,
      |        CAST(sum(tf * tf) AS BIGINT) AS ss
      |      FROM dt GROUP BY 1)
      |SELECT term, df, s AS n_occurrences,
      |  CAST((2 * CAST(nn * ss - s * s AS HUGEINT) * 10000 +
      |    nullif(nn * s, 0)) // (2 * nullif(nn * s, 0)) AS DOUBLE)
      |    / 10000.0 AS fano
      |FROM ag CROSS JOIN nn WHERE df >= 5
      |ORDER BY fano DESC, term LIMIT 30""".stripMargin))

  /** [[Inference.medianPolish]]: robust nation × segment balance
    * decomposition — quadruple-scale integer medians through one full
    * sweep, residuals marking real interactions. */
  private val q294 = QDef("q294_median_polish",
    (s, dir) => Inference.medianPolish(
      T(s, dir, "customer")
        .join(T(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey")),
      col("n_name"), col("c_mktsegment"),
      expr("CAST(round(c_acctbal, 0) AS BIGINT)")),
    Some("""WITH d AS (SELECT n_name AS r, c_mktsegment AS c,
      |        CAST(round(c_acctbal, 0) AS BIGINT) AS v
      |      FROM customer JOIN nation ON c_nationkey = n_nationkey
      |      WHERE n_name IS NOT NULL AND c_mktsegment IS NOT NULL
      |        AND c_acctbal IS NOT NULL),
      |ce AS (SELECT r, c, CAST(round(quantile_cont(v * 4, 0.5), 0)
      |          AS BIGINT) AS m4 FROM d GROUP BY 1, 2),
      |rm AS (SELECT r, CAST(round(quantile_cont(m4, 0.5), 0) AS BIGINT)
      |          AS rm4 FROM ce GROUP BY 1),
      |r1 AS (SELECT ce.r AS r, c, m4 - rm4 AS res4 FROM ce JOIN rm
      |      ON ce.r = rm.r),
      |cm AS (SELECT c, CAST(round(quantile_cont(res4, 0.5), 0) AS BIGINT)
      |          AS cm4 FROM r1 GROUP BY 1)
      |SELECT r1.r AS r, r1.c AS c,
      |  round(CAST(res4 - cm4 AS DOUBLE) / 4.0, 4) AS residual
      |FROM r1 JOIN cm ON r1.c = cm.c ORDER BY r, c""".stripMargin))

  /** [[Curate.crawlDecay]]: structural quality by crawl-order decile —
    * where to truncate the ingest. */
  private val q295 = QDef("q295_crawl_decay",
    (s, dir) => Curate.crawlDecay(T(s, dir, "documents"),
      col("doc_id"), col("text"), bands = 10),
    Some("""WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS nt,
      |        len(list_distinct(string_split(text, ' '))) AS nd
      |      FROM documents WHERE doc_id IS NOT NULL),
      |f AS (SELECT CAST(nt AS BIGINT) AS nt,
      |        CAST(round(CAST(nd AS DOUBLE) / nt * 1000000.0, 0) AS BIGINT)
      |          AS ttr6,
      |        ntile(10) OVER (ORDER BY doc_id) AS band
      |      FROM d WHERE nt > 0),
      |a AS (SELECT CAST(band AS BIGINT) AS band,
      |        CAST(count(*) AS BIGINT) AS n_docs,
      |        CAST(sum(nt) AS BIGINT) AS st,
      |        CAST(sum(ttr6) AS BIGINT) AS sttr
      |      FROM f GROUP BY 1)
      |SELECT band, n_docs,
      |  CAST((2 * CAST(st AS HUGEINT) * 10000 + n_docs) // (2 * n_docs)
      |    AS DOUBLE) / 10000.0 AS mean_tokens,
      |  CAST((2 * CAST(sttr AS HUGEINT) * 10000 + n_docs * 1000000) //
      |    (2 * n_docs * 1000000) AS DOUBLE) / 10000.0 AS mean_ttr
      |FROM a ORDER BY band""".stripMargin))

  /** [[Inference.wilsonCi]]: finished-order rate per priority with the
    * small-n-honest Wilson 95% interval. */
  private val q296 = QDef("q296_wilson_ci",
    (s, dir) => Inference.wilsonCi(
      T(s, dir, "orders")
        .where(col("o_orderpriority").isNotNull &&
          col("o_orderstatus").isNotNull),
      col("o_orderpriority"),
      when(col("o_orderstatus") === "F", 1L).otherwise(0L)),
    Some("""WITH d AS (SELECT o_orderpriority AS g,
      |        CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      |      FROM orders
      |      WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL),
      |a AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(y) AS BIGINT) AS k FROM d GROUP BY 1),
      |w AS (SELECT g, n, k, CAST(k AS DOUBLE) / n AS p,
      |        CAST(n AS DOUBLE) AS nd FROM a)
      |SELECT g, n, k,
      |  CAST((2 * CAST(k AS HUGEINT) * 10000 + n) // (2 * n) AS DOUBLE)
      |    / 10000.0 AS rate,
      |  round((p + 1.96 * 1.96 / (2.0 * nd)) / (1.0 + 1.96 * 1.96 / nd) -
      |    (1.96 * sqrt(p * (1.0 - p) / nd +
      |      1.96 * 1.96 / (4.0 * nd * nd))) / (1.0 + 1.96 * 1.96 / nd), 4)
      |    AS ci_lo,
      |  round((p + 1.96 * 1.96 / (2.0 * nd)) / (1.0 + 1.96 * 1.96 / nd) +
      |    (1.96 * sqrt(p * (1.0 - p) / nd +
      |      1.96 * 1.96 / (4.0 * nd * nd))) / (1.0 + 1.96 * 1.96 / nd), 4)
      |    AS ci_hi
      |FROM w ORDER BY g""".stripMargin))

  /** [[Inference.oddsRatioCi]]: deep-discount × returns odds ratio with
    * the Woolf logit 95% CI — the unstratified companion to q254. */
  private val q297 = QDef("q297_odds_ratio_ci",
    (s, dir) => Inference.oddsRatioCi(
      T(s, dir, "lineitem")
        .where(col("l_discount").isNotNull && col("l_returnflag").isNotNull),
      col("l_discount") > 0.05, col("l_returnflag") === "R"),
    Some("""WITH d AS (SELECT l_discount > 0.05 AS e, l_returnflag = 'R'
      |          AS o
      |      FROM lineitem
      |      WHERE l_discount IS NOT NULL AND l_returnflag IS NOT NULL),
      |ct AS (SELECT
      |   CAST(sum(CASE WHEN e AND o THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |   CAST(sum(CASE WHEN e AND NOT o THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |   CAST(sum(CASE WHEN NOT e AND o THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |   CAST(sum(CASE WHEN NOT e AND NOT o THEN 1 ELSE 0 END) AS BIGINT)
      |     AS dd
      |  FROM d)
      |SELECT a, b, c, dd AS d,
      |  CASE WHEN a > 0 AND b > 0 AND c > 0 AND dd > 0 THEN
      |    round(exp(ln(CAST(a AS DOUBLE) * dd / (CAST(b AS DOUBLE) * c))),
      |      4) END AS odds_ratio,
      |  CASE WHEN a > 0 AND b > 0 AND c > 0 AND dd > 0 THEN
      |    round(exp(ln(CAST(a AS DOUBLE) * dd / (CAST(b AS DOUBLE) * c)) -
      |      1.96 * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / dd)), 4)
      |  END AS ci_lo,
      |  CASE WHEN a > 0 AND b > 0 AND c > 0 AND dd > 0 THEN
      |    round(exp(ln(CAST(a AS DOUBLE) * dd / (CAST(b AS DOUBLE) * c)) +
      |      1.96 * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / dd)), 4)
      |  END AS ci_hi
      |FROM ct""".stripMargin))

  /** [[Timeseries.seasonalIndexDow]]: weekday revenue seasonality via
    * ratio-to-centered-7-day-MA. */
  private val q298 = QDef("q298_seasonal_index",
    (s, dir) => Timeseries.seasonalIndexDow(
      T(s, dir, "orders").where(col("o_orderdate").isNotNull)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(expr("CAST(round(o_totalprice / 1000.0, 0) AS BIGINT)"))
          .as("x")),
      col("day"), col("x")),
    Some("""WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
      |        CAST(sum(CAST(round(o_totalprice / 1000.0, 0) AS BIGINT))
      |          AS BIGINT) AS x
      |      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
      |w AS (SELECT day, x,
      |        CAST(sum(x) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND
      |          3 FOLLOWING) AS BIGINT) AS ws,
      |        CAST(count(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
      |          AND 3 FOLLOWING) AS BIGINT) AS wc
      |      FROM d),
      |r AS (SELECT CAST(isodow(day) AS BIGINT) AS dow,
      |        CAST(round(CAST(x AS DOUBLE) * 7 / ws * 1000000.0, 0)
      |          AS BIGINT) AS r6
      |      FROM w WHERE wc = 7 AND ws > 0),
      |a AS (SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
      |        CAST(sum(r6) AS BIGINT) AS sr FROM r GROUP BY 1)
      |SELECT dow, n_days,
      |  CAST((2 * CAST(sr AS HUGEINT) * 10000 + n_days * 1000000) //
      |    (2 * n_days * 1000000) AS DOUBLE) / 10000.0 AS seasonal_index
      |FROM a ORDER BY dow""".stripMargin))

  /** [[Skew.hillTail]]: heavy-tail exponent of customer balances over
    * the top-100 order statistics. */
  private val q299 = QDef("q299_hill_tail",
    (s, dir) => Skew.hillTail(
      T(s, dir, "customer")
        .where(col("c_acctbal").isNotNull && col("c_custkey").isNotNull)
        .select(expr("CAST(round(c_acctbal, 0) AS BIGINT)").as("v"),
          col("c_custkey").as("t")),
      col("v"), col("t"), k = 100),
    Some("""WITH d AS (SELECT CAST(round(c_acctbal, 0) AS BIGINT) AS x,
      |        c_custkey AS t
      |      FROM customer
      |      WHERE c_acctbal IS NOT NULL AND c_custkey IS NOT NULL
      |        AND CAST(round(c_acctbal, 0) AS BIGINT) > 0),
      |r AS (SELECT x, row_number() OVER (ORDER BY x DESC, t) AS rn FROM d),
      |xk AS (SELECT x AS xk FROM r WHERE rn = 100),
      |s AS (SELECT xk, CAST(count(*) AS BIGINT) AS km1,
      |        CAST(sum(CAST(round(ln(CAST(x AS DOUBLE) / xk)
      |          * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS sl6
      |      FROM r CROSS JOIN xk WHERE rn < 100 GROUP BY 1)
      |SELECT CAST(100 AS BIGINT) AS k, xk AS x_k,
      |  round(CAST(km1 AS DOUBLE) /
      |    nullif(CAST(sl6 AS DOUBLE) / 1000000.0, 0.0), 4) AS hill_alpha
      |FROM s""".stripMargin))

  /** [[Curate.corpusScorecard]]: the one-row curation dashboard header
    * — census, exact-dup rate, structural means, language entropy. */
  private val q300 = QDef("q300_corpus_scorecard",
    (s, dir) => Curate.corpusScorecard(T(s, dir, "documents"),
      col("doc_id"), col("text"), col("lang"), col("source")),
    Some("""WITH d AS (SELECT lang AS lg, source AS src, md5(text) AS h,
      |        len(string_split(text, ' ')) AS nt,
      |        len(list_distinct(string_split(text, ' '))) AS nd
      |      FROM documents
      |      WHERE doc_id IS NOT NULL AND text IS NOT NULL
      |        AND lang IS NOT NULL AND source IS NOT NULL),
      |b AS (SELECT * FROM d WHERE nt > 0),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |        CAST(count(DISTINCT src) AS BIGINT) AS n_sources,
      |        CAST(count(DISTINCT lg) AS BIGINT) AS n_langs,
      |        CAST(count(DISTINCT h) AS BIGINT) AS n_distinct,
      |        CAST(sum(nt) AS BIGINT) AS st,
      |        CAST(sum(CAST(round(CAST(nd AS DOUBLE) / nt * 1000000.0, 0)
      |          AS BIGINT)) AS BIGINT) AS sttr
      |      FROM b),
      |nnx AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM b),
      |lh AS (SELECT CAST(coalesce(sum(CAST(round(CAST(c AS DOUBLE) / nn *
      |        ln(CAST(c AS DOUBLE) / nn) * 1000000.0, 0) AS BIGINT)), 0)
      |        AS BIGINT) AS h6
      |      FROM (SELECT lg, CAST(count(*) AS BIGINT) AS c FROM b
      |            GROUP BY 1)
      |      CROSS JOIN nnx)
      |SELECT n_docs, n_sources, n_langs,
      |  CAST((2 * CAST(n_docs - n_distinct AS HUGEINT) * 10000 +
      |    nullif(n_docs, 0)) // (2 * nullif(n_docs, 0)) AS DOUBLE)
      |    / 10000.0 AS exact_dup_rate,
      |  CAST((2 * CAST(st AS HUGEINT) * 10000 + nullif(n_docs, 0)) //
      |    (2 * nullif(n_docs, 0)) AS DOUBLE) / 10000.0 AS mean_tokens,
      |  CAST((2 * CAST(sttr AS HUGEINT) * 10000 + nullif(n_docs, 0) *
      |    1000000) // (2 * nullif(n_docs, 0) * 1000000) AS DOUBLE)
      |    / 10000.0 AS mean_ttr,
      |  CAST(CASE WHEN -h6 < 0
      |    THEN -((2 * CAST(h6 AS HUGEINT) + 100) // 200)
      |    ELSE (2 * CAST(-h6 AS HUGEINT) + 100) // 200 END AS DOUBLE)
      |    / 10000.0 AS lang_shannon_h
      |FROM m CROSS JOIN lh""".stripMargin))

  /** [[LanguageModel.logOddsPrior]]: Monroe "fightin' words" — the
    * variance-normalized keyness that surfaces genuinely lopsided
    * mid-frequency terms G² under-ranks. */
  private val q301 = QDef("q301_log_odds_prior",
    (s, dir) => LanguageModel.logOddsPrior(
      T(s, dir, "documents")
        .where(col("lang").isNotNull && col("text").isNotNull),
      col("text"), col("lang") === "en", k = 25),
    Some("""WITH tok AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END
      |          AS tgt,
      |        unnest(string_split(text, ' ')) AS t
      |      FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL),
      |vb AS (SELECT t, CAST(sum(tgt) AS BIGINT) AS a,
      |        CAST(sum(1 - tgt) AS BIGINT) AS b FROM tok GROUP BY 1),
      |tt AS (SELECT CAST(sum(a) AS BIGINT) AS nt,
      |        CAST(sum(b) AS BIGINT) AS nr,
      |        CAST(count(*) AS BIGINT) AS v FROM vb),
      |g AS (SELECT t AS term, a, b,
      |        round((ln((a + 0.01) / (nt + 0.01 * v - (a + 0.01))) -
      |               ln((b + 0.01) / (nr + 0.01 * v - (b + 0.01)))) /
      |          sqrt(1.0 / (a + 0.01) + 1.0 / (b + 0.01)), 4)
      |          AS z_log_odds
      |      FROM vb CROSS JOIN tt)
      |SELECT term, a, b, z_log_odds FROM g
      |ORDER BY z_log_odds DESC, term LIMIT 25""".stripMargin))

  /** [[Drift.bhattacharyya]]: returned-vs-normal price density overlap
    * over 50 fixed bins — the coincidence view next to PSI/EMD. */
  private val q302 = QDef("q302_bhattacharyya",
    (s, dir) => Drift.bhattacharyya(
      T(s, dir, "lineitem").where(col("l_extendedprice").isNotNull),
      col("l_returnflag"),
      expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)"),
      a = "R", b = "N", lo = 0L, hi = 11100000L, bins = 50),
    Some("""WITH d AS (SELECT l_returnflag AS l,
      |        CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS v
      |      FROM lineitem
      |      WHERE l_returnflag IN ('R', 'N')
      |        AND l_extendedprice IS NOT NULL),
      |bn AS (SELECT l, least(CAST(floor(greatest((v - 0) * 50
      |          / 11100000.0, 0)) AS BIGINT), 49) AS b FROM d),
      |ct AS (SELECT b,
      |        CAST(sum(CASE WHEN l = 'R' THEN 1 ELSE 0 END) AS BIGINT)
      |          AS ca,
      |        CAST(sum(CASE WHEN l = 'N' THEN 1 ELSE 0 END) AS BIGINT)
      |          AS cb
      |      FROM bn GROUP BY 1),
      |tt AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
      |        CAST(sum(cb) AS BIGINT) AS nb FROM ct),
      |tm AS (SELECT na, nb,
      |        CAST(round(sqrt(CAST(ca AS DOUBLE) / na *
      |          (CAST(cb AS DOUBLE) / nb)) * 1000000000.0, 0) AS BIGINT)
      |          AS t9
      |      FROM ct CROSS JOIN tt),
      |ag AS (SELECT na, nb, CAST(sum(t9) AS BIGINT) AS bc9 FROM tm
      |       GROUP BY 1, 2)
      |SELECT na AS n_a, nb AS n_b,
      |  CAST((2 * CAST(bc9 AS HUGEINT) + 100000) // 200000 AS DOUBLE)
      |    / 10000.0 AS bc,
      |  round(-ln(nullif(CAST(bc9 AS DOUBLE) / 1000000000.0, 0.0)), 4)
      |    AS bhattacharyya_dist
      |FROM ag""".stripMargin))

  /** [[RankEval.partitionAgreement]]: do source blocks and language
    * labels cut the corpus the same way — ARI + purity both ways. */
  private val q303 = QDef("q303_partition_agreement",
    (s, dir) => RankEval.partitionAgreement(T(s, dir, "documents"),
      col("source"), col("lang")),
    Some("""WITH d AS (SELECT source AS u, lang AS v FROM documents
      |      WHERE source IS NOT NULL AND lang IS NOT NULL),
      |ce AS (SELECT u, v, CAST(count(*) AS BIGINT) AS nij FROM d
      |       GROUP BY 1, 2),
      |pj AS (SELECT CAST(sum(nij * (nij - 1) // 2) AS BIGINT) AS pij
      |       FROM ce),
      |ra AS (SELECT u, CAST(sum(nij) AS BIGINT) AS ai,
      |        CAST(max(nij) AS BIGINT) AS mi FROM ce GROUP BY 1),
      |cb AS (SELECT v, CAST(sum(nij) AS BIGINT) AS bj,
      |        CAST(max(nij) AS BIGINT) AS mj FROM ce GROUP BY 1),
      |pa AS (SELECT CAST(sum(ai * (ai - 1) // 2) AS BIGINT) AS pa,
      |        CAST(sum(mi) AS BIGINT) AS purn,
      |        CAST(count(*) AS BIGINT) AS ku FROM ra),
      |pb AS (SELECT CAST(sum(bj * (bj - 1) // 2) AS BIGINT) AS pb,
      |        CAST(sum(mj) AS BIGINT) AS ipurn,
      |        CAST(count(*) AS BIGINT) AS kv FROM cb),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
      |fx AS (SELECT n, ku, kv, purn, ipurn,
      |        2 * CAST(n * (n - 1) // 2 AS HUGEINT) * pij
      |          - 2 * CAST(pa AS HUGEINT) * pb AS anum,
      |        nullif(CAST(n * (n - 1) // 2 AS HUGEINT) * (pa + pb)
      |          - 2 * CAST(pa AS HUGEINT) * pb, 0) AS aden
      |      FROM pj CROSS JOIN pa CROSS JOIN pb CROSS JOIN nn)
      |SELECT n, ku AS k_u, kv AS k_v,
      |  CAST(CASE WHEN anum < 0
      |    THEN -((2 * (-anum) * 10000 + aden) // (2 * aden))
      |    ELSE (2 * anum * 10000 + aden) // (2 * aden) END AS DOUBLE)
      |    / 10000.0 AS ari,
      |  CAST((2 * CAST(purn AS HUGEINT) * 10000 + n) // (2 * n)
      |    AS DOUBLE) / 10000.0 AS purity,
      |  CAST((2 * CAST(ipurn AS HUGEINT) * 10000 + n) // (2 * n)
      |    AS DOUBLE) / 10000.0 AS inverse_purity
      |FROM fx""".stripMargin))

  /** [[RankEval.vMeasure]]: the entropy view of the same question —
    * homogeneity, completeness, and their harmonic mean. */
  private val q304 = QDef("q304_v_measure",
    (s, dir) => RankEval.vMeasure(T(s, dir, "documents"),
      col("source"), col("lang")),
    Some("""WITH d AS (SELECT source AS u, lang AS v FROM documents
      |      WHERE source IS NOT NULL AND lang IS NOT NULL),
      |ce AS (SELECT u, v, CAST(count(*) AS BIGINT) AS nij FROM d
      |       GROUP BY 1, 2),
      |ra AS (SELECT u, CAST(sum(nij) AS BIGINT) AS ai FROM ce GROUP BY 1),
      |cb AS (SELECT v, CAST(sum(nij) AS BIGINT) AS bj FROM ce GROUP BY 1),
      |nn AS (SELECT CAST(sum(nij) AS BIGINT) AS n FROM ce),
      |hu AS (SELECT CAST(coalesce(-sum(CAST(round(CAST(ai AS DOUBLE) / n *
      |        ln(CAST(ai AS DOUBLE) / n) * 1000000.0, 0) AS BIGINT)), 0)
      |        AS BIGINT) AS hu6 FROM ra CROSS JOIN nn),
      |hv AS (SELECT CAST(coalesce(-sum(CAST(round(CAST(bj AS DOUBLE) / n *
      |        ln(CAST(bj AS DOUBLE) / n) * 1000000.0, 0) AS BIGINT)), 0)
      |        AS BIGINT) AS hv6 FROM cb CROSS JOIN nn),
      |huv AS (SELECT CAST(coalesce(-sum(CAST(round(CAST(nij AS DOUBLE) / n
      |        * ln(CAST(nij AS DOUBLE) / bj) * 1000000.0, 0) AS BIGINT)),
      |        0) AS BIGINT) AS huv6
      |       FROM ce JOIN cb USING (v) CROSS JOIN nn),
      |hvu AS (SELECT CAST(coalesce(-sum(CAST(round(CAST(nij AS DOUBLE) / n
      |        * ln(CAST(nij AS DOUBLE) / ai) * 1000000.0, 0) AS BIGINT)),
      |        0) AS BIGINT) AS hvu6
      |       FROM ce JOIN ra USING (u) CROSS JOIN nn),
      |fx AS (SELECT
      |        CASE WHEN hu6 = 0 THEN CAST(1 AS HUGEINT)
      |          ELSE CAST(hu6 - huv6 AS HUGEINT) END AS hn,
      |        CASE WHEN hu6 = 0 THEN CAST(1 AS HUGEINT)
      |          ELSE CAST(hu6 AS HUGEINT) END AS hd,
      |        CASE WHEN hv6 = 0 THEN CAST(1 AS HUGEINT)
      |          ELSE CAST(hv6 - hvu6 AS HUGEINT) END AS cn,
      |        CASE WHEN hv6 = 0 THEN CAST(1 AS HUGEINT)
      |          ELSE CAST(hv6 AS HUGEINT) END AS cd
      |      FROM hu CROSS JOIN hv CROSS JOIN huv CROSS JOIN hvu)
      |SELECT
      |  CAST(CASE WHEN hn < 0
      |    THEN -((2 * (-hn) * 10000 + hd) // (2 * hd))
      |    ELSE (2 * hn * 10000 + hd) // (2 * hd) END AS DOUBLE) / 10000.0
      |    AS homogeneity,
      |  CAST(CASE WHEN cn < 0
      |    THEN -((2 * (-cn) * 10000 + cd) // (2 * cd))
      |    ELSE (2 * cn * 10000 + cd) // (2 * cd) END AS DOUBLE) / 10000.0
      |    AS completeness,
      |  CAST(CASE WHEN 2 * hn * cn < 0
      |    THEN -((2 * (-(2 * hn * cn)) * 10000 +
      |      nullif(hn * cd + cn * hd, 0)) //
      |      (2 * nullif(hn * cd + cn * hd, 0)))
      |    ELSE (2 * (2 * hn * cn) * 10000 + nullif(hn * cd + cn * hd, 0)) //
      |      (2 * nullif(hn * cd + cn * hd, 0)) END AS DOUBLE) / 10000.0
      |    AS v_measure
      |FROM fx""".stripMargin))

  def all: Seq[QDef] = Seq(q236, q237, q238, q239, q240, q241, q242, q243,
    q244, q245, q246, q247, q248, q249, q250, q251, q252, q253, q254, q255,
    q256, q257, q258, q259, q260, q261, q262, q263, q264, q265, q266, q267,
    q268, q269, q270, q271, q272, q273, q274, q275, q276, q277, q278, q279,
    q280, q281, q282, q283, q284, q285, q286, q287, q288, q289, q290, q291,
    q292, q293, q294, q295, q296, q297, q298, q299, q300, q301, q302, q303,
    q304, q305)
}
