package graft

import org.apache.spark.sql.functions._

class CleaningDeriveSpec extends SparkSpec {
  import spark.implicits._

  test("sentinel codes -> null; others untouched (N1)") {
    val df = Seq(1.0, -666666666.0, -999999999.0, 42.0).toDF("v")
    val got = rows(Cleaning.cleanMissing(df, Seq("v"))).map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got === Seq(Some(1.0), None, None, Some(42.0)))
  }

  test("fill and drop strategies (N2/N3)") {
    val df = Seq(1.0, -888888888.0).toDF("v")
    assert(rows(Cleaning.cleanMissing(df, Seq("v"), "fill", -1d)).map(_.getDouble(0)) === Seq(1.0, -1.0))
    assert(Cleaning.cleanMissing(df, Seq("v"), "drop").count() === 1)
    assertThrows[IllegalArgumentException](Cleaning.cleanMissing(df, Seq("v"), "bogus"))
  }

  test("rate: zero denominator -> null (nan), 0 (zero), Inf (inf) (E4)") {
    val df = Seq((10.0, 0.0), (10.0, 50.0)).toDF("num", "den")
    def vals(hz: String) = rows(df.select(Derive.rate(col("num"), col("den"), 100, hz)))
    val nan = vals("nan");  assert(nan.head.isNullAt(0) && nan(1).getDouble(0) === 20.0)
    val zero = vals("zero"); assert(zero.head.getDouble(0) === 0.0)
    val inf = vals("inf");  assert(inf.head.getDouble(0).isPosInfinity)
    assertThrows[IllegalArgumentException](Derive.rate(col("num"), col("den"), 100, "bogus"))
  }

  test("changeJoin is inner (drops one-period keys) and computes abs/pct (J2/E7)") {
    val t1 = Seq(("a", 100.0), ("b", 50.0)).toDF("k", "v")
    val t2 = Seq(("a", 150.0), ("c", 10.0)).toDF("k", "v")
    val got = rows(Derive.changeJoin(t1, t2, "k", "v"))
    assert(got.size === 1)
    val r = got.head
    assert(r.getString(0) === "a" && r.getDouble(3) === 50.0 && r.getDouble(4) === 50.0)
  }

  test("derivedDemographics only adds metrics whose source columns exist (E5)") {
    val df = Seq((100.0, 20.0)).toDF("total_population", "white_pop")
    val out = Derive.derivedDemographics(df)
    assert(out.columns.contains("pct_white") && !out.columns.contains("poverty_rate"))
    assert(rows(out.select("pct_white")).head.getDouble(0) === 20.0)
  }

  test("compositeIndex: weighted sum of min-max components (E10)") {
    val df = Seq((0.0, 10.0), (10.0, 0.0), (5.0, 5.0)).toDF("x", "y")
    val got = rows(Derive.compositeIndex(df, Map("x" -> 3d, "y" -> 1d))
      .select("composite_index")).map(_.getDouble(0))
    assert(got(0) === 0.25 && got(1) === 0.75 && got(2) === 0.5)
  }

  test("normalizations match hand-computed values (N5-N7)") {
    val df = Seq(1.0, 2.0, 3.0, 4.0).toDF("v")
    val mm = rows(Normalize.minMax(df, Seq("v")).select("v_norm")).map(_.getDouble(0))
    assert(mm === Seq(0.0, 1.0 / 3, 2.0 / 3, 1.0))
    // pandas std(ddof=1) of [1,2,3,4] = 1.2909944..., mean 2.5
    val z = rows(Normalize.zScore(df, Seq("v")).select("v_norm")).map(_.getDouble(0))
    assert(math.abs(z.head - (1.0 - 2.5) / 1.2909944487358056) < 1e-12)
    // median 2.5, IQR = 3.25 - 1.75 = 1.5 (linear interpolation)
    val r = rows(Normalize.robust(df, Seq("v")).select("v_norm")).map(_.getDouble(0))
    assert(math.abs(r.head - (1.0 - 2.5) / 1.5) < 1e-12)
  }

  test("SQL-registered native functions evaluate (graft_dot, graft_fingerprint)") {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
        "graft_fingerprint(split('a b c', ' ')) AS f").collect().head
    assert(r.getDouble(0) === 11.0)
    val viaColumn = rows(Seq("a b c").toDF("text")
      .select(TextAnalysis.fingerprint(col("text")))).head.getLong(0)
    assert(r.getLong(1) === viaColumn)
  }

  test("SQL-registered native functions evaluate (graft_max_run_count, graft_token_entropy)") {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_max_run_count(split('a a a b', ' ')) AS m, " +
        "graft_token_entropy(split('a a b c', ' ')) AS e").collect().head
    assert(r.getLong(0) === 3L)
    assert(r.getDouble(1) === 1.5)
  }

  test("graft_dot malformed input: unequal lengths and null elements yield NULL, like aggregate(zip_with)") {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    // composable reference spelling against the same inputs
    val q = """SELECT
      | graft_dot(array(1.0d, 2.0d), array(3.0d)) AS short_native,
      | aggregate(zip_with(array(1.0d, 2.0d), array(3.0d), (x, y) -> x * y),
      |   0.0d, (a, x) -> a + x) AS short_composed,
      | graft_dot(array(1.0d, cast(null as double)), array(3.0d, 4.0d)) AS nul_native,
      | aggregate(zip_with(array(1.0d, cast(null as double)), array(3.0d, 4.0d),
      |   (x, y) -> x * y), 0.0d, (a, x) -> a + x) AS nul_composed""".stripMargin
    val r = spark.sql(q).collect().head
    assert((0 to 3).forall(r.isNullAt), s"expected all NULL, got $r")
  }

  test("minMax of constant column -> null, not NaN (§7.4.1)") {
    val df = Seq(7.0, 7.0).toDF("v")
    assert(rows(Normalize.minMax(df, Seq("v")).select("v_norm")).forall(_.isNullAt(0)))
  }
}
