package graft

import org.apache.spark.sql.functions._
import graft.sources.CensusApi

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("parseApiResponse: header->schema, rename, numeric coercion (S5/P1/P2)") {
    val payload = Seq(
      Seq("B01003_001E", "NAME", "state"),
      Seq("1234", "Alabama", "01"),
      Seq("oops", "Alaska", "02"))
    val df = Pipeline.parseApiResponse(spark, payload, Map("B01003_001E" -> "total_population"))
    assert(df.columns.toSeq === Seq("total_population", "NAME", "state"))
    val got = rows(df.orderBy("state"))
    assert(got.head.getDouble(0) === 1234.0)
    assert(got(1).isNullAt(0)) // errors="coerce" -> null
  }

  test("withMoe expands *E codes to *M with _moe suffix (P5)") {
    val m = Pipeline.withMoe(Map("B01003_001E" -> "pop", "NAME" -> "name"))
    assert(m === Map("B01003_001E" -> "pop", "NAME" -> "name", "B01003_001M" -> "pop_moe"))
  }

  test("withGeoid builds from available geography columns (E1)") {
    val df = Seq(("06", "037")).toDF("state", "county")
    assert(rows(Pipeline.withGeoid(df).select("GEOID")).head.getString(0) === "06037")
  }

  test("batchUnion: failure tolerance + unionByName null-fill (U1/X1)") {
    val good1 = () => Seq((1, "a")).toDF("k", "x")
    val good2 = () => Seq((2, 9.9)).toDF("k", "y") // different columns
    val bad = () => throw new RuntimeException("source down")
    val out = Pipeline.batchUnion(Seq(good1, bad, good2))
    assert(out.count() === 2 && out.columns.toSet === Set("k", "x", "y"))
    assertThrows[IllegalArgumentException](Pipeline.batchUnion(Seq(bad)))
  }

  test("joinBoundaries keeps all data rows, null geometry for unmatched (J1)") {
    val data = Seq(("06037", 1.0), ("99999", 2.0)).toDF("GEOID", "v")
    val bounds = Seq(("06037", "WKT:poly")).toDF("GEOID", "geometry")
    val got = rows(Pipeline.joinBoundaries(data, bounds).orderBy("GEOID"))
    assert(got.size === 2)
    assert(got.head.getString(1) === "WKT:poly")
    assert(got(1).isNullAt(1))
  }

  test("export: csv drops geometry, geo formats require it, unknown format throws (S9-S14)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_export").toString
    val df = Seq(("a", "WKT:x", 1.0)).toDF("k", "geometry", "v")
    Pipeline.export(df, s"$tmp/csv", "csv")
    val back = spark.read.option("header", "true").csv(s"$tmp/csv")
    assert(back.columns.toSeq === Seq("k", "v"))
    assertThrows[IllegalArgumentException](
      Pipeline.export(df.drop("geometry"), s"$tmp/gj", "geojson"))
    Pipeline.export(df, s"$tmp/gj", "geojson") // has geometry -> ok
    assertThrows[IllegalArgumentException](Pipeline.export(df, s"$tmp/x", "xlsx"))
  }

  test("jdbcWriter maps if_exists to SaveMode; unknown throws (S15)") {
    val df = Seq(1).toDF("v")
    Pipeline.jdbcWriter(df, "replace") // configures; no live DB to write to
    assertThrows[IllegalArgumentException](Pipeline.jdbcWriter(df, "sideways"))
  }

  test("CensusApi: state key normalization FIPS/name/abbrev + errors (E9)") {
    assert(CensusApi.normalizeStateKey("6") === "06")
    assert(CensusApi.normalizeStateKey("CA") === "06")
    assert(CensusApi.normalizeStateKey("California") === "06")
    assertThrows[IllegalArgumentException](CensusApi.normalizeStateKey("Atlantis"))
    assertThrows[IllegalArgumentException](CensusApi.normalizeStateKey("03"))
  }

  test("CensusApi: county key normalization numeric, name raises (E9 county)") {
    assert(CensusApi.normalizeCountyKey("37") === "037")
    assert(CensusApi.normalizeCountyKey("037") === "037")
    assert(CensusApi.normalizeCountyKey("5") === "005")
    // reference geography.py:138-146 raises NotImplementedError for names
    assertThrows[UnsupportedOperationException](
      CensusApi.normalizeCountyKey("Los Angeles"))
  }

  test("variableMetadata: 1-row frame from registered catalog, unknown throws (S7)") {
    graft.sources.VariableCatalog.register("acs5_test", Seq(
      graft.sources.VariableCatalog.VariableInfo(
        "B01003_001E", "Estimate!!Total", "TOTAL POPULATION", "int"),
      graft.sources.VariableCatalog.VariableInfo(
        "B19013_001E", "Estimate!!Median household income", "INCOME", "int")))
    val md = Pipeline.variableMetadata(spark, "B01003_001E", "acs5_test")
    assert(md.columns.toSeq === Seq("variable", "label", "concept", "predicateType"))
    val r = rows(md)
    assert(r.size === 1 && r.head.getString(1) === "Estimate!!Total")
    assertThrows[IllegalArgumentException](
      Pipeline.variableMetadata(spark, "B99999_999E", "acs5_test"))
    assertThrows[IllegalArgumentException](
      Pipeline.variableMetadata(spark, "B01003_001E", "never_registered"))
  }

  test("searchVariables: case-insensitive keyword on label OR concept (S8)") {
    graft.sources.VariableCatalog.register("acs5_search", Seq(
      graft.sources.VariableCatalog.VariableInfo("V1", "Total population", "DEMOGRAPHICS", "int"),
      graft.sources.VariableCatalog.VariableInfo("V2", "Median income", "INCOME", "int"),
      graft.sources.VariableCatalog.VariableInfo("V3", "Rent burden", "Housing incOme share", "float")))
    val got = rows(Pipeline.searchVariables(spark, "income", "acs5_search").orderBy("variable"))
    assert(got.map(_.getString(0)) === Seq("V2", "V3")) // label hit + concept hit
    assert(rows(Pipeline.searchVariables(spark, "zebra", "acs5_search")).isEmpty)
  }

  test("executeSql: driver-side JDBC statement executes against Derby (S16)") {
    val url = "jdbc:derby:memory:graft_s16;create=true"
    Pipeline.executeSql(url, "CREATE TABLE t16 (k INT)")
    Pipeline.executeSql(url, "INSERT INTO t16 VALUES (1), (2)")
    // verify through Spark's JDBC source — the statements really ran
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "t16").load()
    assert(back.count() === 2)
    assertThrows[java.sql.SQLException](
      Pipeline.executeSql(url, "SELECT * FROM no_such_table"))
  }

  test("CensusApi: endpoint routing + decennial year validation (S1-S4)") {
    assert(CensusApi.endpoint("acs5", 2022).endsWith("/2022/acs/acs5"))
    assert(CensusApi.endpoint("decennial", 2020).endsWith("/dec/dhc"))
    assert(CensusApi.endpoint("decennial", 2010).endsWith("/dec/sf1"))
    assertThrows[IllegalArgumentException](CensusApi.endpoint("decennial", 2015))
    assertThrows[IllegalArgumentException](CensusApi.endpoint("mystery", 2022))
  }

  test("CensusApi: geography clause construction + unknown geography (P7)") {
    assert(CensusApi.geographyClause("state", Some("06"), None) === Map("for" -> "state:06"))
    assert(CensusApi.geographyClause("tract", Some("06"), Some("037")) ===
      Map("for" -> "tract:*", "in" -> "state:06 county:037"))
    assertThrows[IllegalArgumentException](CensusApi.geographyClause("hexgrid", None, None))
    val p = CensusApi.buildParams(Seq("B01003_001E"), "county", Some("06"), apiKey = Some("k"))
    assert(p("get") === "B01003_001E" && p("key") === "k" && p("in") === "state:06")
  }

  test("SparkEntry.entry returns rows on the smoke fixture (driver contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("DataSourceV2 census source: 2 states, 2 tasks, string cols, coercion (S1-S4/X1)") {
    graft.sources.CensusPayloads.register("acs5_test",
      header = Seq("NAME", "B01003_001E", "state"),
      rowsByState = Map(
        "06" -> Seq(Seq("Alameda", "1600000", "06"), Seq("Alpine", "bad", "06")),
        "36" -> Seq(Seq("Albany", "300000", "36"))))
    val df = spark.read.format("graft.sources.CensusDataSource")
      .option("payload", "acs5_test").load()
    assert(df.schema.fields.map(_.dataType).forall(_ ==
      org.apache.spark.sql.types.StringType))
    assert(df.rdd.getNumPartitions === 2) // fewer states than cores: one each
    assert(df.count() === 3)
    // downstream coercion projection (P2): invalid numeric -> null
    val coerced = df.select(col("NAME"),
      expr("try_cast(B01003_001E AS DOUBLE)").as("total_population"))
      .orderBy("NAME").collect()
    assert(coerced.map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1))).toSeq
      === Seq(Some(1600000d), Some(300000d), None))
  }

  /** (partition index, state) of every row a census scan returns. */
  private def censusGroups(payload: String): Set[(Int, String)] =
    spark.read.format("graft.sources.CensusDataSource").option("payload", payload)
      .load().select("state").as[String].rdd
      .mapPartitionsWithIndex((i, it) => it.map(i -> _)).collect().toSet

  test("DataSourceV2 census source: 10 states on 4 cores, round-robin groups") {
    val states = (1 to 10).map(i => f"$i%02d")
    val byState = states.map(s => s -> (1 to s.toInt).map(j =>
      Seq(s"tract $s-$j", s"$j", s))).toMap
    graft.sources.CensusPayloads.register("acs5_ten",
      header = Seq("NAME", "B01003_001E", "state"), rowsByState = byState)
    assert(spark.sparkContext.defaultParallelism === 4)
    val df = spark.read.format("graft.sources.CensusDataSource")
      .option("payload", "acs5_ten").load()
    assert(df.rdd.getNumPartitions === 4)
    // every registered row comes back exactly once
    assert(df.collect().map(_.toSeq.map(_.toString)).toSeq.sortBy(_.mkString("|")) ===
      byState.values.flatten.toSeq.sortBy(_.mkString("|")))
    // sorted codes dealt round-robin, the same on every load
    val expected = states.zipWithIndex.map { case (s, i) => (i % 4, s) }.toSet
    assert(censusGroups("acs5_ten") === expected)
    assert(censusGroups("acs5_ten") === expected)
  }

  test("DataSourceV2 census source: a 1-state payload plans 1 partition") {
    graft.sources.CensusPayloads.register("acs5_one",
      header = Seq("NAME", "state"),
      rowsByState = Map("06" -> Seq(Seq("Alameda", "06"), Seq("Alpine", "06"))))
    val df = spark.read.format("graft.sources.CensusDataSource")
      .option("payload", "acs5_one").load()
    assert(df.rdd.getNumPartitions === 1)
    assert(df.count() === 2)
  }

  test("aggregateToGeography: per-column named aggs + property sum(state)==sum(county) (A1)") {
    val df = Seq(("06037111111", 1.0), ("06037222222", 2.0), ("06038111111", 4.0))
      .toDF("GEOID", "v")
    val county = Agg.aggregateToGeography(df, "county", Map("v" -> "sum"))
    val state = Agg.aggregateToGeography(df, "state", Map("v" -> "sum"))
    assert(rows(county.orderBy("GEOID")).map(_.getDouble(1)) === Seq(3.0, 4.0))
    assert(rows(state).head.getDouble(1) ===
      rows(county).map(_.getDouble(1)).sum) // additive-measure invariant
    assertThrows[IllegalArgumentException](
      Agg.aggregateToGeography(df, "county", Map("v" -> "mode")))
  }

  // ---------------------------------------------- retry/rate-limit policy

  /** Harness: scripted transport + recorded sleeps + controllable clock. */
  private class FakeHttp(script: Seq[Int]) {
    var calls = 0
    var clockMs = 0L
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val fetch = CensusApi.withRetry(
      transport = (_, _, timeout) => {
        assert(timeout === CensusApi.RequestTimeoutSec) // :154 timeout=30
        val st = script(math.min(calls, script.size - 1)); calls += 1
        CensusApi.HttpResponse(st, if (st < 400) s"body$calls" else "")
      },
      sleepMs = ms => { sleeps += ms; clockMs += ms },
      nowMs = () => clockMs)
  }

  test("withRetry: 429 twice then 200 succeeds, with 1s/2s exponential backoff") {
    val h = new FakeHttp(Seq(429, 429, 200))
    assert(h.fetch("http://x", Map()) === "body3")
    assert(h.calls === 3)
    assert(h.sleeps.toSeq === Seq(1000L, 2000L)) // factor 1: 2^0, 2^1 sec
  }

  test("withRetry: 404 fails fast without retry") {
    val h = new FakeHttp(Seq(404))
    val e = intercept[CensusApi.CensusApiError](h.fetch("http://x", Map()))
    assert(e.status === 404)
    assert(h.calls === 1)
    assert(h.sleeps.isEmpty)
  }

  test("withRetry: persistent 503 exhausts total=3 retries then raises") {
    val h = new FakeHttp(Seq(503))
    val e = intercept[CensusApi.CensusApiError](h.fetch("http://x", Map()))
    assert(e.status === 503)
    assert(h.calls === 4) // initial attempt + 3 retries
    assert(h.sleeps.toSeq === Seq(1000L, 2000L, 4000L))
  }

  test("withRetry: rate limit sleeps the remainder of 0.5s between requests") {
    val h = new FakeHttp(Seq(200))
    h.fetch("http://x", Map())
    assert(h.sleeps.isEmpty) // no delay before the first request
    h.clockMs += 100         // 100ms pass; 400ms of the 500ms window remain
    h.fetch("http://x", Map())
    assert(h.sleeps.toSeq === Seq(400L))
    h.clockMs += 600         // beyond the window: no sleep
    h.fetch("http://x", Map())
    assert(h.sleeps.toSeq === Seq(400L))
  }
}
