package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.graft.ListenerBus
import org.apache.spark.sql.types.{StructType, TimestampType}
import graft.streaming.AvailableNow

/** `Tables.t` takes a fixture table's schema from its parquet footer on
  * the driver: the schema Spark's inference gives (nullability and field
  * metadata included, compared as JSON), without a Spark job. */
class TablesSpec extends SparkSpec {
  private val dirs = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(s => new java.io.File(new java.io.File(sf).getParentFile, s).getPath)
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** `NanosAsLong` as set on the session; `None` when it is unset. */
  private def nanosSet: Option[String] =
    spark.sessionState.conf.getAllConfs.get(NanosAsLong)

  /** Runs `body` with `NanosAsLong` at `v` (`None` unsets it), then
    * restores the session's setting. */
  private def withNanosAsLong[T](v: Option[Boolean])(body: => T): T = {
    val old = nanosSet
    v.fold(spark.conf.unset(NanosAsLong))(b => spark.conf.set(NanosAsLong, b.toString))
    try body finally old.fold(spark.conf.unset(NanosAsLong))(spark.conf.set(NanosAsLong, _))
  }

  test("footer schema equals Spark's inferred schema for every fixture file, " +
      "nanosAsLong off and on") {
    for (dir <- dirs; n <- Tables.names; v <- Seq(false, true))
      withNanosAsLong(Some(v)) {
        val path = s"$dir/$n.parquet"
        assert(FooterSchema.footer(spark, path).map(FooterSchema.schema(spark, _).json) ===
          Some(spark.read.parquet(path).schema.json), s"$path nanosAsLong=$v")
      }
  }

  test("Tables.t schema equals spark.read.parquet's; events differs only in ts") {
    for (dir <- dirs; n <- Tables.names) {
      val got = Tables.t(spark, dir, n).schema
      val inferred = spark.read.parquet(s"$dir/$n.parquet").schema
      val expected = if (n != "events") inferred else StructType(inferred.map(f =>
        if (f.name == "ts") f.copy(dataType = TimestampType) else f))
      assert(got.json === expected.json, s"$dir/$n")
    }
  }

  test("a directory path keeps Spark's inference") {
    val dir = java.nio.file.Files.createTempDirectory("tables_dir").toFile
    try {
      spark.range(3).write.mode("overwrite").parquet(dir.getPath)
      assert(FooterSchema.footer(spark, dir.getPath).isEmpty)
      assert(FooterSchema.footer(spark, s"${dir.getPath}/missing.parquet").isEmpty)
    } finally Staging.deleteRecursively(dir)
  }

  test("loading all ten fixture tables starts no Spark job") {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val dir = dirs(1)
      val loaded = Tables.names.map(Tables.t(spark, dir, _))
      assert(loaded.forall(_.columns.nonEmpty))
      ListenerBus.drain(sc)
      assert(jobs.get === 0)
    } finally sc.removeSparkListener(listener)
  }

  test("reading the timestamp[us] fixtures, batch or stream, leaves nanosAsLong unset") {
    withNanosAsLong(None) {
      for (dir <- dirs) {
        Tables.names.foreach(Tables.t(spark, dir, _))
        EventStreams.readEventStream(spark, dir)
      }
      assert(nanosSet.isEmpty)
    }
  }

  /** The two files under `events_ts/` hold the same three events, `ts`
    * written once as TIMESTAMP(NANOS) and once as timestamp[us], with
    * pyarrow 16.1:
    * {{{
    * us = [1_700_000_000_000_000, 1_700_000_000_123_456, 1_700_003_600_000_001]
    * for unit, mul in (("ns", 1000), ("us", 1)):
    *     pq.write_table(pa.table({
    *         "event_id": pa.array([1, 2, 3], pa.int64()),
    *         "ts": pa.array([u * mul for u in us], pa.timestamp(unit)),
    *         "user_id": pa.array([7, 8, 7], pa.int64()),
    *         "event_type": ["view", "click", "signup"],
    *         "value": [1.5, 2.0, 0.25],
    *         "props": ["{}", "{}", "{}"]}), f"events_ts/{unit}/events.parquet")
    * }}} */
  test("events ts: a TIMESTAMP(NANOS) file reads as its timestamp[us] twin, " +
      "batch and stream, and only the nanos file sets nanosAsLong") {
    def dir(unit: String) = new java.io.File(
      getClass.getResource(s"/events_ts/$unit/events.parquet").toURI).getParent
    def micros(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("event_id").select(unix_micros(col("ts"))).collect().toSeq.map(_.getLong(0))
    def read(unit: String) = {
      val name = s"t_events_ts_$unit"
      AvailableNow.run(EventStreams.readEventStream(spark, dir(unit)), name = Some(name))
      (micros(Tables.t(spark, dir(unit), "events")), micros(spark.table(name)))
    }
    val expected = Seq(1700000000000000L, 1700000000123456L, 1700003600000001L)
    withNanosAsLong(None) {
      assert(read("us") === (expected, expected))
      assert(nanosSet.isEmpty)
      assert(read("ns") === (expected, expected))
      assert(nanosSet === Some("true"))
    }
  }
}
