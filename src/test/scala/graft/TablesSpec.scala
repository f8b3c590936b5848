package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.graft.ListenerBus
import org.apache.spark.sql.types.{StructType, TimestampType}

/** `Tables.t` takes a fixture table's schema from its parquet footer on
  * the driver: the schema Spark's inference gives (nullability and field
  * metadata included, compared as JSON), without a Spark job. */
class TablesSpec extends SparkSpec {
  private val dirs = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(s => new java.io.File(new java.io.File(sf).getParentFile, s).getPath)
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Runs `body` with `NanosAsLong` at `v` (`None` leaves it as it is),
    * then restores the session's value: `Tables.t("events")` sets it. */
  private def withNanosAsLong[T](v: Option[Boolean])(body: => T): T = {
    val old = spark.conf.getOption(NanosAsLong)
    v.foreach(b => spark.conf.set(NanosAsLong, b.toString))
    try body finally old.fold(spark.conf.unset(NanosAsLong))(spark.conf.set(NanosAsLong, _))
  }

  test("footer schema equals Spark's inferred schema for every fixture file, " +
      "nanosAsLong off and on") {
    for (dir <- dirs; n <- Tables.names; v <- Seq(false, true))
      withNanosAsLong(Some(v)) {
        val path = s"$dir/$n.parquet"
        assert(FooterSchema.ofFile(spark, path).map(_.json) ===
          Some(spark.read.parquet(path).schema.json), s"$path nanosAsLong=$v")
      }
  }

  test("Tables.t schema equals spark.read.parquet's; events differs only in ts") {
    for (dir <- dirs; n <- Tables.names) withNanosAsLong(None) {
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
      assert(FooterSchema.ofFile(spark, dir.getPath).isEmpty)
      assert(FooterSchema.ofFile(spark, s"${dir.getPath}/missing.parquet").isEmpty)
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
    try withNanosAsLong(None) {
      val dir = dirs(1)
      val loaded = Tables.names.map(Tables.t(spark, dir, _))
      assert(loaded.forall(_.columns.nonEmpty))
      ListenerBus.drain(sc)
      assert(jobs.get === 0)
    } finally sc.removeSparkListener(listener)
  }
}
