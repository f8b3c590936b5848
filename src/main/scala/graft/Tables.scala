package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema

/** Fixture loaders (TESTDATA.md / FIXTURES.md).
  *
  * Every query receives the scale-factor directory at call time; tables are
  * plain parquet reads so Catalyst handles column pruning + filter pushdown
  * into the scan. At cluster scale these would be partitioned/bucketed
  * catalog tables — the loader is the single seam to swap that in.
  *
  * A fixture table is one parquet file, so its schema is read from that
  * file's footer on the driver ([[FooterSchema]]) and handed to
  * `spark.read.schema`: Spark's own inference would start a one-task job
  * per read to read the same footer with the same conversion, a fixed
  * cost every query pays once per table it reads. A path that is not a
  * single file (a directory of part files, as `df.write.parquet` leaves)
  * keeps Spark's inference, which lists and merges the part files.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts encoding differs between fixture generations: parquet
      // TIMESTAMP(NANOS) (unreadable natively — land as long nanos, then
      // integral-DIV down to micros; a double division would lose
      // precision at 1e18) vs plain timestamp[us] (read as TIMESTAMP_NTZ;
      // session tz is UTC, so casting to TIMESTAMP makes the naive wall
      // clock the UTC instant — the DuckDB epoch_us view). Branch on the
      // actual on-disk type so both load identically.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = read(spark, s"$dir/$name.parquet")
      import org.apache.spark.sql.functions.{col, expr}
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn("ts", col("ts").cast("timestamp"))
        case _ => df
      }
    } else read(spark, s"$dir/$name.parquet")

  private def read(spark: SparkSession, path: String): DataFrame =
    FooterSchema.ofFile(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
}
