package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

/** Fixture loaders (TESTDATA.md / FIXTURES.md).
  *
  * Every query receives the scale-factor directory at call time; tables are
  * plain parquet reads so Catalyst handles column pruning + filter pushdown
  * into the scan. At cluster scale these would be partitioned/bucketed
  * catalog tables — the loader is the single seam to swap that in.
  *
  * A fixture table is one parquet file, so its schema is read from that
  * file's footer on the driver ([[footerSchema]]) and handed to
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

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = footerSchema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
    if (name == "events") eventTs(df) else df
  }

  /** `path`'s schema from its footer when it names one parquet file,
    * `None` otherwise. A TIMESTAMP(NANOS) column (events.ts in some
    * fixture generations) is unreadable natively, so such a file turns
    * on `spark.sql.legacy.parquet.nanosAsLong` for the session: the
    * column lands as raw nanos, and the scan reads the conf when it
    * runs, so it stays set. Any other file leaves the conf as it is. */
  private[graft] def footerSchema(spark: SparkSession, path: String)
      : Option[StructType] =
    FooterSchema.footer(spark, path).map { f =>
      if (FooterSchema.hasNanos(f))
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      FooterSchema.schema(spark, f)
    }

  /** events `ts` as TIMESTAMP (UTC micros) whatever its encoding, for the
    * batch loader and the event stream alike: parquet TIMESTAMP(NANOS)
    * lands as long nanos and is integral-DIVided down to micros (a double
    * division would lose precision at 1e18); plain timestamp[us] reads as
    * TIMESTAMP_NTZ, and with the session tz at UTC the cast makes the
    * naive wall clock the UTC instant (the DuckDB epoch_us view). */
  private[graft] def eventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
}
