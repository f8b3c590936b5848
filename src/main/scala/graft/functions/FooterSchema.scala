package org.apache.spark.sql.execution.datasources.parquet

import java.io.FileNotFoundException
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Access to the `private[parquet]` footer-to-schema conversion: the
  * schema Spark's parquet inference gives a single file, computed on the
  * driver from that file's footer. Inference itself runs the same
  * conversion inside a one-task Spark job (`mergeSchemasInParallel`);
  * `graft.Tables.t` hands this result to `spark.read.schema` instead. */
object FooterSchema {
  /** `path`'s footer when it names one file; `None` for anything else (a
    * directory or a missing path), which is left to Spark. */
  def footer(spark: SparkSession, path: String): Option[Footer] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val status =
      try Some(p.getFileSystem(conf).getFileStatus(p))
      catch { case _: FileNotFoundException => None }
    status.filter(_.isFile).map(st => new Footer(st.getPath,
      ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(st, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)))
  }

  /** The schema inference gives `footer`'s file. The converter reads the
    * session's parquet confs (binary-as-string, INT96, TIMESTAMP_NTZ
    * inference, nanos-as-long) as inference does. */
  def schema(spark: SparkSession, footer: Footer): StructType =
    ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))

  /** Whether the file holds a TIMESTAMP(NANOS) column, which Spark reads
    * only as raw longs under `spark.sql.legacy.parquet.nanosAsLong`. */
  def hasNanos(footer: Footer): Boolean =
    footer.getParquetMetadata.getFileMetaData.getSchema.getColumns.asScala
      .exists(_.getPrimitiveType.getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
        case _ => false
      })
}
