package org.apache.spark.sql.execution.datasources.parquet

import java.io.FileNotFoundException
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Access to the `private[parquet]` footer-to-schema conversion: the
  * schema Spark's parquet inference gives a single file, computed on the
  * driver from that file's footer. Inference itself runs the same
  * conversion inside a one-task Spark job (`mergeSchemasInParallel`);
  * `graft.Tables.t` hands this result to `spark.read.schema` instead. */
object FooterSchema {
  /** `path`'s inferred schema when it names one file; `None` for anything
    * else (a directory or a missing path), which is left to Spark. The
    * converter reads the session's parquet confs (binary-as-string,
    * INT96, TIMESTAMP_NTZ inference, nanos-as-long) as inference does. */
  def ofFile(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val status =
      try Some(p.getFileSystem(conf).getFileStatus(p))
      catch { case _: FileNotFoundException => None }
    status.filter(_.isFile).map { st =>
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(st, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(st.getPath, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }
}
