package org.apache.spark.sql.execution.datasources.parquet.graftbridge

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader}
import org.apache.spark.sql.types.StructType

/** Access shim for Spark's parquet footer-to-schema conversion, which
  * Spark 4 keeps package-private to its parquet package (the graftbridge
  * situation again, hence this object's package). `footerSchema` reads
  * one file's footer on the calling thread and converts it exactly as
  * `spark.read.parquet` schema inference does under the session conf
  * (binary-as-string, INT96, TIMESTAMP_NTZ inference, nanos-as-long, the
  * Spark schema a Spark writer stores in the footer, every field
  * nullable), without the inference job.
  */
object ParquetBridge {
  def footerSchema(spark: SparkSession, file: FileStatus): Option[StructType] = {
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, spark.sessionState.newHadoopConf()),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    // a file source's data schema is nullable whatever the footer says
    ParquetFileFormat.readSchema(Seq(new Footer(file.getPath, meta)), spark)
      .map(_.asNullable)
  }
}
