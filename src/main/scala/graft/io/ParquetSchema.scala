package graft.io

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** The schema of a parquet location, read on the driver.
  *
  * `spark.read.parquet(path)` infers its schema with a Spark job: one
  * task reads one footer. Without schema merging that footer is the
  * first data file in path order, so the same answer can be read here,
  * from the same footer with the converter the session's settings
  * describe, and no job starts. Reading with the result as a declared
  * schema (`spark.read.schema(s).parquet(path)`) gives the frame that
  * inference would.
  *
  * Locations this does not model fall back to `spark.read.parquet`: a
  * directory with subdirectories (partitioned), one with parquet
  * summary files (which inference reads first), a path that names no
  * existing file or directory (globs), a location without data files,
  * and any read under `spark.sql.parquet.mergeSchema`.
  */
object ParquetSchema {

  def of(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.conf
    val footer =
      if (conf.getConf(SQLConf.PARQUET_SCHEMA_MERGING_ENABLED)) None
      else firstDataFile(spark, path)
    footer.fold(spark.read.parquet(path).schema) { file =>
      val meta = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(file, spark.sessionState.newHadoopConf()),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      nullable(ParquetFileFormat.readSchemaFromFooter(
        new Footer(file.getPath, meta), new ParquetToSparkSchemaConverter(conf)))
        .asInstanceOf[StructType]
    }
  }

  /** The file whose footer inference reads, when the location is one
    * this object models. */
  private def firstDataFile(spark: SparkSession, path: String): Option[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val root = fs.getFileStatus(p)
      if (root.isFile) Some(root)
      else {
        val listed = fs.listStatus(p).filterNot(st => hidden(st.getPath.getName))
        val summary = Set(ParquetFileWriter.PARQUET_METADATA_FILE,
          ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
        if (listed.exists(st => st.isDirectory || summary(st.getPath.getName))) None
        else listed.sortBy(_.getPath.toString).headOption
      }
    }
  }

  /** Names Spark's file index skips (`HadoopFSUtils.shouldFilterOutPathName`). */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !name.startsWith("_common_metadata") && !name.startsWith("_metadata")

  /** What a file source relation makes of a data schema: every field,
    * element and map value nullable. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(nullable(k), nullable(v), valueContainsNull = true)
    case other => other
  }
}
