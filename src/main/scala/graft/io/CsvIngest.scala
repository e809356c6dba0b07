package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CSV directory ingestion (S1-S3, etl2.py:29-58).
  *
  * The reference reads every file TWICE (a dtype pass then a datetime
  * pass, etl2.py:35-53); here each file is scanned once and timestamp
  * columns are cast in the same projection — Catalyst prunes/pushes as
  * usual, so the heuristic costs nothing extra.
  */
object CsvIngest {

  /** Filename → table name: `olist_customers_dataset.csv` → `customers`
    * (etl2.py:32).
    */
  def tableNameFromFile(fileName: String): String =
    fileName.stripSuffix(".csv")
      .replace("olist_", "")
      .replace("_dataset", "")

  /** Column-name heuristic from etl2.py:43-46: any column whose name
    * contains date/time/approved is (re)parsed as a timestamp.
    */
  def looksLikeTimestamp(name: String): Boolean = {
    val n = name.toLowerCase
    n.contains("date") || n.contains("time") || n.contains("approved")
  }

  /** Reference timestamp layout (Olist CSVs; pinned explicitly for parity
    * with any SQL oracle rather than relying on inference — SURVEY.md §7.4).
    */
  val TimestampFormat = "yyyy-MM-dd HH:mm:ss"

  /** The reference treats the literal tokens 'nan' and '?' as null
    * (etl2.py:39). Spark's CSV `nullValue` takes one token, so the rest
    * are swept with a per-column `when` in a single projection.
    */
  val NullTokens: Seq[String] = Seq("nan", "?")

  def sweepNullTokens(df: DataFrame,
                      tokens: Seq[String] = NullTokens): DataFrame = {
    val cols = df.schema.fields.map {
      case f if f.dataType == StringType =>
        when(col(f.name).isin(tokens: _*), lit(null)).otherwise(col(f.name))
          .as(f.name)
      case f => col(f.name)
    }
    df.select(cols.toSeq: _*)
  }

  def withHeuristicTimestamps(df: DataFrame,
                              fmt: String = TimestampFormat): DataFrame = {
    val cols = df.schema.fields.map {
      // try_to_timestamp: null on parse failure (pandas errors='coerce',
      // data_quality_checker.py:274). Plain to_timestamp THROWS under
      // Spark 4 ANSI mode.
      case f if f.dataType == StringType && looksLikeTimestamp(f.name) =>
        try_to_timestamp(col(f.name), lit(fmt)).as(f.name)
      case f => col(f.name)
    }
    df.select(cols.toSeq: _*)
  }

  /** Read one CSV with the reference's semantics: header, inferred types,
    * 'nan'/'?' → null, heuristic timestamp parsing. The rows are read
    * when the result runs, so every call sees the file as it is then.
    * Without a declared `schema`, the types are inferred once per
    * version of the file ([[VersionMemo]]: paths, lengths, modification
    * times): the first read of a version makes `inferSchema`'s full pass
    * over the file, and later reads of the same version reuse that
    * schema and start no job before they run. A rewritten file is
    * inferred again on its next read.
    */
  def readCsv(spark: SparkSession, path: String,
              schema: Option[StructType] = None): DataFrame = {
    def reader = spark.read
      .option("header", "true")
      .option("nullValue", "nan")
      .option("timestampFormat", TimestampFormat)
    val typed = schema.getOrElse(VersionMemo(spark,
        ("csv-schema", path, Seq("spark.sql.session.timeZone",
          "spark.sql.timestampType").map(spark.conf.getOption)),
        Seq(path)) {
      reader.option("inferSchema", "true").csv(path).schema
    })
    withHeuristicTimestamps(sweepNullTokens(reader.schema(typed).csv(path)))
  }

  /** Scan a directory of CSVs into a name→DataFrame registry
    * (etl2.py:29-58). Listing happens driver-side (cheap); each table is a
    * lazy single-scan plan.
    */
  def readCsvDirectory(spark: SparkSession, dir: String): Map[String, DataFrame] = {
    val files = new java.io.File(dir).listFiles()
    if (files == null) Map.empty
    else files.toSeq
      .filter(f => f.isFile && f.getName.endsWith(".csv"))
      .map(f => tableNameFromFile(f.getName) -> readCsv(spark, f.getAbsolutePath))
      .toMap
  }
}
