package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    // Timestamps surface as NTZ (session TZ is UTC, so values are
    // unchanged): the parquet then reads back timezone-naive, matching the
    // DuckDB oracle's timestamp semantics exactly.
    def ntz(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.functions.col
      import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
      df.select(df.schema.fields.map { f =>
        if (f.dataType == TimestampType) col(f.name).cast(TimestampNTZType).as(f.name)
        else col(f.name)
      }.toSeq: _*)
    }
    // SPARK_GRAFT_ONLY=q50,q13* restricts the dump (dev-loop
    // convenience; the driver's full run leaves it unset — semantics
    // shared with Bench via BenchUtil.selectQueries)
    val selected = BenchUtil.selectQueries(
      sys.env.get("SPARK_GRAFT_ONLY"), SparkEntry.queries)
    val failed = scala.collection.mutable.ListBuffer.empty[(String, String)]
    selected.foreach { case (name, fn) =>
      try ntz(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += ((name, String.valueOf(e.getMessage)))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // throwers are otherwise just ABSENT from the output dir (round 6:
    // ten schema-broken queries silently missing from the gate) — record
    // them as an explicit artifact so a failure reads as a failure
    Files.writeString(Paths.get(s"$outDir/failed.json"),
      failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} queries FAILED: " +
        failed.map(_._1).mkString(", "))
    spark.stop()
  }
}
