package graft

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** Dev tool: dump `explain("formatted")` for selected catalog queries to
  * `<outDir>/<query>_<suffix>.txt` — the round's before/after plan
  * evidence (`plans/r16/`). Usage:
  * runMain graft.PlanDump <outDir> <suffix> [q149,q51,...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val only = args.lift(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    Files.createDirectories(outDir)
    val selected = BenchUtil.selectQueries(only, SparkEntry.queries)
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark.newSession(), sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(outDir.resolve(s"${name}_$suffix.txt"),
          txt.getBytes(StandardCharsets.UTF_8))
        println(s"dumped $name")
      } catch { case e: Throwable =>
        println(s"$name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
