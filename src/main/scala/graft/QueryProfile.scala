package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev profiler for the bench's per-query time budget: for each selected
  * catalog query it times the `fn(session, dir)` driver-side build (which
  * for trained-replay queries runs the training jobs) separately from the
  * noop-sink execution, and counts Spark jobs / stages / tasks landed in
  * each phase — so a slow query can be attributed to sequential-job
  * latency vs. per-stage work vs. driver-side planning before any
  * optimization is attempted (guide §1).
  *
  * Usage: runMain graft.QueryProfile [sfDir] [q134,q79,...]
  * Env: SPARK_GRAFT_CPUS (see [[Sessions]]), SPARK_GRAFT_RUNS (default 2 —
  * run 1 pays codegen, run 2 is the warm number the bench median sees).
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val only = args.lift(1)
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt
    val spark = Sessions.local()
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger; val taskMs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
      }
    })
    val selected = BenchUtil.selectQueries(only, SparkEntry.queries)
    // absorb scheduler/codegen warmup outside any measurement
    spark.range(0, 1000000, 1, 8).selectExpr("sum(id)").collect()
    println(f"${"query"}%-32s run  build_s  exec_s  total_s  jobs stages tasks  task_s")
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      var r = 0
      while (r < runs) {
        val session = spark.newSession()
        System.gc()
        jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0)
        val t0 = System.nanoTime()
        try {
          val df = fn(session, sfDir)
          val t1 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val t2 = System.nanoTime()
          BenchUtil.drain(spark.sparkContext)
          println(f"$name%-32s $r%3d  ${(t1 - t0) / 1e9}%7.2f ${(t2 - t1) / 1e9}%7.2f  ${(t2 - t0) / 1e9}%7.2f  ${jobs.get}%4d ${stages.get}%5d ${tasks.get}%6d ${taskMs.get / 1e3}%7.1f")
        } catch {
          case e: Throwable =>
            println(s"$name run $r FAILED: ${e.getMessage}")
            r = runs
        }
        r += 1
      }
    }
    spark.stop()
  }
}
