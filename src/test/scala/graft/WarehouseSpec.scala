package graft

import graft.ext.Warehouse
import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._

class WarehouseSpec extends SparkSpec {

  /** (job group, job tags) of every job started while `f` runs. */
  private def jobsOf[T](f: => T): (T, Seq[(String, String)]) = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add((e.properties.getProperty("spark.jobGroup.id"),
          e.properties.getProperty("spark.job.tags")))
    }
    org.apache.spark.GraftListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = f
      org.apache.spark.GraftListenerBus.drain(sc)
      (out, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  test("inParallel: a failing leg cancels a long-running sibling, and the " +
    "caller sees the first error") {
    val sc = spark.sparkContext
    val siblingRunning = WarehouseSpec.siblingRunning
    siblingRunning.set(false)
    val ended = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ended.add(e.jobResult.toString)
    }
    org.apache.spark.GraftListenerBus.drain(sc)
    sc.addSparkListener(listener)
    val t0 = System.nanoTime()
    try {
      val err = intercept[IllegalStateException] {
        Warehouse.inParallel(
          // runs until its task is killed (capped at 120 s)
          spark.range(0, 1, 1, 1).rdd.map { x =>
            WarehouseSpec.siblingRunning.set(true)
            val deadline = System.nanoTime() + 120000000000L
            while (!TaskContext.get().isInterrupted() &&
              System.nanoTime() < deadline) Thread.sleep(10)
            x
          }.count(),
          {
            while (!siblingRunning.get) Thread.sleep(10)
            throw new IllegalStateException("first failure")
          })
      }
      assert(err.getMessage == "first failure")
      assert((System.nanoTime() - t0) / 1e9 < 60,
        "the sibling ran on instead of being cancelled")
      // the scheduler fails the job's waiter before it posts the job's
      // end, so the event may still be on its way
      val deadline = System.nanoTime() + 30000000000L
      while (!ended.asScala.exists(_.contains("JobFailed")) &&
        System.nanoTime() < deadline) {
        org.apache.spark.GraftListenerBus.drain(sc)
        Thread.sleep(10)
      }
      assert(ended.asScala.exists(_.contains("JobFailed")), ended.asScala.toList)
    } finally sc.removeSparkListener(listener)
  }

  test("inParallel: the legs' jobs carry the caller's job group and a tag " +
    "each, and a pool thread keeps neither") {
    val sc = spark.sparkContext
    sc.setJobGroup("graft-caller-span", "caller span")
    val (answers, jobs) =
      try jobsOf(Warehouse.inParallel(Seq(
        () => spark.range(10).count(), () => spark.range(20).count(),
        () => spark.range(30).count())))
      finally sc.clearJobGroup()
    assert(answers == Seq(10L, 20L, 30L))
    assert(jobs.nonEmpty && jobs.forall(_._1 == "graft-caller-span"), jobs)
    val legTags = jobs.map(_._2.split(",").filter(_.startsWith("graft-parallel-")).toSet)
    assert(legTags.forall(_.size == 1), jobs)
    assert(legTags.flatten.distinct.size == 3, jobs)
    // a later call with no group set sees no group, whichever threads run it
    val (_, later) = jobsOf(Warehouse.inParallel(
      spark.range(5).count(), spark.range(6).count()))
    assert(later.nonEmpty && later.forall(_._1 == null), later)
    assert(sc.getLocalProperty("spark.job.tags") == null ||
      !sc.getLocalProperty("spark.job.tags").contains("graft-parallel-"))
  }

  test("inParallel: nested calls finish and keep their answers") {
    val out = Warehouse.inParallel((1 to 8).map(i => () =>
      Warehouse.inParallel(spark.range(i).count(), spark.range(i + 1).count())))
    assert(out == (1 to 8).map(i => (i.toLong, i + 1L)))
  }
}

object WarehouseSpec {
  /** Set by the long-running task: it runs in this JVM (local mode). */
  val siblingRunning = new AtomicBoolean(false)
}
