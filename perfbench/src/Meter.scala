package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Engine counters for the traced run, taken from the outside: one
  * `SparkListener` that keeps every job, stage, task and RDD-block
  * update in memory. Spans ([[Span]]) are recorded by the workload code
  * around its calls into the program; [[attribute]] then sums the
  * counters of the jobs that belong to a span — by the job group the
  * workload set on the calling thread, or, for jobs submitted from
  * pooled threads (which do not inherit the group), by the span's time
  * window.
  */
final class Meter extends SparkListener {

  final class JobRec(val group: String, val submitMs: Long) {
    var stages, tasks = 0L
    var taskMs, stageWallMs = 0L
    var shuffleWrite, shuffleRead, spill, input, output = 0L
  }

  private val jobs = mutable.ArrayBuffer[JobRec]()
  private val stageJob = mutable.HashMap[Int, JobRec]()
  private val blocks = mutable.ArrayBuffer[(Long, Long)]() // (ms, bytes)
  @volatile private var busyNs = 0L

  private def timed(f: => Unit): Unit = synchronized {
    val t = System.nanoTime()
    f
    busyNs += System.nanoTime() - t
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    val j = new JobRec(group, e.time)
    jobs += j
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val i = e.stageInfo
    stageJob.get(i.stageId).foreach { j =>
      j.stages += 1
      for (s <- i.submissionTime; c <- i.completionTime) j.stageWallMs += c - s
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
        j.output += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = timed {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      blocks += ((System.currentTimeMillis(), b.memSize + b.diskSize))
  }

  /** Seconds spent inside this listener's callbacks since the last
    * [[resetBusy]]. */
  def busySeconds: Double = synchronized(busyNs / 1e9)

  def resetBusy(): Unit = synchronized { busyNs = 0L }

  /** Counter sums over the jobs of one span. */
  def attribute(span: Span): Map[String, Double] = synchronized {
    val mine = jobs.filter { j =>
      if (j.group != null && span.group != null) j.group == span.group
      else j.submitMs >= span.startMs && j.submitMs <= span.endMs
    }.toSeq
    def sum(f: JobRec => Long): Double = mine.map(f).sum.toDouble
    Map(
      "jobs" -> mine.size.toDouble,
      "stages" -> sum(_.stages),
      "tasks" -> sum(_.tasks),
      "task_s" -> sum(_.taskMs) / 1e3,
      "stage_wall_s" -> sum(_.stageWallMs) / 1e3,
      "shuffle_write_bytes" -> sum(_.shuffleWrite),
      "shuffle_read_bytes" -> sum(_.shuffleRead),
      "spill_bytes" -> sum(_.spill),
      "input_bytes" -> sum(_.input),
      "output_bytes" -> sum(_.output),
      "block_bytes" -> blocks.collect {
        case (t, b) if t >= span.startMs && t <= span.endMs => b
      }.sum.toDouble)
  }
}

/** One timed call into a layer: name, wall window, the job group the
  * workload set for it (or null), and the span that caused it. */
final case class Span(name: String, group: String, startMs: Long,
                      endMs: Long, seconds: Double, parent: String)

/** Collects spans in memory; written out once, when the run ends. */
final class Tracer(val meter: Option[Meter]) {
  val spans = mutable.ArrayBuffer[Span]()
  private val calls = new java.util.concurrent.atomic.AtomicLong()
  /** Listener callback seconds spent on the timed window's events. */
  var windowBusyS = 0.0

  /** Call right before the timed window starts: delivers every earlier
    * event, then counts listener time from zero. */
  def openWindow()(implicit spark: org.apache.spark.sql.SparkSession): Unit =
    meter.foreach { m =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      m.resetBusy()
    }

  /** Call right after the timed window ends, before any untimed work:
    * delivers the window's last events, then reads the listener time. */
  def closeWindow()(implicit spark: org.apache.spark.sql.SparkSession): Unit =
    meter.foreach { m =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      windowBusyS = m.busySeconds
    }

  /** Time `f` as a span. With `tag` given, a job group unique to this
    * call is set on the calling thread for its duration. */
  def span[T](name: String, tag: String = null, parent: String = null)
             (f: => T)(implicit spark: org.apache.spark.sql.SparkSession): T = {
    val sc = spark.sparkContext
    val group =
      if (tag == null) null else s"$tag:${calls.incrementAndGet()}"
    if (group != null) sc.setJobGroup(group, name)
    val ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f
    finally {
      val sec = (System.nanoTime() - t0) / 1e9
      spans.synchronized {
        spans += Span(name, group, ms, System.currentTimeMillis(), sec, parent)
      }
      if (group != null) sc.clearJobGroup()
    }
  }
}
