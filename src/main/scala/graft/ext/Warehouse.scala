package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Managed-table hygiene for artifact writers that OVERWRITE into the
  * session warehouse (`Graph.writePageRank`, `RobotsCache.rebuild`):
  * with the in-memory catalog, a managed table written in a PREVIOUS
  * session leaves its directory behind but not its catalog entry, and
  * `saveAsTable(overwrite)` then dies with LOCATION_ALREADY_EXISTS —
  * the table is new to this session's catalog, so overwrite never
  * fires. Rebuilds must drop both the entry and any orphaned
  * directory first.
  */
object Warehouse {

  /** Run two INDEPENDENT eager actions (artifact writes to DIFFERENT
    * tables, localCheckpoint materializations) concurrently — Spark's
    * scheduler happily runs several jobs at once inside one
    * application; actions are only sequential because the driver calls
    * them sequentially, so an artifact pair (rules + fetch log, state
    * + meta) should not pay its write latencies back to back. Results
    * are unchanged — only submission order is. Callers must not point
    * both actions at the same table. See the [[Seq]] form for how the
    * legs run and fail. */
  def inParallel[A, B](a: => A, b: => B): (A, B) = {
    val Seq(ra, rb) = inParallel(Seq[() => Any](() => a, () => b))
    (ra.asInstanceOf[A], rb.asInstanceOf[B])
  }

  /** Run independent eager actions concurrently and return their
    * results in order.
    *
    * The legs run on a bounded pool of `graft-parallel-N` daemon
    * threads. A leg that finds no idle thread runs on the calling
    * thread instead, so nested calls never wait on a full pool. Each
    * leg runs under the caller's job group, description and scheduler
    * pool, with no inherited SQL execution id, so its jobs count
    * toward whatever span the caller set; it also carries a job tag of
    * its own. The first leg to fail cancels its siblings' jobs by tag;
    * a sibling not yet started does not start. The call returns only
    * after every leg has ended, and then rethrows that first failure.
    */
  def inParallel[T](legs: Seq[() => T]): Seq[T] = {
    import java.util.concurrent.atomic.AtomicReference
    val sc = SparkSession.active.sparkContext
    val inherited = CopiedProperties.map(k => k -> sc.getLocalProperty(k)) ++
      ClearedProperties.map(_ -> (null: String))
    val call = Calls.incrementAndGet()
    val tags = legs.indices.map(i => s"graft-parallel-$call-$i")
    val failure = new AtomicReference[Throwable]()
    val running = legs.zip(tags).map { case (leg, tag) =>
      LegPool.submit(new java.util.concurrent.Callable[T] { def call(): T = {
        if (failure.get != null)
          throw new java.util.concurrent.CancellationException(
            s"$tag not started: a sibling leg failed")
        val saved = inherited.map { case (k, _) => k -> sc.getLocalProperty(k) }
        inherited.foreach { case (k, v) => sc.setLocalProperty(k, v) }
        sc.addJobTag(tag)
        try leg()
        catch {
          case e: Throwable =>
            if (failure.compareAndSet(null, e))
              tags.filterNot(_ == tag).foreach(sc.cancelJobsWithTag)
            throw e
        } finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      }})
    }
    val ended = running.map(f => scala.util.Try(f.get()))
    Option(failure.get).foreach(e => throw e)
    ended.map(_.get)
  }

  private val JobTags = "spark.job.tags"
  private val CopiedProperties = Seq("spark.jobGroup.id",
    "spark.job.description", "spark.job.interruptOnCancel",
    "spark.scheduler.pool", JobTags, "spark.sql.execution.root.id")
  private val ClearedProperties = Seq("spark.sql.execution.id")
  private val Calls = new java.util.concurrent.atomic.AtomicLong()

  private lazy val LegPool = {
    import java.util.concurrent._
    val threads = new atomic.AtomicInteger()
    new ThreadPoolExecutor(0, math.max(4, Runtime.getRuntime.availableProcessors),
      60L, TimeUnit.SECONDS, new SynchronousQueue[Runnable](),
      (r: Runnable) => {
        val t = new Thread(r, s"graft-parallel-${threads.incrementAndGet()}")
        t.setDaemon(true)
        t
      },
      new ThreadPoolExecutor.CallerRunsPolicy())
  }

  /** Drop `table` from the catalog if present AND delete its
    * would-be managed location if a prior session left one behind.
    * Safe on tables that never existed. */
  def resetTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(ident))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Overwrite `table` with `df` THROUGH a stage table — the
    * maintenance-rewrite discipline (`IndexAudit.repairIvfAssignments`'
    * pattern) for rewrites whose input is the target table itself:
    * Spark refuses an in-place overwrite of its own input, and the
    * naive escape (`localCheckpoint` the new contents, then overwrite)
    * pins the ENTIRE new state in executor block storage for the
    * duration — at corpus scale that holds the whole table in memory
    * and dies with any executor. Staging writes the new contents to
    * `<table>__compact` (same bucket/sort layout, so downstream
    * Exchange-free plans survive), re-reads the STAGE (durable
    * parquet, executor-loss-safe) to overwrite the target, and drops
    * the stage. Data writes twice; nothing corpus-sized is ever held
    * in memory. */
  def stagedOverwrite(spark: SparkSession, table: String, df: DataFrame,
                      nBuckets: Int, bucketCols: Seq[String],
                      sortCols: Seq[String]): Unit = {
    require(bucketCols.nonEmpty, s"stagedOverwrite($table): no bucket cols")
    val stage = s"${table}__compact"
    resetTable(spark, stage)
    def write(src: DataFrame, target: String): Unit = {
      val w = src.write.format("parquet")
        .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*)
       else w).mode("overwrite").saveAsTable(target)
    }
    write(df, stage)
    write(spark.table(stage), table)
    spark.sql(s"DROP TABLE $stage")
  }
}
