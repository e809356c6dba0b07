package graft

import graft.streaming.{AnomalyDetect, EventStreams, MetricEvent, MicroBatchMerge, Session, SessionEvent, Sessionize}
import graft.entry.EntryTables
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
  private def micros(s: String): Long = ts(s).getTime * 1000

  test("hourlyCounts over a memory stream aggregates closed windows") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = in.toDF().toDF("ts", "event_type", "value")
    val q = EventStreams.hourlyCounts(events)
      .writeStream.format("memory").queryName("hourly")
      .outputMode("append").start()
    try {
      in.addData(
        (ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:45:00"), "click", 2.0),
        (ts("2024-01-01 10:50:00"), "view", 5.0))
      q.processAllAvailable()
      // watermark passes 10:00+1h once a later event arrives
      in.addData((ts("2024-01-01 12:30:00"), "click", 1.0))
      q.processAllAvailable()
      val out = spark.table("hourly")
        .select("hour", "event_type", "n", "total_value")
        .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
      assert(out == Set(
        (ts("2024-01-01 10:00:00"), "click", 2L, 3.0),
        (ts("2024-01-01 10:00:00"), "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("quality classifier scores a document stream identically to batch") {
    // the curation scorer is a stateless zero-shuffle projection, so the
    // SAME operator definition runs unchanged on an ingest stream — the
    // property that lets model-based filtering happen at ingest time
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(100)
      .as[(Long, String)].collect().toSeq
    val in = MemoryStream[(Long, String)]
    val q = graft.ext.QualityModel.qualityClassifierScore(
        in.toDF().toDF("doc_id", "text"), "text")
      .writeStream.format("memory").queryName("qc_stream")
      .outputMode("append").start()
    try {
      in.addData(docs)
      q.processAllAvailable()
      val streamed = spark.table("qc_stream")
        .select("doc_id", "logit_milli", "quality_logit", "kept")
        .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
      val batch = graft.ext.QualityModel.qualityClassifierScore(
          docs.toDF("doc_id", "text"), "text")
        .select("doc_id", "logit_milli", "quality_logit", "kept")
        .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
      assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("decontaminateStream flags streamed docs against the static bench") {
    implicit val sqlCtx = spark.sqlContext
    val benchDocs = Seq((100L, "one two three four five")).toDF("doc_id", "text")
    val allDocs = Seq(
      (1L, "one two three four five and a tail"), // shares 3-grams w/ bench
      (2L, "nothing in common with anything"),
      (3L, "zzz two three four qqq")              // shares "two three four"
    )
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val q = graft.streaming.EventStreams
      .decontaminateStream(docs, "doc_id", "text", benchDocs, shingleN = 3)
      .writeStream.format("memory").queryName("decon")
      .outputMode("complete").start()
    try {
      in.addData(allDocs(0), allDocs(1))
      q.processAllAvailable()
      in.addData(allDocs(2))
      q.processAllAvailable()
      val streamed = spark.table("decon")
        .as[(Long, Long)].collect().toMap
      val batch = graft.ext.Dedup.contaminationHits(
          allDocs.toDF("doc_id", "text"), "doc_id", "text", benchDocs,
          shingleN = 3)
        .as[(Long, Long)].collect().toMap
      assert(batch.nonEmpty, "fixture must produce hits")
      assert(streamed == batch)
    } finally q.stop()
  }

  test("sessions: gap splits, state closes via watermark timeout") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[SessionEvent]
    val q = Sessionize.sessions(in.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      in.addData(
        SessionEvent(1L, micros("2024-01-01 10:00:00")),
        SessionEvent(1L, micros("2024-01-01 10:10:00")),
        SessionEvent(1L, micros("2024-01-01 11:00:00")), // >30min gap: new session
        SessionEvent(2L, micros("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // advance watermark far enough to time out all open sessions
      in.addData(SessionEvent(99L, micros("2024-01-01 15:00:00")))
      q.processAllAvailable()
      in.addData(SessionEvent(99L, micros("2024-01-01 20:00:00")))
      q.processAllAvailable()
      val out = spark.table("sessions").as[Session].collect()
        .map(s => (s.user_id, s.session_start_micros, s.n_events)).toSet
      assert(out.contains((1L, micros("2024-01-01 10:00:00"), 2L))) // closed by gap
      assert(out.contains((1L, micros("2024-01-01 11:00:00"), 1L))) // closed by timeout
      assert(out.contains((2L, micros("2024-01-01 10:00:00"), 1L)))
    } finally q.stop()
  }

  test("dedupStream drops in-horizon duplicates and evicts expired state") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = EventStreams.dedupStream(
        in.toDF().toDF("doc_id", "text", "ts"), "text", "ts",
        lateness = "1 hour")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      in.addData(
        (1L, "alpha content", ts("2024-01-01 10:00:00")),
        (2L, "alpha content", ts("2024-01-01 10:05:00")), // dup in-batch
        (3L, "beta content", ts("2024-01-01 10:10:00")))
      q.processAllAvailable()
      // duplicate arriving in a LATER batch, still within the horizon
      in.addData((4L, "alpha content", ts("2024-01-01 10:20:00")))
      q.processAllAvailable()
      val ids1 = spark.table("dedup_stream")
        .select("doc_id").as[Long].collect().toSet
      assert(ids1 == Set(1L, 3L), s"got $ids1")
      // push the watermark far past the horizon -> hash state evicted ->
      // the same content is accepted again (bounded-state semantics)
      in.addData((99L, "sentinel", ts("2024-01-01 20:00:00")))
      q.processAllAvailable()
      in.addData((5L, "alpha content", ts("2024-01-01 20:30:00")))
      q.processAllAvailable()
      val ids2 = spark.table("dedup_stream")
        .select("doc_id").as[Long].collect().toSet
      assert(ids2.contains(5L), s"expired hash not evicted: $ids2")
    } finally q.stop()
  }

  test("microBatchMerge applyBatch: insert then update then idempotent re-apply") {
    val dir = Files.createTempDirectory("graft_merge").toString
    val state = s"$dir/state"
    val hist = s"$dir/history"

    val b1 = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "price")
    MicroBatchMerge.applyBatch(spark, b1, Seq("id"), state, hist)
    assert(spark.read.parquet(state).count() == 2)

    val b2 = Seq((1L, "a2", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "price")
    MicroBatchMerge.applyBatch(spark, b2, Seq("id"), state, hist)
    val s2 = spark.read.parquet(state)
    assert(s2.count() == 3)
    assert(s2.filter(col("id") === 1L).select("name").as[String].head() == "a2")
    // superseded version of id=1 landed in history
    val h = spark.read.parquet(hist)
    assert(h.filter(col("id") === 1L).select("name").as[String].head() == "a")

    // re-applying the identical batch changes nothing (T5 idempotence)
    val before = rowsOf(s2.orderBy("id"))
    MicroBatchMerge.applyBatch(spark, b2, Seq("id"), state, hist)
    assert(rowsOf(spark.read.parquet(state).orderBy("id")) == before)
  }

  test("applyBatch never reads back the state it has just written") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft_noreread").toString
    val state = s"$dir/state"
    val hist = s"$dir/history"
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = {
        qe.analyzed.foreach {
          case l: LogicalRelation => l.relation match {
            case h: HadoopFsRelation =>
              h.location.rootPaths.foreach(p => reads.add(p.toString))
            case _ =>
          }
          case _ =>
        }
        plans.add(qe.analyzed.toString)
      }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val b1 = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "price")
      MicroBatchMerge.applyBatch(spark, b1, Seq("id"), state, hist)
      val b2 = Seq((1L, "a2", 10.0), (3L, "c", 30.0)).toDF("id", "name", "price")
      MicroBatchMerge.applyBatch(spark, b2, Seq("id"), state, hist)
      // the listener bus is async and in order: once a sentinel query
      // arrives, every query the two batches ran has been delivered
      spark.range(1).toDF("graft_listener_sentinel").collect()
      val deadline = System.nanoTime() + 10000000000L
      while (!plans.asScala.exists(_.contains("graft_listener_sentinel")) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      assert(plans.asScala.exists(_.contains("graft_listener_sentinel")))
      // the state writes were seen, and no query read the written files
      assert(plans.asScala.exists(_.contains(s"$state.tmp")))
      assert(!reads.asScala.exists(_.endsWith("state.tmp")),
        s"applyBatch re-read its own output: ${reads.asScala.toList}")
    } finally spark.listenerManager.unregister(listener)
    assert(spark.read.parquet(state).count() == 3)
  }

  test("applyBatch closes each SCD2 interval at its successor's updated_at") {
    val dir = Files.createTempDirectory("graft_interval").toString
    val state = s"$dir/state"
    val hist = s"$dir/history"
    val b1 = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "price")
    MicroBatchMerge.applyBatch(spark, b1, Seq("id"), state, hist)
    // id=1 updated, id=2 absent (tombstoned)
    val b2 = Seq((1L, "a2", 10.0)).toDF("id", "name", "price")
    MicroBatchMerge.applyBatch(spark, b2, Seq("id"), state, hist)
    def stamps(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(col("id"), col(c)).as[(Long, java.sql.Timestamp)]
        .collect().toMap
    val updatedAt = stamps(spark.read.parquet(state), "updated_at")
    val validTo = stamps(spark.read.parquet(hist), "valid_to")
    assert(validTo.keySet == Set(1L, 2L))
    // no window in which neither the old nor the new version is valid
    assert(validTo(1L) == updatedAt(1L))
    assert(validTo(2L) == updatedAt(2L))
  }

  test("applyBatch recovers state after a crash between rename-aside and swap-in") {
    val dir = Files.createTempDirectory("graft_crash").toString
    val state = s"$dir/state"
    val hist = s"$dir/history"
    val b1 = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "price")
    MicroBatchMerge.applyBatch(spark, b1, Seq("id"), state, hist)

    // simulate the worst crash window: live state moved aside, replacement
    // not yet swapped in — exactly the window the old delete-then-rename
    // protocol could die in, silently re-initializing all state
    import org.apache.hadoop.fs.Path
    val fs = new Path(state).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new Path(state), new Path(state + ".old")))
    assert(!fs.exists(new Path(state)))

    // the next batch must see the FULL pre-crash state, not start empty
    val b2 = Seq((1L, "a2", 10.0), (3L, "c", 30.0)).toDF("id", "name", "price")
    MicroBatchMerge.applyBatch(spark, b2, Seq("id"), state, hist)
    val s = spark.read.parquet(state)
    assert(s.count() == 3) // 1 updated, 2 tombstoned-but-present, 3 inserted
    assert(s.filter(col("id") === 2L).select("is_deleted").as[Boolean].head())
    assert(s.filter(col("id") === 1L).select("name").as[String].head() == "a2")
    assert(!fs.exists(new Path(state + ".old")))
  }

  test("retried batch does not duplicate history rows") {
    val dir = Files.createTempDirectory("graft_retry").toString
    val state = s"$dir/state"
    val hist = s"$dir/history"
    val b1 = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "price")
    MicroBatchMerge.applyBatch(spark, b1, Seq("id"), state, hist)

    // snapshot the exact pre-batch state (updated_at values and all)
    val backup = s"$dir/state_backup"
    spark.read.parquet(state).write.parquet(backup)

    // crash AFTER history append but BEFORE the state swap: restore the
    // pre-batch state and retry the same batch — scd2History's
    // (pk, valid_from) anti-join against recorded history must suppress
    // the duplicate
    val b2 = Seq((1L, "a2", 10.0), (2L, "b", 20.0)).toDF("id", "name", "price")
    MicroBatchMerge.applyBatch(spark, b2, Seq("id"), state, hist)
    val histAfterFirst = spark.read.parquet(hist).count()
    assert(histAfterFirst == 1) // superseded image of id=1

    import org.apache.hadoop.fs.Path
    val fs = new Path(state).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(state), true)
    spark.read.parquet(backup).write.parquet(state) // rewind to pre-batch state
    MicroBatchMerge.applyBatch(spark, b2, Seq("id"), state, hist) // the "retry"
    assert(spark.read.parquet(hist).count() == histAfterFirst,
      "retried batch appended duplicate history rows")
    // and the retried state converges to the same post-batch image
    assert(spark.read.parquet(state)
      .filter(col("id") === 1L).select("name").as[String].head() == "a2")
  }

  test("a failed state write swaps nothing, and the retry appends no " +
    "duplicate history") {
    val dir = Files.createTempDirectory("graft_legfail").toString
    val state = s"$dir/state"
    val hist = s"$dir/history"
    MicroBatchMerge.applyBatch(spark, Seq((1L, "a", 10.0), (2L, "b", 20.0))
      .toDF("id", "name", "price"), Seq("id"), state, hist)
    MicroBatchMerge.applyBatch(spark, Seq((1L, "a2", 10.0), (2L, "b", 20.0))
      .toDF("id", "name", "price"), Seq("id"), state, hist)
    val stateBefore = rowsOf(spark.read.parquet(state).orderBy("id"))
    val histBefore = spark.read.parquet(hist).count()
    assert(histBefore == 1)

    val b3 = Seq((1L, "a3", 10.0), (2L, "b", 20.0)).toDF("id", "name", "price")
    // the failing protocol waits for the history append's job commit,
    // which writes this marker last
    assert(new java.io.File(s"$hist/_SUCCESS").delete())
    val key = "spark.sql.sources.commitProtocolClass"
    val protocol = spark.conf.get(key)
    spark.conf.set(key, classOf[FailingStateWriteProtocol].getName)
    val err =
      try intercept[Exception](
        MicroBatchMerge.applyBatch(spark, b3, Seq("id"), state, hist))
      finally spark.conf.set(key, protocol)
    assert(Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("injected")), err)
    // the history append landed before the state write failed
    assert(spark.read.parquet(hist).count() == histBefore + 1)

    import org.apache.hadoop.fs.Path
    val fs = new Path(state).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(s"$state.old")))
    assert(rowsOf(spark.read.parquet(state).orderBy("id")) == stateBefore)

    MicroBatchMerge.applyBatch(spark, b3, Seq("id"), state, hist) // the retry
    val h = spark.read.parquet(hist)
    assert(h.count() == histBefore + 1, "the retry duplicated history rows")
    assert(h.select("id", "valid_from").distinct().count() == h.count())
    assert(spark.read.parquet(state).filter(col("id") === 1L)
      .select("name").as[String].head() == "a3")
  }

  test("session start absorbs a late cross-batch event within the gap") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[SessionEvent]
    val q = Sessionize.sessions(in.toDS())
      .writeStream.format("memory").queryName("sessions_ooo")
      .outputMode("append").start()
    try {
      in.addData(SessionEvent(1L, micros("2024-01-01 10:10:00")))
      q.processAllAvailable()
      // late event: earlier than the open session's start, within both the
      // gap and the 1h watermark — arrives in a LATER micro-batch
      in.addData(SessionEvent(1L, micros("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // close everything via watermark timeout
      in.addData(SessionEvent(99L, micros("2024-01-01 15:00:00")))
      q.processAllAvailable()
      in.addData(SessionEvent(99L, micros("2024-01-01 20:00:00")))
      q.processAllAvailable()
      val out = spark.table("sessions_ooo").as[Session].collect()
        .filter(_.user_id == 1L)
        .map(s => (s.session_start_micros, s.session_end_micros, s.n_events))
      // batch ground truth: ONE session [10:00, 10:10] with 2 events
      assert(out.toSeq == Seq(
        (micros("2024-01-01 10:00:00"), micros("2024-01-01 10:10:00"), 2L)))
    } finally q.stop()
  }

  test("streaming sessions equal batch-computed sessions on real events") {
    // ground truth computed independently in plain Scala from the same rows;
    // the read goes through the catalog's schema-adaptive events() helper so
    // a testdata ts-type change cannot desynchronize spec and engine
    val rows = EntryTables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_micros"))
      .as[(Long, Long)].collect()
    val gap = Sessionize.GapMicros
    val expected = rows.groupBy(_._1).flatMap { case (user, evs) =>
      val ts = evs.map(_._2).sorted
      val sessions = scala.collection.mutable.ListBuffer[(Long, Long, Long)]()
      var start = ts.head; var last = ts.head; var n = 1L
      ts.tail.foreach { t =>
        if (t - last <= gap) { last = t; n += 1 }
        else { sessions += ((start, last, n)); start = t; last = t; n = 1 }
      }
      sessions += ((start, last, n))
      sessions.map(s => (user, s._1, s._2, s._3))
    }.toSet

    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[SessionEvent]
    val q = Sessionize.sessions(in.toDS())
      .writeStream.format("memory").queryName("sessions_equiv")
      .outputMode("append").start()
    try {
      in.addData(rows.map { case (u, t) => SessionEvent(u, t) }.toSeq)
      q.processAllAvailable()
      // two sentinel batches push the watermark past every open session
      val maxTs = rows.map(_._2).max
      in.addData(SessionEvent(-1L, maxTs + 10L * gap))
      q.processAllAvailable()
      in.addData(SessionEvent(-1L, maxTs + 20L * gap))
      q.processAllAvailable()
      val got = spark.table("sessions_equiv").as[Session].collect()
        .filter(_.user_id >= 0)
        .map(s => (s.user_id, s.session_start_micros, s.session_end_micros,
          s.n_events)).toSet
      assert(got == expected,
        s"streaming=${got.size} sessions, batch=${expected.size}")
    } finally q.stop()
  }

  test("intervalJoin stream-stream equals the same plan on batch frames") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = Seq(
      (1L, ts("2024-01-01 10:00:00"), "c1"),
      (1L, ts("2024-01-01 10:20:00"), "c2"),
      (1L, ts("2024-01-01 09:00:00"), "c3"), // outside 30m lookback of p1
      (2L, ts("2024-01-01 10:10:00"), "c4"),
      (3L, ts("2024-01-01 10:00:00"), "c5")) // key with no purchase
    val purchases = Seq(
      (1L, ts("2024-01-01 10:25:00"), "p1"),
      (2L, ts("2024-01-01 10:05:00"), "p2")) // c4 is AFTER p2 -> no match

    val batch = EventStreams.intervalJoin(
        purchases.toDF("puser", "pts", "pid"),
        clicks.toDF("cuser", "cts", "cid"),
        "puser", "cuser", "pts", "cts", lookback = "30 minutes")
      .select("pid", "cid").as[(String, String)].collect().toSet
    assert(batch == Set(("p1", "c1"), ("p1", "c2")))

    val cIn = MemoryStream[(Long, java.sql.Timestamp, String)]
    val pIn = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = EventStreams.intervalJoin(
        pIn.toDF().toDF("puser", "pts", "pid"),
        cIn.toDF().toDF("cuser", "cts", "cid"),
        "puser", "cuser", "pts", "cts", lookback = "30 minutes")
      .select("pid", "cid")
      .writeStream.format("memory").queryName("ivj")
      .outputMode("append").start()
    try {
      cIn.addData(clicks)
      q.processAllAvailable()
      pIn.addData(purchases)
      q.processAllAvailable()
      val got = spark.table("ivj").as[(String, String)].collect().toSet
      assert(got == batch)
    } finally q.stop()
  }

  test("streaming file-source merge loop end-to-end with AvailableNow trigger") {
    val dir = Files.createTempDirectory("graft_stream").toString
    val src = s"$dir/in"
    new java.io.File(src).mkdirs()
    val b1 = Seq((1L, "a", 10.0)).toDF("id", "name", "price")
    b1.write.mode("append").parquet(src)
    val q = MicroBatchMerge.start(spark, src, src, Seq("id"),
      s"$dir/state", s"$dir/hist", s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination(60000)
    val st = spark.read.parquet(s"$dir/state")
    assert(st.count() == 1)
    assert(st.columns.contains("is_deleted"))
  }

  test("anomaly stream equals the batch fold across time-ordered batches") {
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000000L
    // key m: 6 tame values, a spike, more tame, a second spike
    val mVals = Seq(10.0, 10.5, 9.5, 10.2, 9.8, 10.1, 50.0, 10.0, 9.9, -40.0)
    val m = mVals.zipWithIndex.map { case (v, i) =>
      MetricEvent("m", base + i * 1000000L, v) }
    // key q: constant (zero variance) -> never alarms
    val qEvs = (0 until 8).map(i => MetricEvent("q", base + i * 1000000L, 5.0))
    val all = (m ++ qEvs).sortBy(_.ts_micros)
    val expected = AnomalyDetect.anomaliesBatch(all, threshold = 3.0,
      minPrior = 5)
    assert(expected.map(e => (e.key, e.value)).toSet ==
      Set(("m", 50.0), ("m", -40.0)), s"fixture sanity: $expected")

    val in = MemoryStream[MetricEvent]
    val q = AnomalyDetect.anomalies(in.toDS(), threshold = 3.0, minPrior = 5)
      .writeStream.format("memory").queryName("anomalies")
      .outputMode("append").start()
    try {
      val (b1, b2) = all.splitAt(9) // split mid-key, time-ordered batches
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("anomalies")
        .as[graft.streaming.Anomaly].collect().toSet
      assert(streamed == expected.toSet)
    } finally q.stop()
  }

  test("politeness slots: a cycle split across two micro-batches in rank " +
    "order ≡ the one-shot batch schedule; a second cycle starts strictly " +
    "after the first (cross-batch state)") {
    import graft.streaming.{FetchSlot, FrontierCandidate, PolitenessStream}
    implicit val sqlCtx = spark.sqlContext
    val cycle1 = Seq(
      FrontierCandidate("a.com", "u1", 1L, 2000000L),
      FrontierCandidate("a.com", "u2", 2L, 2000000L),
      FrontierCandidate("a.com", "u3", 3L, 2000000L),
      FrontierCandidate("b.com", "v1", 1L, 1000000L),
      FrontierCandidate("b.com", "v2", 2L, 1000000L))
    // one-shot truth #1: the shared fold's batch reference
    val expected = PolitenessStream.slotsBatch(cycle1).toSet
    // one-shot truth #2: the stateless batch operator itself —
    // (rank−1)·delay over the whole cycle must coincide
    val viaBatchOp = graft.ext.UrlOps.politenessSchedule(
        cycle1.toDF("link_host", "url_canon", "rank", "delay_micros"),
        "link_host", "rank",
        Seq(("a.com", "2", 2000000L))
          .toDF("host", "crawl_delay_raw", "crawl_delay_micros"),
        defaultDelayMicros = 1000000L)
      .select(col("link_host").as("host"), col("url_canon"),
        col("rank"), col("fetch_at_micros"))
      .as[FetchSlot].collect().toSet
    assert(expected === viaBatchOp)

    // the candidates BUILDER reproduces the hand-built rows: delays
    // joined on (pruned broadcast), default applied, delay on the row
    val built = PolitenessStream.candidates(
        cycle1.map(c => (c.host, c.url_canon, c.rank))
          .toDF("link_host", "url_canon", "rank"),
        "link_host", "rank", "url_canon",
        Seq(("a.com", "2", 2000000L), ("unseen.com", "9", 9000000L))
          .toDF("host", "crawl_delay_raw", "crawl_delay_micros"),
        defaultDelayMicros = 1000000L)
      .collect().toSet
    assert(built === cycle1.toSet)

    val in = MemoryStream[FrontierCandidate]
    val q = PolitenessStream.slots(in.toDS())
      .writeStream.format("memory").queryName("polite_slots")
      .outputMode("append").start()
    try {
      // cycle 1 split mid-host, rank-ordered
      in.addData(cycle1.take(2) :+ cycle1(3): _*); q.processAllAvailable()
      in.addData(cycle1(2), cycle1(4)); q.processAllAvailable()
      val streamed = spark.table("polite_slots")
        .as[FetchSlot].collect().toSet
      assert(streamed === expected)
      // cycle 2: a fresh per-cycle budget (ranks restart at 1) must
      // schedule AFTER cycle 1's last slot + delay — the semantics the
      // stateless batch operator cannot give
      in.addData(FrontierCandidate("a.com", "u4", 1L, 2000000L))
      q.processAllAvailable()
      val second = spark.table("polite_slots")
        .as[FetchSlot].collect().filter(_.url_canon == "u4").toSeq
      assert(second === Seq(
        FetchSlot("a.com", "u4", 1L, 6000000L))) // 3 slots × 2s before it
      val c1Max = expected.filter(_.host == "a.com")
        .map(_.fetch_at_micros).max
      assert(second.head.fetch_at_micros > c1Max)
    } finally q.stop()
  }

  test("throttle verdicts: a response stream split across micro-batches " +
    "≡ the one-shot fold; 429/503 arms (explicit Retry-After or the " +
    "crawl-delay floor), a healthy response collapses to the floor, " +
    "errors leave it armed across the batch boundary") {
    import graft.streaming.{ThrottleEvent, ThrottleStream, ThrottleVerdict}
    implicit val sqlCtx = spark.sqlContext
    val evs = Seq(
      ThrottleEvent("a.com", 1L, 200L, -1L, 1000000L), // healthy: floor
      ThrottleEvent("a.com", 2L, 429L, 60000000L, 1000000L), // arm 60s
      ThrottleEvent("a.com", 3L, 404L, -1L, 1000000L), // error: stays armed
      ThrottleEvent("a.com", 4L, 200L, -1L, 1000000L), // recovery: floor
      ThrottleEvent("b.com", 1L, 503L, -1L, 2000000L), // no RA: arm at floor
      ThrottleEvent("b.com", 2L, 503L, 30000000L, 2000000L)) // lengthen
    val expected = ThrottleStream.verdictsBatch(evs)
    assert(expected.filter(_.host == "a.com").map(_.backoff_micros) ===
      Seq(1000000L, 60000000L, 60000000L, 1000000L))
    assert(expected.filter(_.host == "b.com").map(_.backoff_micros) ===
      Seq(2000000L, 30000000L))
    val in = MemoryStream[ThrottleEvent]
    val q = ThrottleStream.verdicts(in.toDS())
      .writeStream.format("memory").queryName("throttle_verdicts")
      .outputMode("append").start()
    try {
      // split mid-a.com: the 60s throttle armed in batch 1 must still
      // govern a.com's 404 verdict and collapse on batch 2's 200
      in.addData(evs.take(3): _*); q.processAllAvailable()
      in.addData(evs.drop(3): _*); q.processAllAvailable()
      val streamed = spark.table("throttle_verdicts")
        .as[ThrottleVerdict].collect().toSet
      assert(streamed === expected.toSet)
    } finally q.stop()
  }

  test("identity changes: q186 precedence across micro-batches — " +
    "redirect beats declaration beats self, weaker evidence never " +
    "downgrades, equal-tier retargets emit, repeats and cross-host " +
    "declarations stay silent") {
    import graft.streaming.{IdentityChange, IdentityEvent, IdentityStream}
    implicit val sqlCtx = spark.sqlContext
    val u = "https://h.com/a"
    val evs = Seq(
      IdentityEvent(u, 1L, "", "", false), // self announce (tier 2)
      IdentityEvent(u, 2L, "", "https://h.com/canon", true), // decl (1)
      IdentityEvent(u, 3L, "", "https://evil.net/x", false), // cross-host
      IdentityEvent(u, 4L, "", "https://h.com/canon", true), // repeat
      IdentityEvent(u, 5L, "https://h.com/final1", "", false), // 301 (0)
      IdentityEvent(u, 6L, "", "https://h.com/canon2", true), // weaker
      IdentityEvent(u, 7L, "https://h.com/final2", "", false), // retarget
      IdentityEvent("https://h.com/b", 1L, "", "", false))
    val expected = IdentityStream.changesBatch(evs)
    assert(expected.filter(_.url_canon == u)
      .map(c => (c.seq, c.identity, c.tier)) === Seq(
      (1L, u, 2),
      (2L, "https://h.com/canon", 1),
      (5L, "https://h.com/final1", 0),
      (7L, "https://h.com/final2", 0)))
    assert(expected.filter(_.url_canon == "https://h.com/b")
      .map(c => (c.identity, c.tier)) === Seq(("https://h.com/b", 2)))
    val in = MemoryStream[IdentityEvent]
    val q = IdentityStream.changes(in.toDS())
      .writeStream.format("memory").queryName("identity_changes")
      .outputMode("append").start()
    try {
      // split mid-key: the tier-1 state armed in batch 1 must silence
      // batch 2's weaker declaration and yield to its redirect
      in.addData(evs.take(4) :+ evs(7): _*); q.processAllAvailable()
      in.addData(evs.slice(4, 7): _*); q.processAllAvailable()
      val streamed = spark.table("identity_changes")
        .as[IdentityChange].collect().toSet
      assert(streamed === expected.toSet)
    } finally q.stop()
  }

  test("cross-batch stragglers are stale: a late event with seq at or " +
    "below the high-water mark neither emits nor perturbs throttle or " +
    "identity state") {
    import graft.streaming.{IdentityChange, IdentityEvent, IdentityStream,
      ThrottleEvent, ThrottleStream, ThrottleVerdict}
    implicit val sqlCtx = spark.sqlContext
    // throttle: 503 (seq 1) then recovery (seq 3) land in batch 1; the
    // straggling 503 re-delivery (seq 1 again) and an old intermediate
    // 503 (seq 2) arrive in batch 2 — neither may re-arm the host
    val tin = MemoryStream[ThrottleEvent]
    val tq = ThrottleStream.verdicts(tin.toDS())
      .writeStream.format("memory").queryName("stale_throttle")
      .outputMode("append").start()
    try {
      tin.addData(
        ThrottleEvent("a.com", 1L, 503L, 60000000L, 1000000L),
        ThrottleEvent("a.com", 3L, 200L, -1L, 1000000L))
      tq.processAllAvailable()
      tin.addData(
        ThrottleEvent("a.com", 1L, 503L, 60000000L, 1000000L),
        ThrottleEvent("a.com", 2L, 503L, 90000000L, 1000000L),
        ThrottleEvent("a.com", 4L, 404L, -1L, 1000000L))
      tq.processAllAvailable()
      val got = spark.table("stale_throttle").as[ThrottleVerdict]
        .collect().sortBy(_.seq).map(v => (v.seq, v.backoff_micros)).toSeq
      // seq 4's 404 sees a DISARMED host (floor), not a re-armed 90s
      assert(got === Seq((1L, 60000000L), (3L, 1000000L),
        (4L, 1000000L)))
    } finally tq.stop()

    // identity: redirect retarget (seq 3) lands first; the stale
    // original redirect observation (seq 2) straggles in later and
    // must not re-point the identity backwards
    val u = "https://h.com/a"
    val iin = MemoryStream[IdentityEvent]
    val iq = IdentityStream.changes(iin.toDS())
      .writeStream.format("memory").queryName("stale_identity")
      .outputMode("append").start()
    try {
      iin.addData(
        IdentityEvent(u, 1L, "", "", false),
        IdentityEvent(u, 3L, "https://h.com/final2", "", false))
      iq.processAllAvailable()
      iin.addData(IdentityEvent(u, 2L, "https://h.com/final1", "", false))
      iq.processAllAvailable()
      val got = spark.table("stale_identity").as[IdentityChange]
        .collect().sortBy(_.seq).map(c => (c.seq, c.identity)).toSeq
      assert(got === Seq((1L, u), (3L, "https://h.com/final2")))
    } finally iq.stop()
  }

  test("anomaly detector stays silent through the cold-start window") {
    val base = 1700000000000000L
    // wild swings but only 4 observations with minPrior = 5
    val evs = Seq(0.0, 100.0, -100.0, 50.0).zipWithIndex.map {
      case (v, i) => MetricEvent("k", base + i * 1000000L, v) }
    assert(AnomalyDetect.anomaliesBatch(evs, threshold = 1.0,
      minPrior = 5).isEmpty)
  }
}

/** Fails the commit of any write into a `.tmp` directory (the merge's
  * state write) once the concurrent history append has committed (its
  * `_SUCCESS` marker, removed by the spec beforehand, is back), as a
  * crash after the append would. */
class FailingStateWriteProtocol(jobId: String, path: String, dynamic: Boolean)
    extends org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol(
      jobId, path, dynamic) {
  override def commitJob(job: org.apache.hadoop.mapreduce.JobContext,
      commits: Seq[org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage]): Unit = {
    if (path.endsWith(".tmp")) {
      val dir = new org.apache.hadoop.fs.Path(path).getParent.toUri.getPath
      val marker = new java.io.File(dir, "history/_SUCCESS")
      val deadline = System.nanoTime() + 60000000000L
      while (!marker.exists()) {
        if (System.nanoTime() > deadline)
          throw new IllegalStateException(s"no history commit ($marker) within 60 s")
        Thread.sleep(20)
      }
      throw new java.io.IOException("injected state write failure")
    }
    super.commitJob(job, commits)
  }
}
