package graft
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets
import org.apache.spark.metrics.source.CodegenMetrics

/** Benchmark entrypoint: times every catalog query at SPARK_GRAFT_SF_DIR.
  * Each query runs SPARK_GRAFT_RUNS times (default 3) and the per-query
  * MEDIAN is recorded; `spread_pct` reports the suite's measured rep-to-rep
  * noise so a reader can judge regressions against the actual noise floor.
  *
  * Output contract: ONE JSON line on stdout
  * `{"metric":"total","value":N,"unit":"sec","runs":3,"spread_pct":N,
  * "queries":{...},"compiles":{...},"sf":...}`: `compiles` is the number
  * of classes Spark's code generator compiled during the median rep.
  * ALSO written to `$SPARK_GRAFT_OUT/bench.json` (default ./bench.json) so a
  * harness that can't strip sbt's `[info]` prefix still gets the metric.
  *
  * Queries are materialized through the `noop` sink, not `count()`: count lets
  * Catalyst prune projection work a real consumer would pay for; noop executes
  * the full plan and discards rows. Failures are LOUD — a stack trace on
  * stderr and a negative timing — never silently recorded as a fast run.
  */
object Bench {

  /** Where this run's record lands. The regression gate refuses to
    * ADOPT a contended record as the prior: a contended run must not
    * overwrite a clean `bench.json` (the committed prior future gates
    * compare against — twice in a row the persisted prior was a
    * contention-window pass), so it lands in `bench_contended.json`
    * instead; re-run at idle to move the prior. A contended prior may
    * be replaced (freshness wins between two non-gate-grade records),
    * and a first run writes regardless (self-describing via its own
    * stamp). */
  private[graft] def benchOutPath(outDir: java.nio.file.Path,
                                  contended: Boolean): java.nio.file.Path = {
    val priorFile = outDir.resolve("bench.json")
    val priorIsClean =
      try Files.exists(priorFile) &&
        !new String(Files.readAllBytes(priorFile),
          StandardCharsets.UTF_8).contains("\"contended\":true")
      catch { case _: Exception => false }
    if (contended && priorIsClean) outDir.resolve("bench_contended.json")
    else priorFile
  }

  /** Host-contention telemetry: `[1m, 5m, 15m]` load averages from
    * /proc/loadavg, or null where unreadable. Recorded before AND after
    * the timing loop so a contended run is machine-flagged in the
    * artifact itself — three rounds of driver-vs-idle divergence
    * (BASELINE.md adjudication protocol) were adjudicated by hand
    * before this existed.
    */
  private def loadAvg(): String =
    try {
      val parts = new String(Files.readAllBytes(Paths.get("/proc/loadavg")),
        StandardCharsets.UTF_8).trim.split("\\s+")
      s"[${parts(0)},${parts(1)},${parts(2)}]"
    } catch { case _: Exception => "null" }

  /** MemAvailable from /proc/meminfo in GiB (one decimal), or null. */
  private def memAvailGb(): String =
    try {
      val kb = scala.io.Source.fromFile("/proc/meminfo").getLines()
        .collectFirst { case l if l.startsWith("MemAvailable:") =>
          l.split("\\s+")(1).toLong }
      kb.map(k => (math.rint(k / 1048576.0 * 10) / 10).toString).getOrElse("null")
    } catch { case _: Exception => "null" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.defaultCpus
    val spark = Sessions.local(cpus)
    // SPARK_GRAFT_ONLY=q26,q13* restricts the run (dev-loop
    // convenience; prefix/family-glob semantics live in BenchUtil)
    val selected = BenchUtil.selectQueries(
      sys.env.get("SPARK_GRAFT_ONLY"), SparkEntry.queries)
    var failed = List.empty[String]
    // absorb JVM/codegen/scheduler warmup OUTSIDE any query's timing
    // window (it was inflating whichever query sorted first by ~5 s)
    spark.range(0, 1000000, 1, 32).selectExpr("sum(id)").collect()
    selected.headOption.foreach { case (_, fn) =>
      try fn(spark.newSession(), sfDir).limit(1).collect()
      catch { case _: Throwable => () } // warmup only; failures surface below
    }
    // Per-query repetition count: single-shot timings in this VM spread
    // 95.9-166 s on identical binaries (~40% noise floor — wider than any
    // plausible regression), so each query runs `runs` times and the MEDIAN
    // is recorded. 83 queries × ~1.4 s × 3 ≈ 6 min, still inside the
    // harness budget. SPARK_GRAFT_RUNS=1 restores the old single-shot.
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt.max(1)
    val loadBefore = loadAvg()
    val memBefore = memAvailGb()
    // sorted execution => run-to-run comparable timings
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      // Per-query isolation: each repetition runs in its own SQL session
      // (own cache/conf, shared context) and starts after an explicit GC,
      // so one query's heap debris is never collected inside a neighbor's
      // timing window (round-2's recorded numbers were 3-50× inflated by
      // exactly that kind of cross-query contamination).
      // (seconds, classes compiled) per rep
      var times = List.empty[(Double, Long)]
      var broken = false
      var i = 0
      while (i < runs && !broken) {
        val session = spark.newSession()
        System.gc()
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
        val t0 = System.nanoTime()
        try {
          fn(session, sfDir).write.format("noop").mode("overwrite").save()
          times ::= ((System.nanoTime() - t0) / 1e9, compiles)
        } catch {
          case e: Throwable =>
            failed ::= name
            System.err.println(s"BENCH FAILURE in $name: $e")
            e.printStackTrace()
            // negative = failed, unmissable; remaining reps are pointless
            times = List((-(System.nanoTime() - t0) / 1e9, compiles))
            broken = true
        }
        i += 1
      }
      val sorted = times.sortBy(_._1)
      val (median, medianCompiles) = sorted(sorted.size / 2)
      // per-query relative spread: how far apart the reps landed
      val spread =
        if (median <= 0 || times.size < 2) 0.0
        else (sorted.last._1 - sorted.head._1) / median
      (name, median, spread, medianCompiles)
    }
    val qs = results.map { case (k, v, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val compiles = results.map { case (k, _, _, c) => s"\"" + k + "\":" + c }
      .mkString("{", ",", "}")
    // a failed run must never report a smaller (= faster-looking) total:
    // value is null unless every query succeeded
    val total =
      if (failed.nonEmpty) "null" else results.map(_._2).sum.toString
    // the suite-level noise floor: median over queries of each query's
    // (max-min)/median across its reps, as a percentage — reported so the
    // 2× gate can be judged against the measured variance, not guessed
    val spreadPct = {
      val ss = results.map(_._3).sorted
      if (ss.isEmpty) 0.0 else math.rint(ss(ss.size / 2) * 1000) / 10
    }
    val loadAfter = loadAvg()
    val memAfter = memAvailGb()
    // round-over-round regression gate: compare against the PRIOR
    // bench.json (the committed artifact of the last round's run —
    // read before this run overwrites it) and embed the flagged
    // queries, so the verdict reads regressions directly instead of
    // diffing rounds by hand. Gated on clean-host telemetry both sides.
    val priorPath = sys.env.getOrElse("SPARK_GRAFT_PRIOR",
      Paths.get(sys.env.getOrElse("SPARK_GRAFT_OUT", "."))
        .resolve("bench.json").toString)
    val load1m =
      try loadBefore.stripPrefix("[").split(",")(0).toDouble
      catch { case _: Exception => Double.NaN }
    val regressions = BenchCompare.regressionsField(priorPath,
      results.collect { case (k, v, _, _) if v > 0 => k -> v }.toMap,
      load1m, cpus)
    // contention telemetry: a loaded host shows load_before ≫ CPUs or a
    // load_after far above the suite's own parallelism — readers judge
    // timings against these instead of re-running to adjudicate.
    // `contended` makes the artifact SELF-DESCRIBING (r12–r14 all had
    // driver runs land in contention windows that were adjudicated by
    // hand against BASELINE.md's timeline): true when the 1-minute
    // load at launch already exceeded 2 on this otherwise-idle box, so
    // absolute timings in this record are not gate-grade evidence.
    val contended = load1m > 2.0
    if (contended)
      System.err.println(s"BENCH CONTENDED: load_before=$loadBefore — " +
        "timings in this record are contention-contaminated; compare " +
        "ratios only, or re-run at idle")
    val telem =
      s""""load_before":$loadBefore,"load_after":$loadAfter,"contended":$contended,"mem_avail_gb_before":$memBefore,"mem_avail_gb_after":$memAfter,$regressions"""
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"spread_pct":$spreadPct,$telem,"queries":$qs,"compiles":$compiles,"failed":${
        failed.reverse.distinct.map("\"" + _ + "\"").mkString("[", ",", "]")
      },"sf":"$sfDir"}"""
    println(json)
    // The per-query line above grows with the catalog (82 queries ≈ 4 KB)
    // and can outgrow a harness's tail-capture window, leaving it mid-line.
    // Emit a second, compact, totals-only record LAST so the tail of stdout
    // always ends with a complete parseable JSON line.
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"spread_pct":$spreadPct,$telem,"n_queries":${
        results.size
      },"failed":${
        failed.reverse.distinct.map("\"" + _ + "\"").mkString("[", ",", "]")
      },"sf":"$sfDir"}"""
    println(compact)
    try {
      val outDir = Paths.get(sys.env.getOrElse("SPARK_GRAFT_OUT", "."))
      Files.createDirectories(outDir)
      val priorFile = outDir.resolve("bench.json")
      // the regression gate refuses to ADOPT a contended record as the
      // prior: a contended run must not overwrite a clean bench.json
      // (the committed prior future gates compare against — two rounds
      // running the persisted prior was a contention-window pass). It
      // lands in bench_contended.json instead; re-run at idle to move
      // the prior. A contended prior may be replaced (freshness wins
      // between two non-gate-grade records), and a first run writes
      // regardless (self-describing via its own stamp).
      val outPath = Bench.benchOutPath(outDir, contended)
      if (outPath != priorFile)
        System.err.println("bench CONTENDED and the existing " +
          "bench.json prior is clean - writing to " +
          "bench_contended.json instead; re-run at idle to update " +
          "the prior")
      Files.write(outPath, (json + "\n").getBytes(StandardCharsets.UTF_8))
      System.err.println(s"bench json written to $outPath")
    } catch {
      case e: Throwable =>
        System.err.println(s"bench.json write failed (stdout line above is authoritative): $e")
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
