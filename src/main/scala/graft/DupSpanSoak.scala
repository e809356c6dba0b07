package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale soak for the round-12 duplicated-span dup-decision rewrite
  * (q100): 10⁶ synthetic documents, EVERY one carrying the same
  * planted trailing trigram — so one span key has n instances, the
  * hottest-key regime the aggregate + semi-join formulation exists
  * for. The retired keyed-window formulation buffers all n instances
  * of that key on ONE window task; the shipped form reduces them
  * map-side to one (min,max) pair per partition.
  *
  * Asserted, not narrated: all formulations produce the identical
  * duplicated-start count (the rewrite's bit-parity at scale), the
  * planted key really is n-hot, and wall times print for BASELINE.md
  * ("Round-12 dup-span hot-key soak"). The window form is measured
  * here ONLY as the comparison baseline — it is no longer shipped
  * anywhere — and the checkpointed join variant documents why the
  * shipped form re-explodes instead of materializing.
  *
  * Usage: `sbt 'runMain graft.DupSpanSoak [n]'` (default 1000000).
  */
object DupSpanSoak {

  import BenchUtil.time

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    require(n > 0, s"doc count must be positive: $n")
    val cpus = Sessions.defaultCpus
    val spark = Sessions.local(cpus)
    val docs = TextScaleSoak.soakDocs(spark, n, seed = 42L,
        parallelism = cpus)
      // the planted hot key: one shared trailing trigram per document
      .withColumn("text", concat(col("text"), lit(" zz qq vv")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[soak] corpus: ${docs.count()} docs, one n-hot span key")

    def windows = graft.ext.Dedup.spanWindows(docs, "doc_id", "text", 3)
    // hot-key sanity: the planted trigram's key really has n instances
    val hotKey = graft.ext.Dedup
      .spanWindows(docs.limit(1), "doc_id", "text", 3)
      .orderBy(col("__i").desc).select("__k").head.getString(0)
    val hotN = windows.filter(col("__k") === hotKey).count()
    require(hotN == n, s"hot key carries $hotN != $n instances")

    // --- SHIPPED: re-exploding min/max aggregate + semi-join --------
    val (sN, tS) = time {
      graft.ext.Dedup.duplicatedStarts(windows, "doc_id").count()
    }
    println(f"[soak] shipped agg+semijoin dup starts: $tS%.1f s, rows=$sN")

    // --- rejected variant: the same join with the span relation
    // localCheckpointed instead of re-exploded — the storage bomb that
    // is WHY the shipped form re-explodes (kept here as the measured
    // warrant; see duplicatedStarts' scaladoc) -----------------------
    val (vN, tV) = time {
      val thin = windows.localCheckpoint()
      val dupKeys = thin.groupBy(col("__k"))
        .agg(min(col("doc_id")).as("__mn"), max(col("doc_id")).as("__mx"))
        .filter(col("__mn") =!= col("__mx")).select(col("__k"))
      thin.join(dupKeys, Seq("__k"), "left_semi").count()
    }
    println(f"[soak] checkpointed agg+semijoin dup starts: $tV%.1f s, rows=$vN")

    // --- RETIRED baseline: keyed min/max window ---------------------
    val byKey = Window.partitionBy(col("__k"))
    val (wN, tW) = time {
      windows
        .withColumn("__dup",
          min(col("doc_id")).over(byKey) =!= max(col("doc_id")).over(byKey))
        .filter(col("__dup")).drop("__dup")
        .count()
    }
    println(f"[soak] retired keyed-window dup starts: $tW%.1f s, rows=$wN")
    require(sN == wN, s"formulations disagree at scale: $sN != $wN")
    println("[soak] PASS")
    spark.stop()
  }
}
