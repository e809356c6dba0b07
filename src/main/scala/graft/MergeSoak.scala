package graft

import graft.ops.Merge
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale soak for the reference's CORE operator family — change
  * classification + SCD2 merge (`ops/Merge.scala` classify → postState →
  * scd2History; etl2.py:298-412) — at ~10^7 rows with a realistic
  * changed/deleted mix and a skewed key layout, recording wall time,
  * change-class counts, shuffle volume, and the Exchange count of the
  * merge plan (the "ONE shuffle per side" claim `Merge.mergeFrame`
  * documents; postState and scd2History both project from that frame).
  * Results go to BASELINE.md ("Merge/SCD2 soak").
  *
  * Usage: `sbt 'runMain graft.MergeSoak [n]'` (default 10000000).
  *
  * Mix per existing id (existing ids are 0..n-1; ~60-char payload):
  *   - 5%  changed payload → update class
  *   - 2%  absent from incoming, live → tombstone
  *   - 1%  absent from incoming, already tombstoned → must stay untouched
  *   - 92% unchanged
  * plus 2% of n as brand-new ids → insert class. Ids are DENSITY-skewed
  * (half of all ids packed into 2% of the key space via a 25× stride
  * fold) — hash shuffles don't care, but range-assuming code would.
  */
object MergeSoak {

  /** id layout: even slots map into a dense 2% band, odd slots spread. */
  private def skewedId(slot: Column, n: Long): Column =
    when(slot % 2 === 0, (slot / 2) % (n / 50))
      .otherwise(lit(n / 50) + slot)

  def existingState(spark: SparkSession, n: Long): DataFrame = {
    spark.range(0, n, 1, 32)
      .select(skewedId(col("id"), n).as("pk_slot"), col("id"))
      .select(
        concat(lit("k"), col("pk_slot"), lit("_"), col("id")).as("pk"),
        col("id"),
        concat(lit("payload_"), col("id") % 97,
          lit("_"), sha2(col("id").cast("string"), 256)).as("body"),
        (col("id") % 1000 / 10.0).as("score"),
        lit(java.sql.Timestamp.valueOf("2020-01-01 00:00:00"))
          .as("updated_at"),
        // 1% already tombstoned (id % 100 == 7) — absent from incoming
        // below, and must NOT be restamped (the T5 idempotence clause)
        (col("id") % 100 === 7).as("is_deleted"))
  }

  def incomingSnapshot(spark: SparkSession, n: Long): DataFrame = {
    val base = spark.range(0, n, 1, 32)
      .select(skewedId(col("id"), n).as("pk_slot"), col("id"))
      // absent ids: 2% live deletes (id%100 ∈ {3,4}) + the 1% already-deleted
      .filter(col("id") % 100 =!= 3 && col("id") % 100 =!= 4 &&
        col("id") % 100 =!= 7)
      .select(
        concat(lit("k"), col("pk_slot"), lit("_"), col("id")).as("pk"),
        col("id"),
        // 5% changed payload (id%100 in 10..14)
        when((col("id") % 100).between(10, 14),
            concat(lit("CHANGED_"), sha2(col("id").cast("string"), 256)))
          .otherwise(concat(lit("payload_"), col("id") % 97,
            lit("_"), sha2(col("id").cast("string"), 256))).as("body"),
        (col("id") % 1000 / 10.0).as("score"))
    val inserts = spark.range(n, n + n / 50, 1, 32)
      .select(
        concat(lit("kNEW_"), col("id")).as("pk"),
        col("id"),
        concat(lit("new_"), sha2(col("id").cast("string"), 256)).as("body"),
        lit(1.0).as("score"))
    base.unionByName(inserts)
  }

  import BenchUtil.{ShuffleMeter, drain, time}

  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 10000000L
    val spark = Sessions.local()
    val now = lit(java.sql.Timestamp.valueOf("2021-06-01 00:00:00"))

    val existing = existingState(spark, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val incoming = incomingSnapshot(spark, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nEx = existing.count()
    val nIn = incoming.count() // materialize outside timed sections

    val meter = new ShuffleMeter
    spark.sparkContext.addSparkListener(meter)

    // ---- classify: the JDBC-sink path's three joins ---------------------
    val (counts, classifySec) = time {
      val ch = Merge.classify(incoming, existing, Seq("pk"))
      (ch.inserts.count(), ch.updates.count(), ch.deletes.count())
    }
    drain(spark.sparkContext)
    val classifyShuffle = meter.writeBytes
    val (nInserts, nUpdates, nDeletes) = counts

    // ---- postState: the one-join merge frame ----------------------------
    val (post, postSec) = time {
      val p = Merge.postState(incoming, existing, Seq("pk"), now)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    }
    drain(spark.sparkContext)
    val postShuffle = meter.writeBytes - classifyShuffle

    // the "ONE shuffle per side" plan claim: exactly one hashpartitioning
    // Exchange per join side, none downstream of the join. The probe uses
    // a DIFFERENT now-literal so the cache manager can't substitute the
    // persisted `post` (whose printed cached plan would double-count),
    // and stays unexecuted so the adaptive plan prints one tree.
    val probe = Merge.postState(incoming, existing, Seq("pk"),
      lit(java.sql.Timestamp.valueOf("2021-06-02 00:00:00")))
    val postPlan = probe.queryExecution.executedPlan.toString
    val postExchanges =
      "Exchange hashpartitioning".r.findAllIn(postPlan).size
    if (postExchanges != 2) System.err.println(
      s"UNEXPECTED EXCHANGE COUNT $postExchanges:\n$postPlan")

    // ---- scd2History ----------------------------------------------------
    val (histCount, histSec) = time {
      Merge.scd2History(incoming, existing, Seq("pk"), now = now).count()
    }

    // invariants that make the numbers trustworthy, not just fast:
    val postRows = post.count()
    val stamped = post.filter(col("updated_at") === now).count()
    val untouchedTomb = post
      .filter(col("is_deleted") && col("updated_at") =!= now).count()
    val expInserts = n / 50
    val expUpdates = 5 * n / 100
    val expDeletes = 3 * n / 100 // classify reports live + already-deleted
    assert(nInserts == expInserts, s"inserts $nInserts != $expInserts")
    assert(nUpdates == expUpdates, s"updates $nUpdates != $expUpdates")
    assert(nDeletes == expDeletes, s"deletes $nDeletes != $expDeletes")
    assert(postRows == n + n / 50, s"post rows $postRows")
    // stamped = inserts + updates + LIVE deletes only (2%): the 1%
    // already-tombstoned rows keep their 2020 stamp
    assert(stamped == expInserts + expUpdates + 2 * n / 100,
      s"stamped $stamped")
    assert(untouchedTomb == n / 100, s"untouched tombstones $untouchedTomb")
    assert(histCount == expUpdates + 2 * n / 100, s"history $histCount")

    println(f"merge_soak,n=$n,existing=$nEx,incoming=$nIn," +
      f"inserts=$nInserts,updates=$nUpdates,deletes=$nDeletes," +
      f"classify_sec=$classifySec%.1f," +
      f"classify_shuffle_mb=${classifyShuffle / 1e6}%.0f," +
      f"post_sec=$postSec%.1f,post_shuffle_mb=${postShuffle / 1e6}%.0f," +
      f"post_exchanges=$postExchanges," +
      f"hist_sec=$histSec%.1f,hist_rows=$histCount,invariants=ok")
    spark.stop()
  }
}
