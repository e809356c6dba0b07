package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Change classification + SCD Type-2 merge, re-expressing the reference's
  * incremental load (`load_cleaned_dataframe`, etl2.py:298-412) as pure,
  * set-based DataFrame transforms.
  *
  * The reference classifies row-at-a-time (iterrows + per-row UPDATE,
  * etl2.py:347,386); here classification is three joins — anti (inserts,
  * etl2.py:329-331), inner + null-safe any-column-differs (updates,
  * etl2.py:270-296), reverse anti (deletes, etl2.py:383) — all of which
  * shuffle once on the primary key and scale linearly. Small `existing`
  * sides broadcast automatically under AQE.
  *
  * Null-safe `<=>` mirrors pandas `.compare`'s NaN==NaN handling
  * (SURVEY.md §7.4): without it a null column would churn spurious updates
  * into history on every batch.
  */
object Merge {

  /** Classified changes between an incoming batch and existing state.
    * `updates` carries the new image, `updatesOld` the superseded one
    * (same key set).
    */
  final case class Changes(
      inserts: DataFrame,
      updates: DataFrame,
      updatesOld: DataFrame,
      deletes: DataFrame
  )

  /** Compare columns = shared non-PK columns (etl2.py:284,289 intersects
    * column sets before `.compare`).
    */
  private def compareCols(incoming: DataFrame, existing: DataFrame,
                          pk: Seq[String]): Seq[String] =
    incoming.columns.toSeq.intersect(existing.columns.toSeq)
      .filterNot(pk.contains)

  /** Classify an incoming snapshot against existing state on `pk`.
    *
    * - inserts: in incoming, key absent from existing (J1)
    * - updates: key in both, any shared non-PK column differs under
    *   null-safe equality (J4)
    * - deletes: in existing, key absent from incoming (J6)
    */
  def classify(incoming: DataFrame, existing: DataFrame,
               pk: Seq[String]): Changes = {
    val inserts = incoming.join(existing.select(pk.map(col): _*), pk, "left_anti")
    val deletes = existing.join(incoming.select(pk.map(col): _*), pk, "left_anti")

    val cmp = compareCols(incoming, existing, pk)
    val n = incoming.alias("n")
    val d = existing.alias("d")
    val changed =
      if (cmp.isEmpty) lit(false)
      else cmp.map(c => !(col(s"n.$c") <=> col(s"d.$c"))).reduce(_ || _)
    val joined = n.join(d, pk.map(k => col(s"n.$k") === col(s"d.$k")).reduce(_ && _))
      .filter(changed)
    val updates = joined.select(incoming.columns.map(c => col(s"n.$c")): _*)
    val updatesOld = joined.select(existing.columns.map(c => col(s"d.$c")): _*)
    Changes(inserts, updates, updatesOld, deletes)
  }

  /** One merge, flat: the post-state columns (`postCols`), the
    * `__superseded` flag (the row's existing version is updated or
    * tombstoned) and that superseded image's history columns (`histCols`,
    * source → output name; null on every other row). `frame` may be
    * pinned (`localCheckpoint`) and the copy handed to both projections.
    */
  final case class MergeFrame(frame: DataFrame, pk: Seq[String],
                              postCols: Seq[String],
                              histCols: Seq[(String, String)]) {

    /** Post-merge state — the functional equivalent of the reference's
      * insert/UPDATE/tombstone sequence (T2-T4, etl2.py:329-412) computed
      * as one relation instead of per-row JDBC statements:
      *
      * - new keys appended with `is_deleted=false`, `updated_at=now`
      * - changed keys take the incoming payload, keep existing
      *   `is_deleted` (etl2.py:376-378), `updated_at=now`
      * - keys missing from incoming are tombstoned `is_deleted=true`,
      *   `updated_at=now` — but only when not already deleted, so the
      *   merge is a true no-op on re-apply (the reference re-runs its
      *   whole load twice, etl2.py:440-458, relying on this idempotence)
      * - unchanged keys pass through untouched
      */
    def postState: DataFrame = frame.select(postCols.map(col): _*)

    /** SCD2 history rows: superseded images of updated rows plus final
      * images of deleted rows, each with a validity interval
      * `[valid_from = old.updated_at, valid_to = now)` (T3/T4,
      * etl2.py:354-368, 387-401). Appending is made idempotent with a
      * left-anti join against already-recorded history keys — replacing
      * the reference's caught-IntegrityError duplicate suppression
      * (etl2.py:364-368) with a set-based equivalent.
      */
    def history(existingHistory: Option[DataFrame] = None): DataFrame = {
      val rows = frame.filter(col(Superseded))
        .select(histCols.map { case (src, out) => col(src).as(out) }: _*)
      existingHistory match {
        case Some(h) => rows.join(h.select((pk :+ "valid_from").map(col): _*),
                                  pk :+ "valid_from", "left_anti")
        case None => rows
      }
    }
  }

  private val Superseded = "__superseded"

  /** Shared one-shot merge frame: incoming FULL OUTER existing on pk,
    * with presence + change-class flags, projected to one [[MergeFrame]].
    * ONE shuffle per side — post-state and history project from this
    * single join instead of re-joining/re-scanning `existing` per change
    * class (the naive 4-branch union shuffles the big side ~5×; at
    * fact-table scale that IS the job cost). A superseded version's
    * `valid_to` and its successor's `updated_at` are the same `now` in
    * the same projection.
    *
    * `now` is injectable for deterministic tests/oracles (SURVEY.md §7.4).
    */
  def mergeFrame(incoming: DataFrame, existing: DataFrame, pk: Seq[String],
                 now: Column = current_timestamp()): MergeFrame = {
    val payload = incoming.columns.toSeq
    require(existing.columns.contains("is_deleted") &&
              existing.columns.contains("updated_at"),
            "existing state must carry is_deleted/updated_at bookkeeping")
    val cmp = compareCols(incoming, existing, pk)
    val n = incoming.withColumn("__n", lit(true)).alias("n")
    val d = existing.withColumn("__d", lit(true)).alias("d")
    val cond = pk.map(k => col(s"n.$k") <=> col(s"d.$k")).reduce(_ && _)
    val joined = n.join(d, cond, "full_outer")
    val inN = col("n.__n").isNotNull
    val inD = col("d.__d").isNotNull
    val changed =
      if (cmp.isEmpty) lit(false)
      else cmp.map(c => !(col(s"n.$c") <=> col(s"d.$c"))).reduce(_ || _)
    val isInsert = inN && !inD
    val isUpdate = inN && inD && changed
    // already-tombstoned rows missing from incoming stay untouched — this
    // is what makes re-applying a batch a true no-op (T5)
    val isTombstone = !inN && inD && !col("d.is_deleted")
    val takeNew = isInsert || isUpdate
    val superseded = isUpdate || isTombstone

    val postCols = (payload ++ Seq("updated_at", "is_deleted")).distinct
    val post = postCols.map {
      case k if pk.contains(k) =>
        coalesce(col(s"n.$k"), col(s"d.$k")).as(k)
      case "updated_at" =>
        when(isInsert || superseded, now)
          .otherwise(col("d.updated_at")).as("updated_at")
      case "is_deleted" =>
        when(isInsert, lit(false))
          .when(isTombstone, lit(true))
          .otherwise(col("d.is_deleted")).as("is_deleted")
      case c if existing.columns.contains(c) =>
        when(takeNew, col(s"n.$c")).otherwise(col(s"d.$c")).as(c)
      case c => col(s"n.$c").as(c) // incoming-only column
    }
    // history rows are superseded EXISTING images: update → old image
    // as-is; delete → old image with is_deleted forced true. The key is
    // the post-state key (equal on superseded rows); every other column
    // gets its own, null unless superseded.
    val hist = existing.columns.toSeq.zipWithIndex.map {
      case (k, _) if pk.contains(k) => (k, k, None)
      case ("updated_at", i) => (s"__h$i", "valid_from", Some(col("d.updated_at")))
      case ("is_deleted", i) =>
        (s"__h$i", "is_deleted",
          Some(when(isTombstone, lit(true)).otherwise(col("d.is_deleted"))))
      case (c, i) => (s"__h$i", c, Some(col(s"d.$c")))
    } :+ ((s"__h${existing.columns.length}", "valid_to", Some(now)))
    val histOnly = hist.collect { case (src, _, Some(e)) =>
      when(superseded, e).as(src) }
    MergeFrame(
      joined.select((post ++ (superseded.as(Superseded) +: histOnly)): _*),
      pk, postCols, hist.map { case (src, out, _) => (src, out) })
  }

  def postState(incoming: DataFrame, existing: DataFrame, pk: Seq[String],
                now: Column = current_timestamp()): DataFrame =
    mergeFrame(incoming, existing, pk, now).postState

  def scd2History(incoming: DataFrame, existing: DataFrame, pk: Seq[String],
                  existingHistory: Option[DataFrame] = None,
                  now: Column = current_timestamp()): DataFrame =
    mergeFrame(incoming, existing, pk, now).history(existingHistory)

  /** The wall clock, read once per call, as a literal: every relation
    * stamped with it carries the same instant however many actions
    * evaluate it. `current_timestamp()` instead resolves anew in each
    * query. */
  def clock(): Column =
    lit(java.sql.Timestamp.from(java.time.Instant.now()))
}
