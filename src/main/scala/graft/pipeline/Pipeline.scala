package graft.pipeline

import graft.ext.Warehouse
import graft.io.CsvIngest
import graft.model.TableConfig
import graft.ops.{Merge, Normalize}
import graft.rules.{Rules, Violations}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end composition of the reference's `process()` pipeline
  * (etl2.py:17-459, SURVEY.md §3.1): ingest → normalize → quality rules →
  * FK-ordered incremental merge, as one lazy dataflow over a
  * `Map[String, DataFrame]` registry.
  *
  * Differences from the reference, by design (SURVEY.md §7.4):
  * - violations are ONE queryable DataFrame, not CSV side-files + logs;
  * - rules run once per table: the fold, null census included, is one
  *   annotated relation, pinned in [[applyRules]], that the cleaned rows
  *   and the report both read (the reference re-validates and re-loads twice;
  *   idempotence is a tested property here, not a runtime behavior);
  * - load order derives from the declared FK graph, not a hard-coded list.
  */
object Pipeline {

  /** Everything one run produces, lazily: per-table cleaned frames, the
    * combined violations relation, and per-table merge outputs.
    */
  final case class Result(
      cleaned: Map[String, DataFrame],
      violations: DataFrame,
      postStates: Map[String, DataFrame],
      history: Map[String, DataFrame])

  /** Stage 2-3: ingest a CSV directory and normalize geolocation into 3NF
    * (etl2.py:29-58, 204-243). Tables without geolocation pass through.
    */
  def ingest(spark: SparkSession, dir: String): Map[String, DataFrame] = {
    val raw = CsvIngest.readCsvDirectory(spark, dir)
    raw.get("geolocation") match {
      case Some(geo) =>
        val (cityState, zip, coords) = Normalize.splitGeolocation(geo)
        (raw - "geolocation") ++ Map(
          "geo_city_state" -> cityState, "geo_zip" -> zip,
          "geo_coordinates" -> coords)
      case None => raw
    }
  }

  /** Stage 4-6: run the standard rule set over every configured table
    * (run_all_checks, data_quality_checker.py:351-372). Tables with no
    * config pass through unchecked, mirroring the reference's
    * skip-with-warning (:357-359).
    *
    * Each configured table's annotated relation ([[Rules.annotate]]) is
    * pinned once with `localCheckpoint` ([[graft.rules.Annotated.pinned]]):
    * the cleaned rows and the violations both read the pinned blocks,
    * so however many sinks consume them, the source is scanned and the
    * fold (PK window, FK existence joins, null census) runs once per
    * table. The census is observed in the pin's own job, so writing
    * the violations is one job. The tables' pins do not depend on each
    * other and run concurrently ([[graft.ext.Warehouse.inParallel]]).
    */
  def applyRules(registry: Map[String, DataFrame],
                 configs: Seq[TableConfig]): (Map[String, DataFrame], DataFrame) = {
    val byName = configs.map(c => c.name -> c).toMap
    val checked = Warehouse.inParallel(registry.toSeq.flatMap { case (name, df) =>
      byName.get(name).map(cfg =>
        () => name -> Rules.annotate(df, cfg, registry).pinned)
    })
    (registry ++ checked.map { case (name, res) => name -> res.cleaned },
      checked.map(_._2.violations).reduceOption(_ unionByName _)
        .getOrElse(Violations.empty(SparkSession.active)))
  }

  /** Stage 8: FK-ordered incremental merge of every cleaned table into its
    * existing state (load loop, etl2.py:414-437). `existing` maps table
    * name → current stored state (absent = initial load). SCD2 history is
    * produced for tables flagged in `scd2Tables` (the reference tracks
    * products & sellers, etl2.py:349). Post-state and history of a table
    * are two projections of one [[Merge.mergeFrame]]; the default `now`
    * is read once per call, so they stamp the same instant even when
    * separate actions consume them.
    */
  def mergeAll(cleaned: Map[String, DataFrame],
               existing: Map[String, DataFrame],
               configs: Seq[TableConfig],
               scd2Tables: Set[String] = Set("products", "sellers"),
               now: org.apache.spark.sql.Column = Merge.clock())
      : (Map[String, DataFrame], Map[String, DataFrame]) = {
    val ordered = TableConfig.fkOrdered(configs).filter(c => cleaned.contains(c.name))
    val post = scala.collection.mutable.LinkedHashMap[String, DataFrame]()
    val hist = scala.collection.mutable.LinkedHashMap[String, DataFrame]()
    ordered.foreach { cfg =>
      val incoming = cleaned(cfg.name)
      existing.get(cfg.name) match {
        case Some(ex) =>
          val m = Merge.mergeFrame(incoming, ex, cfg.primaryKey, now)
          post(cfg.name) = m.postState
          if (scd2Tables.contains(cfg.name)) hist(cfg.name) = m.history()
        case None =>
          post(cfg.name) = incoming
            .withColumn("updated_at", now)
            .withColumn("is_deleted", lit(false))
      }
    }
    (post.toMap, hist.toMap)
  }

  /** Stages 4-8 over an already-loaded registry: quality rules then the
    * FK-ordered merge. This is the composition the oracle-checked
    * q42_pipeline_e2e catalog query drives end to end (the CSV read in
    * front is covered separately by CsvIngestSpec).
    */
  def runOnRegistry(registry: Map[String, DataFrame],
                    configs: Seq[TableConfig],
                    existing: Map[String, DataFrame] = Map.empty,
                    now: org.apache.spark.sql.Column = Merge.clock())
      : Result = {
    val (cleaned, violations) = applyRules(registry, configs)
    val (post, hist) = mergeAll(cleaned, existing, configs, now = now)
    Result(cleaned, violations, post, hist)
  }

  /** One full batch run. */
  def run(spark: SparkSession, sourceDir: String, configs: Seq[TableConfig],
          existing: Map[String, DataFrame] = Map.empty,
          now: org.apache.spark.sql.Column = Merge.clock()): Result =
    runOnRegistry(ingest(spark, sourceDir), configs, existing, now)
}
