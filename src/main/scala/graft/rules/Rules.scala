package graft.rules

import graft.model.TableConfig
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Outcome of one data-quality rule: the (possibly) cleaned frame plus a
  * violations relation. The reference reports violations through a mix of
  * log lines and per-issue CSV side files (data_quality_checker.py:63-72);
  * here every rule emits rows of one shared, queryable schema
  * `(table, rule, column, record_key, detail)` instead.
  */
final case class RuleResult(cleaned: DataFrame, violations: DataFrame)

object Violations {
  val columns: Seq[String] = Seq("table", "rule", "column", "record_key", "detail")

  private def fields(table: String, rule: String, column: String,
                     recordKey: Column, detail: Column): Seq[Column] = Seq(
    lit(table).as("table"), lit(rule).as("rule"), lit(column).as("column"),
    recordKey.cast(StringType).as("record_key"),
    detail.cast(StringType).as("detail"))

  /** Shape an arbitrary row-set into the shared violations schema. */
  def shape(df: DataFrame, table: String, rule: String, column: String,
            recordKey: Column, detail: Column): DataFrame =
    df.select(fields(table, rule, column, recordKey, detail): _*)

  /** One violation as a struct of the shared schema, null where `cond`
    * does not hold: a row-level verdict of the annotated fold. */
  def row(cond: Column, table: String, rule: String, column: String,
          recordKey: Column, detail: Column): Column =
    when(cond, struct(fields(table, rule, column, recordKey, detail): _*))

  def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(columns.map(StructField(_, StringType))))
}

/** The null census as one row of aggregates over the annotated
  * relation: `aggs` are the aggregate columns, `report` turns the
  * one-row frame they yield into violations. The lazy fold runs them as
  * `frame.agg`, the pinned fold observes them in the pin's own job.
  */
final case class Census(aggs: Seq[Column], report: DataFrame => DataFrame)

/** The standard fold over one table as ONE annotated relation: the input
  * columns (`columns`) plus whatever helper columns the rules add (a PK
  * rank, FK presence markers). Each rule contributes a keep predicate
  * and violation structs, each violation gated by the keep predicates of
  * the rules before it, so the fold order of the reference holds without
  * re-deriving a cleaned frame per rule. Table-level reports (column
  * types, the null census) are functions of the finished relation.
  *
  * [[result]] derives both outputs lazily from `frame`; [[pinned]]
  * derives them from one `localCheckpoint` of it, so the cleaned rows
  * and the report share one evaluation of the fold.
  */
final case class Annotated(
    frame: DataFrame,
    columns: Seq[String],
    keeps: Seq[Column] = Nil,
    rowViolations: Seq[Column] = Nil,
    tableViolations: Seq[DataFrame => DataFrame] = Nil,
    census: Option[Census] = None) {

  /** True on the rows every rule so far keeps. */
  def keep: Column = keeps.reduceOption(_ && _).getOrElse(lit(true))

  /** A violation reported only on rows every earlier rule kept. */
  def violation(cond: Column, table: String, rule: String, column: String,
                recordKey: Column, detail: Column): Column =
    Violations.row(keep && cond, table, rule, column, recordKey, detail)

  /** A helper column name not yet taken in `frame`. */
  def fresh: String =
    Iterator.from(frame.columns.length).map(i => s"__rule$i")
      .find(n => !frame.columns.contains(n)).get

  def result: RuleResult =
    over(frame, census.toSeq.map(c =>
      c.report(frame.agg(c.aggs.head, c.aggs.tail: _*))))

  /** Eager: pins `frame` with `localCheckpoint` (one job, plus one per
    * exchange in the fold) and observes the census in that same job, so
    * its violations are a local relation that starts no job of its own. */
  def pinned: RuleResult = {
    val observed = census.map(_ -> org.apache.spark.sql.Observation())
    val pin = observed.fold(frame) { case (c, o) =>
      frame.observe(o, c.aggs.head, c.aggs.tail: _*)
    }.localCheckpoint()
    over(pin, observed.toSeq.map { case (c, o) =>
      // what Observation.get waits for, with the row's schema kept
      val row = scala.concurrent.Await.result(o.future,
        scala.concurrent.duration.Duration.Inf)
      c.report(pin.sparkSession.createDataFrame(
        java.util.List.of(row), row.schema))
    })
  }

  private def over(annotated: DataFrame, reports: Seq[DataFrame]): RuleResult = {
    val cleaned = annotated.filter(keep).select(columns.map(col): _*)
    // the filter is codegen'd; array_compact is not, so it only sees
    // the rows that carry a violation
    val rows =
      if (rowViolations.isEmpty) Nil
      else Seq(annotated
        .filter(rowViolations.map(_.isNotNull).reduce(_ || _))
        .select(explode(array_compact(array(rowViolations: _*))).as("v"))
        .select("v.*"))
    val all = rows ++ tableViolations.map(_(annotated)) ++ reports
    RuleResult(cleaned, all.reduceOption(_ unionByName _)
      .getOrElse(Violations.empty(annotated.sparkSession)))
  }
}

/** One declarative data-quality rule over a table (SURVEY.md §2.11). Rules
  * that need sibling tables (FK checks) receive the whole registry. A rule
  * adds its verdicts to the fold's [[Annotated]] relation; applied alone,
  * it runs the same fold over a one-rule list.
  */
trait Rule {
  def name: String
  def annotate(a: Annotated, cfg: TableConfig,
               registry: Map[String, DataFrame]): Annotated
  def apply(df: DataFrame, cfg: TableConfig,
            registry: Map[String, DataFrame] = Map.empty): RuleResult =
    Rules.applyAll(df, cfg, registry, Seq(this))
}

object Rules {

  private def keyExpr(pk: Seq[String]): Column =
    concat_ws("|", pk.map(c => col(c).cast(StringType)): _*)

  /** PK validation (data_quality_checker.py:95-129): rows with any null PK
    * component are dropped, then 2nd+ occurrences of a duplicated key are
    * dropped. "First occurrence" is pinned deterministically by ordering on
    * all non-PK columns (the reference keeps pandas file order, which has
    * no distributed analog); a key-only frame orders by the key itself,
    * since its duplicates are identical rows. Dedup is one row_number
    * window over the key — a single shuffle on the PK. Null-key rows rank
    * in their own partitions, so they leave the non-null ranks alone, and
    * rows an earlier rule dropped rank apart from the survivors.
    */
  object PrimaryKeyRule extends Rule {
    val name = "primary_key"
    def annotate(a: Annotated, cfg: TableConfig,
                 registry: Map[String, DataFrame]): Annotated = {
      val pk = cfg.primaryKey
      if (pk.isEmpty) return a
      val anyNull = pk.map(col(_).isNull).reduce(_ || _)
      val rest = a.columns.filterNot(pk.contains)
      val order = (if (rest.isEmpty) pk else rest).map(col)
      val part = pk.map(col) ++ (if (a.keeps.isEmpty) Nil else Seq(a.keep))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(part: _*)
        .orderBy(order: _*)
      val rn = a.fresh
      val key = keyExpr(pk)
      a.copy(
        frame = a.frame.withColumn(rn, row_number().over(w)),
        keeps = a.keeps :+ (!anyNull && col(rn) === 1),
        rowViolations = a.rowViolations ++ Seq(
          a.violation(anyNull, cfg.name, name, pk.mkString(","), key,
            lit("null primary key component")),
          a.violation(!anyNull && col(rn) > 1, cfg.name, name,
            pk.mkString(","), key, lit("duplicate primary key"))))
    }
  }

  /** FK referential integrity (data_quality_checker.py:131-164): null FKs
    * are reported but kept; non-null FKs with no parent are reported and
    * dropped. One presence column per FK, `k IN (parent keys)`, which
    * Spark plans as an existence join (broadcast for small parents) with
    * no aggregate over the parent: only a presence bit per row is
    * needed, and a duplicated or null parent key changes no bit. Each FK
    * sees the survivors of the FKs before it.
    */
  object ForeignKeyRule extends Rule {
    val name = "foreign_key"
    def annotate(a: Annotated, cfg: TableConfig,
                 registry: Map[String, DataFrame]): Annotated =
      cfg.foreignKeys.foldLeft(a) { (acc, fk) =>
        registry.get(fk.refTable).fold(acc) { parent =>
          val hit = acc.fresh
          val k = col(fk.column)
          val present = coalesce(k.isin(parent.select(col(fk.refColumn))), lit(false))
          acc.copy(
            frame = acc.frame.withColumn(hit, present),
            keeps = acc.keeps :+ (k.isNull || col(hit)),
            rowViolations = acc.rowViolations ++ Seq(
              acc.violation(k.isNull, cfg.name, name, fk.column,
                keyExpr(cfg.primaryKey),
                lit(s"null foreign key → ${fk.refTable}.${fk.refColumn}")),
              acc.violation(k.isNotNull && !col(hit), cfg.name, name,
                fk.column, keyExpr(cfg.primaryKey),
                concat(lit("dangling foreign key value="), k))))
        }
      }
  }

  /** Declared-vs-actual column type validation + missing-column detection
    * (data_quality_checker.py:166-193), with the reference's
    * double-accepted-for-int relaxation (:185-186). Schema-level: no data
    * pass at all.
    */
  object ColumnTypeRule extends Rule {
    val name = "column_types"
    private def compatible(declared: DataType, actual: DataType): Boolean =
      (declared, actual) match {
        case (d, a) if d == a => true
        case (IntegerType, LongType) | (LongType, IntegerType) => true
        case (IntegerType, DoubleType) | (LongType, DoubleType) => true
        case (FloatType, DoubleType) | (DoubleType, FloatType) => true
        case _ => false
      }
    def annotate(a: Annotated, cfg: TableConfig,
                 registry: Map[String, DataFrame]): Annotated = {
      val actual = a.columns.map(c => c -> a.frame.schema(c).dataType).toMap
      val issues = cfg.columns.flatMap { c =>
        actual.get(c.name) match {
          case None => Some((c.name, s"missing column (declared ${c.dataType.sql})"))
          case Some(a) if !compatible(c.dataType, a) =>
            Some((c.name, s"type mismatch: declared ${c.dataType.sql}, actual ${a.sql}"))
          case _ => None
        }
      }
      val spark = a.frame.sparkSession
      import spark.implicits._
      val viols = issues.toDF("column", "detail")
        .select(lit(cfg.name).as("table"), lit(name).as("rule"), col("column"),
                lit(null).cast(StringType).as("record_key"), col("detail"))
      a.copy(tableViolations = a.tableViolations :+ ((_: DataFrame) => viols))
    }
  }

  /** Null census (data_quality_checker.py:226-239): per-column null counts
    * in ONE aggregation pass (the reference scans per column). Report-only.
    * Partial aggregation makes this a single narrow shuffle of one row per
    * partition regardless of data size.
    */
  def nullCensus(df: DataFrame): DataFrame = {
    val aggs = df.columns.map(c =>
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(c))
    df.agg(aggs.head, aggs.tail.toSeq: _*)
  }

  /** Counts the nulls of the rows every earlier rule kept: one sum per
    * column gated by the keep predicate, one aggregation pass as in
    * [[nullCensus]]. */
  object NullCensusRule extends Rule {
    val name = "null_census"
    def annotate(a: Annotated, cfg: TableConfig,
                 registry: Map[String, DataFrame]): Annotated = {
      val kept = a.keep
      val cols = a.columns
      def report(census: DataFrame): DataFrame = {
        val stacked = census.select(
          explode(map(cols.flatMap(c =>
            Seq(lit(c), col(c).cast(StringType))): _*)).as(Seq("column", "nulls")))
          .filter(col("nulls") =!= "0")
        stacked.select(lit(cfg.name).as("table"), lit(name).as("rule"),
          col("column"), lit(null).cast(StringType).as("record_key"),
          concat(lit("null count="), col("nulls")).as("detail"))
      }
      a.copy(census = Some(Census(
        cols.map(c => sum(when(kept && col(c).isNull, 1L).otherwise(0L)).as(c)),
        report)))
    }
  }

  /** Emoji / supplementary-Unicode detection over string columns
    * (data_quality_checker.py:197-223). The reference's six Unicode blocks,
    * as one codegen'd `rlike` per string column, all in the fold's one
    * pass — vs the reference's per-cell Python regex loop. Only rows the
    * earlier rules kept are reported.
    */
  val EmojiPattern: String =
    "[\\x{1F600}-\\x{1F64F}\\x{1F300}-\\x{1F5FF}\\x{1F680}-\\x{1F6FF}" +
      "\\x{1F1E0}-\\x{1F1FF}\\x{2700}-\\x{27BF}\\x{24C2}-\\x{1F251}]"

  object EmojiRule extends Rule {
    val name = "emoji"
    def annotate(a: Annotated, cfg: TableConfig,
                 registry: Map[String, DataFrame]): Annotated = {
      val stringCols = a.columns
        .filter(c => a.frame.schema(c).dataType == StringType)
      a.copy(rowViolations = a.rowViolations ++ stringCols.map(c =>
        a.violation(col(c).isNotNull && col(c).rlike(EmojiPattern),
          cfg.name, name, c, keyExpr(cfg.primaryKey),
          lit("emoji / symbol characters present"))))
    }
  }

  /** Negative-value detection over numeric columns
    * (data_quality_checker.py:330-347). The reference's skip-list names
    * "longitude" twice and never "latitude" (:332) — a bug we do not
    * replicate: both coordinate columns are skipped here.
    */
  object NegativeValuesRule {
    val name = "negative_values"
    val defaultSkip: Set[String] = Set("longitude", "latitude", "lon", "lat")
    def apply(df: DataFrame, table: String,
              skip: Set[String] = defaultSkip,
              pk: Seq[String] = Nil): RuleResult = {
      val numeric = df.schema.fields
        .filter(_.dataType.isInstanceOf[NumericType]).map(_.name)
        .filterNot(n => skip.exists(s => n.toLowerCase.contains(s)))
      if (numeric.isEmpty) return RuleResult(df, Violations.empty(df.sparkSession))
      val perCol = numeric.map { c =>
        Violations.shape(df.filter(col(c) < 0), table, name, c,
          if (pk.nonEmpty) keyExpr(pk) else lit(null),
          concat(lit("negative value="), col(c).cast(StringType)))
      }
      RuleResult(df, perCol.reduce(_ unionByName _))
    }
  }

  /** Pairwise timestamp-order rule (review creation ≤ answer,
    * data_quality_checker.py:270-293): report rows where `earlier` is
    * strictly after `later`.
    */
  def timestampOrderViolations(df: DataFrame, earlier: String,
                               later: String): DataFrame =
    df.filter(col(earlier).isNotNull && col(later).isNotNull &&
      col(earlier) > col(later))

  /** Lifecycle chronology (data_quality_checker.py:295-328): given an
    * ordered list of timestamp columns, flag each adjacent pair — adjacency
    * computed among the *non-null* subset per row, exactly like the
    * reference's per-row null-dropping loop.
    *
    * Implemented as an explicit when-cascade over every (predecessor,
    * successor) column pair where all columns between them are null — i.e.
    * the pair is adjacent in the row's non-null subsequence. Pair (i, j)
    * fires iff `c_i, c_j` non-null, `c_{i+1}..c_{j-1}` null, and
    * `c_j < c_i`. For a fixed j at most one predecessor matches, so
    * compacting nulls yields exactly the per-row issue list in successor
    * order — identical to walking the non-null subsequence.
    *
    * Why not the array-of-structs + transform/filter HOF formulation:
    * higher-order functions are CodegenFallback AND re-embed (not CSE) the
    * packed array in every lambda body — measured ~6 re-evaluations per row
    * and 8-15 s at sf0.1 where this cascade runs in well under 2 s. The
    * cascade is pure `when/and/comparison` — whole-stage-codegen'd end to
    * end. O(n²) branches with O(n) null-guards each is the right trade for
    * the small fixed column lists this rule exists for (the reference's
    * lifecycle has 4). One projection, no UDF, no shuffle.
    */
  def chronologyIssues(df: DataFrame, orderedCols: Seq[String],
                       issueCol: String = "issues"): DataFrame = {
    val pairChecks: Seq[Column] =
      for {
        j <- 1 until orderedCols.length
        i <- 0 until j
      } yield {
        val ci = col(orderedCols(i)); val cj = col(orderedCols(j))
        val betweenNull = (i + 1 until j)
          .map(b => col(orderedCols(b)).isNull)
          .foldLeft(ci.isNotNull && cj.isNotNull)(_ && _)
        when(betweenNull && cj < ci,
          lit(s"${orderedCols(j)} comes before ${orderedCols(i)}"))
      }
    df.withColumn(issueCol,
      if (pairChecks.isEmpty) array().cast("array<string>")
      else array_compact(array(pairChecks: _*)))
  }

  /** Required-dimension completeness (missing product dimensions,
    * data_quality_checker.py:244-268): rows with any null among `required`.
    */
  def missingRequired(df: DataFrame, required: Seq[String]): DataFrame =
    df.filter(required.map(col(_).isNull).reduce(_ || _))

  /** The reference's full schema-check set in order
    * (run_all_checks, data_quality_checker.py:351-372).
    */
  def standardRules: Seq[Rule] =
    Seq(PrimaryKeyRule, ForeignKeyRule, ColumnTypeRule, NullCensusRule, EmojiRule)

  /** Fold a rule set over one table into its annotated relation. */
  def annotate(df: DataFrame, cfg: TableConfig,
               registry: Map[String, DataFrame],
               rules: Seq[Rule] = standardRules): Annotated =
    rules.foldLeft(Annotated(df, df.columns.toSeq)) { (a, r) =>
      r.annotate(a, cfg, registry)
    }

  /** Fold a rule set over one table, accumulating violations. Lazy: the
    * cleaned rows and the report each re-run the fold when read. */
  def applyAll(df: DataFrame, cfg: TableConfig,
               registry: Map[String, DataFrame],
               rules: Seq[Rule] = standardRules): RuleResult =
    annotate(df, cfg, registry, rules).result
}
