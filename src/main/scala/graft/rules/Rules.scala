package graft.rules

import graft.model.TableConfig
import org.apache.spark.sql.{Column, DataFrame}
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

  /** Shape an arbitrary row-set into the shared violations schema. */
  def shape(df: DataFrame, table: String, rule: String, column: String,
            recordKey: Column, detail: Column): DataFrame =
    df.select(
      lit(table).as("table"), lit(rule).as("rule"), lit(column).as("column"),
      recordKey.cast(StringType).as("record_key"),
      detail.cast(StringType).as("detail"))

  def empty(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(columns.map(StructField(_, StringType))))
  }
}

/** One declarative data-quality rule over a table (SURVEY.md §2.11). Rules
  * that need sibling tables (FK checks) receive the whole registry.
  */
trait Rule {
  def name: String
  def apply(df: DataFrame, cfg: TableConfig,
            registry: Map[String, DataFrame] = Map.empty): RuleResult
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
    * window over the key — a single shuffle on the PK.
    */
  object PrimaryKeyRule extends Rule {
    val name = "primary_key"
    def apply(df: DataFrame, cfg: TableConfig,
              registry: Map[String, DataFrame]): RuleResult = {
      val pk = cfg.primaryKey
      if (pk.isEmpty) return RuleResult(df, Violations.empty(df))
      val anyNull = pk.map(col(_).isNull).reduce(_ || _)
      val nullViol = Violations.shape(df.filter(anyNull), cfg.name, name,
        pk.mkString(","), keyExpr(pk), lit("null primary key component"))

      val nonNull = df.filter(!anyNull)
      val rest = df.columns.toSeq.filterNot(pk.contains)
      val order = (if (rest.isEmpty) pk else rest).map(col)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(pk.map(col): _*)
        .orderBy(order: _*)
      val numbered = nonNull.withColumn("__rn", row_number().over(w))
      val dupViol = Violations.shape(numbered.filter(col("__rn") > 1),
        cfg.name, name, pk.mkString(","), keyExpr(pk),
        lit("duplicate primary key"))
      val cleaned = numbered.filter(col("__rn") === 1).drop("__rn")
      RuleResult(cleaned, nullViol.unionByName(dupViol))
    }
  }

  /** FK referential integrity (data_quality_checker.py:131-164): null FKs
    * are reported but kept; non-null FKs with no parent are reported and
    * dropped. Violations via left-anti, cleaned set via left-semi ∪ nulls —
    * both shuffle on the key once; small parents broadcast under AQE.
    */
  object ForeignKeyRule extends Rule {
    val name = "foreign_key"
    def apply(df: DataFrame, cfg: TableConfig,
              registry: Map[String, DataFrame]): RuleResult = {
      var cleaned = df
      var viols = Violations.empty(df)
      cfg.foreignKeys.foreach { fk =>
        registry.get(fk.refTable).foreach { parent =>
          val parentKeys = parent.select(col(fk.refColumn).as(fk.column)).distinct()
          val nullFk = cleaned.filter(col(fk.column).isNull)
          val nullViol = Violations.shape(nullFk, cfg.name, name, fk.column,
            keyExpr(cfg.primaryKey),
            lit(s"null foreign key → ${fk.refTable}.${fk.refColumn}"))
          val unmatched = cleaned.filter(col(fk.column).isNotNull)
            .join(parentKeys, Seq(fk.column), "left_anti")
          val unmatchedViol = Violations.shape(unmatched, cfg.name, name,
            fk.column, keyExpr(cfg.primaryKey),
            concat(lit("dangling foreign key value="), col(fk.column)))
          cleaned = cleaned.filter(col(fk.column).isNull)
            .unionByName(cleaned.filter(col(fk.column).isNotNull)
              .join(parentKeys, Seq(fk.column), "left_semi"))
          viols = viols.unionByName(nullViol).unionByName(unmatchedViol)
        }
      }
      RuleResult(cleaned, viols)
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
    def apply(df: DataFrame, cfg: TableConfig,
              registry: Map[String, DataFrame]): RuleResult = {
      val actual = df.schema.map(f => f.name -> f.dataType).toMap
      val issues = cfg.columns.flatMap { c =>
        actual.get(c.name) match {
          case None => Some((c.name, s"missing column (declared ${c.dataType.sql})"))
          case Some(a) if !compatible(c.dataType, a) =>
            Some((c.name, s"type mismatch: declared ${c.dataType.sql}, actual ${a.sql}"))
          case _ => None
        }
      }
      val spark = df.sparkSession
      import spark.implicits._
      val viols = issues.toDF("column", "detail")
        .select(lit(cfg.name).as("table"), lit(name).as("rule"), col("column"),
                lit(null).cast(StringType).as("record_key"), col("detail"))
      RuleResult(df, viols)
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

  object NullCensusRule extends Rule {
    val name = "null_census"
    def apply(df: DataFrame, cfg: TableConfig,
              registry: Map[String, DataFrame]): RuleResult = {
      val census = nullCensus(df)
      val stacked = census.select(
        explode(map(df.columns.flatMap(c =>
          Seq(lit(c), col(c).cast(StringType))): _*)).as(Seq("column", "nulls")))
        .filter(col("nulls") =!= "0")
      val viols = stacked.select(lit(cfg.name).as("table"), lit(name).as("rule"),
        col("column"), lit(null).cast(StringType).as("record_key"),
        concat(lit("null count="), col("nulls")).as("detail"))
      RuleResult(df, viols)
    }
  }

  /** Emoji / supplementary-Unicode detection over string columns
    * (data_quality_checker.py:197-223). The reference's six Unicode blocks,
    * as one codegen'd `rlike` per string column folded into a single
    * aggregate pass — vs the reference's per-cell Python regex loop.
    */
  val EmojiPattern: String =
    "[\\x{1F600}-\\x{1F64F}\\x{1F300}-\\x{1F5FF}\\x{1F680}-\\x{1F6FF}" +
      "\\x{1F1E0}-\\x{1F1FF}\\x{2700}-\\x{27BF}\\x{24C2}-\\x{1F251}]"

  object EmojiRule extends Rule {
    val name = "emoji"
    def apply(df: DataFrame, cfg: TableConfig,
              registry: Map[String, DataFrame]): RuleResult = {
      val stringCols = df.schema.fields
        .filter(_.dataType == StringType).map(_.name)
      if (stringCols.isEmpty) return RuleResult(df, Violations.empty(df))
      val perCol = stringCols.map { c =>
        Violations.shape(
          df.filter(col(c).isNotNull && col(c).rlike(EmojiPattern)),
          cfg.name, name, c, keyExpr(cfg.primaryKey),
          lit("emoji / symbol characters present"))
      }
      RuleResult(df, perCol.reduce(_ unionByName _))
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
      if (numeric.isEmpty) return RuleResult(df, Violations.empty(df))
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

  /** Fold a rule set over one table, accumulating violations. */
  def applyAll(df: DataFrame, cfg: TableConfig,
               registry: Map[String, DataFrame],
               rules: Seq[Rule] = standardRules): RuleResult =
    rules.foldLeft(RuleResult(df, Violations.empty(df))) { (acc, r) =>
      val res = r(acc.cleaned, cfg, registry)
      RuleResult(res.cleaned, acc.violations.unionByName(res.violations))
    }
}
