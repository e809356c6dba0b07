package graft

import graft.model.{ColumnSpec, FkRef, TableConfig}
import graft.rules.{Rules, Violations}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class RulesSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = TableConfig("t",
    Seq(ColumnSpec("id", LongType, primaryKey = true),
      ColumnSpec("name", StringType),
      ColumnSpec("ref", LongType)),
    Seq(FkRef("ref", "parent", "pid")))

  test("PrimaryKeyRule drops null keys and 2nd+ duplicates deterministically") {
    val df = Seq(
      (Some(1L), "a"), (Some(2L), "b"), (Some(2L), "a"), (None, "x")
    ).toDF("id", "name")
    val r = Rules.PrimaryKeyRule(df, TableConfig("t",
      Seq(ColumnSpec("id", LongType, primaryKey = true),
        ColumnSpec("name", StringType))), Map.empty)
    val kept = r.cleaned.select("id", "name").as[(Long, String)].collect().toSet
    // duplicate id=2: "first" = min by non-PK ordering -> "a" kept
    assert(kept == Set((1L, "a"), (2L, "a")))
    val viols = r.violations.select("rule", "detail").collect()
      .map(r => r.getString(1)).sorted.toSeq
    assert(viols == Seq("duplicate primary key", "null primary key component"))
  }

  test("PrimaryKeyRule dedups a frame whose every column is a key column") {
    val df = Seq((Some(1L), "a"), (Some(1L), "a"), (Some(2L), "a"),
      (None, "b")).toDF("id", "part")
    val r = Rules.PrimaryKeyRule(df, TableConfig("t",
      Seq(ColumnSpec("id", LongType, primaryKey = true),
        ColumnSpec("part", StringType, primaryKey = true))), Map.empty)
    assert(r.cleaned.as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "a")))
    assert(r.violations.select("detail").as[String].collect().sorted.toSeq ==
      Seq("duplicate primary key", "null primary key component"))
  }

  test("ForeignKeyRule keeps nulls (reported) and drops dangling (reported)") {
    val child = Seq((1L, "a", Some(10L)), (2L, "b", Some(99L)),
      (3L, "c", None)).toDF("id", "name", "ref")
    val parent = Seq(10L, 11L).toDF("pid")
    val r = Rules.ForeignKeyRule(child, cfg, Map("parent" -> parent))
    assert(r.cleaned.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    val v = r.violations.select("record_key", "detail").collect()
      .map(x => (x.getString(0), x.getString(1))).toSet
    assert(v == Set(("3", "null foreign key → parent.pid"),
      ("2", "dangling foreign key value=99")))
  }

  test("ColumnTypeRule reports mismatches and missing columns, allows relaxations") {
    val df = Seq((1L, 2.5)).toDF("id", "name") // name: double, declared string
    val r = Rules.ColumnTypeRule(df, cfg, Map.empty)
    val v = r.violations.select("column", "detail").collect()
      .map(x => x.getString(0) -> x.getString(1)).toMap
    assert(v("name").startsWith("type mismatch"))
    assert(v("ref").startsWith("missing column"))
    assert(!v.contains("id")) // LongType vs LongType ok
  }

  test("ColumnTypeRule int/long and float/double are compatible") {
    val df = Seq((1, "x", 2.0)).toDF("id", "name", "ref") // id int (declared long), ref double (declared long->double allowed)
    val r = Rules.ColumnTypeRule(df, cfg, Map.empty)
    assert(r.violations.count() == 0)
  }

  test("nullCensus counts nulls per column in one pass") {
    val df = Seq((Some(1), Some("a")), (None, Some("b")), (None, None))
      .toDF("x", "y")
    val r = Rules.nullCensus(df).head()
    assert(r.getLong(0) == 2 && r.getLong(1) == 1)
  }

  test("NullCensusRule emits only columns with nulls") {
    val df = Seq((Some(1), "a"), (None, "b")).toDF("x", "y")
    val v = Rules.NullCensusRule(df, TableConfig("t",
      Seq(ColumnSpec("x", IntegerType))), Map.empty).violations
      .select("column", "detail").collect()
      .map(r => r.getString(0) -> r.getString(1)).toSeq
    assert(v == Seq("x" -> "null count=1"))
  }

  test("EmojiRule flags strings containing emoji, skips clean columns") {
    val df = Seq((1L, "hello 😀 world", "plain"), (2L, "clean", "also plain"))
      .toDF("id", "a", "b")
    val v = Rules.EmojiRule(df, TableConfig("t",
        Seq(ColumnSpec("id", LongType, primaryKey = true),
          ColumnSpec("a", StringType), ColumnSpec("b", StringType))), Map.empty)
      .violations.select("column", "record_key").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(v == Seq(("a", "1")))
  }

  test("EmojiRule catches all six reference unicode blocks") {
    val samples = Seq("😀", "🌀", "🚀",
      "🇦", "✈", "Ⓜ") // one char per block
    val df = samples.zipWithIndex.map { case (s, i) => (i.toLong, s"x $s y") }
      .toDF("id", "a")
    val v = Rules.EmojiRule(df, TableConfig("t",
      Seq(ColumnSpec("id", LongType, primaryKey = true),
        ColumnSpec("a", StringType))), Map.empty).violations
    assert(v.count() == samples.size)
  }

  test("NegativeValuesRule reports negatives, skips lat/lon-ish columns") {
    val df = Seq((1L, -5.0, -10.0), (2L, 3.0, -20.0))
      .toDF("id", "balance", "longitude")
    val v = Rules.NegativeValuesRule(df, "t", pk = Seq("id")).violations
      .select("column", "record_key").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(v == Set(("balance", "1")))
  }

  test("timestampOrderViolations flags strictly-after pairs, skips nulls") {
    val df = Seq(
      ("2020-01-02 00:00:00", "2020-01-01 00:00:00"), // violation
      ("2020-01-01 00:00:00", "2020-01-02 00:00:00"), // fine
      (null, "2020-01-01 00:00:00")                   // skipped
    ).toDF("a", "b")
      .select(col("a").cast("timestamp"), col("b").cast("timestamp"))
    assert(Rules.timestampOrderViolations(df, "a", "b").count() == 1)
  }

  test("chronologyIssues compares adjacent NON-NULL timestamps like the reference") {
    // purchase > approved (violation) ; carrier null is skipped so
    // delivered compares against approved
    val df = Seq(
      ("2020-01-05 00:00:00", "2020-01-01 00:00:00", null,
        "2020-01-02 00:00:00"),
      ("2020-01-01 00:00:00", "2020-01-02 00:00:00", "2020-01-03 00:00:00",
        "2020-01-04 00:00:00")
    ).toDF("purchase", "approved", "carrier", "delivered")
      .select(Seq("purchase", "approved", "carrier", "delivered")
        .map(c => col(c).cast("timestamp").as(c)): _*)
    val issues = Rules.chronologyIssues(df,
        Seq("purchase", "approved", "carrier", "delivered"))
      .select("issues").as[Seq[String]].collect()
    assert(issues(0) == Seq("approved comes before purchase"))
    assert(issues(1).isEmpty)
  }

  test("missingRequired flags rows with any null among required columns") {
    val df = Seq((1L, Some("a"), Some("b")), (2L, None, Some("b")),
      (3L, Some("a"), None)).toDF("id", "x", "y")
    val got = Rules.missingRequired(df, Seq("x", "y"))
      .select("id").as[Long].collect().sorted
    assert(got.toSeq == Seq(2L, 3L))
  }

  test("applyAll folds rules, accumulating violations with one shared schema") {
    val child = Seq((1L, "ok", Some(10L)), (1L, "dup", Some(10L)),
      (2L, "dangling", Some(99L))).toDF("id", "name", "ref")
    val parent = Seq(10L).toDF("pid")
    val r = Rules.applyAll(child, cfg, Map("parent" -> parent))
    assert(r.violations.columns.toSeq == Violations.columns)
    val rules = r.violations.select("rule").as[String].collect().toSet
    assert(rules == Set("primary_key", "foreign_key"))
    assert(r.cleaned.count() == 1) // id=1 kept once; id=2 dropped by FK
  }
  test("standard fold: every rule sees only the survivors of the rules before it") {
    val t = TableConfig("t",
      Seq(ColumnSpec("id", LongType, primaryKey = true),
        ColumnSpec("name", StringType),
        ColumnSpec("ref", LongType),
        ColumnSpec("qty", IntegerType)),
      Seq(FkRef("ref", "parent", "pid")))
    val child = Seq(
      (None, "nullpk", Some(10L), Some("1")),    // null PK: dropped
      (Some(1L), "a", Some(10L), Some("1")),     // duplicate winner
      (Some(1L), "b", Some(99L), Some("1")),     // duplicate loser, dangling FK
      (Some(2L), "c", None, Some("2")),          // null FK: kept
      (Some(3L), "d", Some(77L), Some("3")),     // dangling FK: dropped
      (Some(4L), "e 😀", Some(10L), Some("4")),  // emoji on a survivor
      (Some(5L), "f 😀", Some(88L), None)        // emoji + null on an FK-dropped row
    ).toDF("id", "name", "ref", "qty")           // qty: string, declared int
    val parent = Seq(10L).toDF("pid")
    val r = Rules.applyAll(child, t, Map("parent" -> parent))

    assert(r.cleaned.columns.toSeq == child.columns.toSeq)
    assertSameRows(r.cleaned, Seq(
      Seq(1L, "a", 10L, "1"), Seq(2L, "c", null, "2"),
      Seq(4L, "e 😀", 10L, "4")))
    assert(r.violations.columns.toSeq == Violations.columns)
    assertSameRows(r.violations, Seq(
      Seq("t", "primary_key", "id", "", "null primary key component"),
      Seq("t", "primary_key", "id", "1", "duplicate primary key"),
      Seq("t", "foreign_key", "ref", "2", "null foreign key → parent.pid"),
      Seq("t", "foreign_key", "ref", "3", "dangling foreign key value=77"),
      Seq("t", "foreign_key", "ref", "5", "dangling foreign key value=88"),
      Seq("t", "column_types", "qty", null,
        "type mismatch: declared INT, actual STRING"),
      Seq("t", "null_census", "ref", null, "null count=1"),
      Seq("t", "emoji", "name", "4", "emoji / symbol characters present")))
  }

  test("pinned census equals the lazy census row for row: all-null column, " +
    "rows dropped by earlier rules, every row dropped, empty table") {
    val t = TableConfig("t",
      Seq(ColumnSpec("id", LongType, primaryKey = true),
        ColumnSpec("name", StringType), ColumnSpec("ref", LongType),
        ColumnSpec("note", StringType)),
      Seq(FkRef("ref", "parent", "pid")))
    val child = Seq(
      (Some(1L), Some("a"), Some(10L), None: Option[String]),
      (Some(1L), Some("z"), Some(10L), None),  // duplicate: dropped by PK
      (None, None, None, None),                // null PK: dropped
      (Some(2L), Some("b"), None, None),       // null FK: kept
      (Some(3L), None, Some(99L), None),       // dangling FK: dropped
      (Some(4L), None, Some(10L), None)
    ).toDF("id", "name", "ref", "note")        // note: null on every row
    val registry = Map("parent" -> Seq(10L).toDF("pid"))
    def census(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("rule") === "null_census")
    // the null-PK row alone: every row dropped, so every count is 0
    for (input <- Seq(child, child.filter(col("id").isNull), child.limit(0))) {
      val a = Rules.annotate(input, t, registry)
      val (lazyRes, pinned) = (a.result, a.pinned)
      assertSameRows(pinned.violations, rowsOf(lazyRes.violations))
      assertSameRows(pinned.cleaned, rowsOf(lazyRes.cleaned))
      if (input eq child)
        assertSameRows(census(pinned.violations), Seq(
          Seq("t", "null_census", "name", null, "null count=1"),
          Seq("t", "null_census", "ref", null, "null count=1"),
          Seq("t", "null_census", "note", null, "null count=3")))
      else assert(census(pinned.violations).isEmpty)
    }
  }

  /** The FK check as it was first written: a left join against the
    * parent's distinct keys, whose joined key marks presence. */
  private def fkByLeftJoin(child: org.apache.spark.sql.DataFrame,
                           parent: org.apache.spark.sql.DataFrame) = {
    val j = child.join(parent.select(col("pid").as("hit")).distinct(),
      col("ref") === col("hit"), "left")
    val cleaned = j.filter(col("ref").isNull || col("hit").isNotNull)
      .select(child.columns.map(col): _*)
    val viols = j.filter(col("ref").isNull || col("hit").isNull)
      .select(col("id").cast(StringType), when(col("ref").isNull,
        lit("null foreign key → parent.pid"))
        .otherwise(concat(lit("dangling foreign key value="), col("ref"))))
    (cleaned, viols)
  }

  test("ForeignKeyRule's existence join equals the left join over distinct " +
    "parent keys, with duplicated and null parent keys") {
    import org.apache.spark.sql.catalyst.plans.ExistenceJoin
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val child = Seq((1L, "a", Some(10L)), (2L, "b", Some(99L)),
      (3L, "c", None), (4L, "d", Some(11L)), (5L, "e", Some(10L)))
      .toDF("id", "name", "ref")
    val parents = Seq(
      Seq(Some(10L), Some(10L), Some(11L), Some(11L)),  // duplicated keys
      Seq(Some(10L), None, None),                      // null keys
      Seq[Option[Long]](None),                         // only a null key
      Seq[Option[Long]]())                             // no parent rows
    for (keys <- parents) {
      val parent = keys.toDF("pid")
      val r = Rules.ForeignKeyRule(child, cfg, Map("parent" -> parent))
      val (cleaned, viols) = fkByLeftJoin(child, parent)
      assertSameRows(r.cleaned, rowsOf(cleaned))
      assertSameRows(r.violations.select("record_key", "detail"), rowsOf(viols))
      val plan = r.cleaned.queryExecution.optimizedPlan
      assert(plan.collect { case j: Join if j.joinType.isInstanceOf[ExistenceJoin] => j }
        .size == 1, plan.toString)
      assert(plan.collect { case g: Aggregate => g }.isEmpty, plan.toString)
    }
    // a table that references itself reads one relation on both sides
    val self = TableConfig("t", cfg.columns, Seq(FkRef("ref", "t", "id")))
    val tree = Seq((1L, "a", None), (2L, "b", Some(1L)), (3L, "c", Some(9L)),
      (4L, "d", Some(2L))).toDF("id", "name", "ref")
    val r = Rules.ForeignKeyRule(tree, self, Map("t" -> tree))
    val (cleaned, viols) = fkByLeftJoin(tree, tree.select(col("id").as("pid")))
    assertSameRows(r.cleaned, rowsOf(cleaned))
    assertSameRows(r.violations.select("record_key", "detail")
      .withColumn("detail", regexp_replace(col("detail"), "t\\.id", "parent.pid")),
      rowsOf(viols))
  }
}
