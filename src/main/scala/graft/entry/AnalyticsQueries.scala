package graft.entry

/** Window/time-series/OLAP analytics: sessionization,
  * windows, rollup/cube/pivot, sketches, skew-aware aggregation.
  *
  * One slice of [[graft.SparkEntry]]'s catalog: `queries` and the
  * matching DuckDB `oracleSql` live side by side so an edit to a
  * query and its oracle is always a same-file change.
  */
import graft.entry.EntryTables._
import graft.ext.{Dedup, Multimodal, Retrieval, Similarity, TextOps}
import graft.model.{ColumnSpec, FkRef, TableConfig}
import graft.ops.{Merge, Normalize, TemporalJoin}
import graft.rules.Rules
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

private[graft] object AnalyticsQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- event-time tumbling window aggregation -----------------------------
    "q32_hourly_events" -> ((s, dir) => {
      events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double").as("total_value"))
        .orderBy("hour", "event_type")
    }),

    // ---- gap-based sessionization (window + cumulative sum) -----------------
    "q33_sessionize" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val gapMin = 30
      val newSession = when(
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(byUser))
          > gapMin * 60 * 1000000L, 1).otherwise(0)
      events(s, dir)
        .withColumn("session_id",
          sum(newSession).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
        .orderBy("user_id", "session_id")
    }),

    // ---- semi-structured JSON extraction -------------------------------------
    "q34_json_extract" -> ((s, dir) => {
      events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), max(col("k")).as("max_k"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // ---- sliding event-time windows (1h window / 15m slide) ------------------
    "q41_sliding_window" -> ((s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 6))).cast("double")
            .as("total_value"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n"), col("total_value"))
        .orderBy("window_start", "event_type")
    }),

    // ---- sketch aggregation: HLL approx-distinct (oracle-checked) ----------
    // approx and exact are SEPARATE aggregations joined on the group key:
    // a distinct aggregate alongside approx_count_distinct in one groupBy
    // forces an Expand whose first-stage aggregate keys on
    // (group, distinct-key) — every distinct key then carries its own
    // rsd=0.01 HLL++ sketch (~12 KB) in aggregation state. Measured at
    // sf0.1: 331 568 such groups → multi-GB agg state, sort-based
    // fallback, 490+ s. Split, the HLL sees |groups| buffers (3 here) and
    // the exact side is the standard two-level distinct rewrite. The
    // output exposes the exact count plus an error-bound flag (|approx −
    // exact| / exact ≤ 5% at rsd = 1%), which the DuckDB oracle can
    // predict exactly — making the sketch query hash-checkable.
    "q40_approx_distinct" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val approx = li.groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_orderkey"), 0.01).as("approx_orders"))
      val exact = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_orderkey")).as("exact_orders"))
      approx.join(exact, "l_returnflag")
        .select(col("l_returnflag"), col("exact_orders"),
          (abs(col("approx_orders") - col("exact_orders")) <=
            col("exact_orders") * 0.05).as("approx_within_5pct"))
        .orderBy("l_returnflag")
    }),

    // ---- column profiler (oracle-checked): per-column census — counts,
    // null presence, distinct cardinality, min/max, exact median. The
    // data-quality profiling pass run before schema contracts are
    // declared. Exact `percentile` buffers each group's values (fine per
    // profiled column); q54 is the sketch-based scale path.
    "q51_column_profile" -> ((s, dir) => {
      // r16 shape: aggregate FIRST (per-column expressions over the raw
      // relation), reshape to one row per column AFTER — the old shape
      // stacked 3× the rows and shuffled them into THREE hash keys, so
      // every percentile buffer (and its multi-MB serialized partial)
      // rode a 1.8M-row exchange twice, basic + distinct branch (guide
      // §2.3 "aggregate before you shuffle"; measured 8.2 → ~3 s at
      // sf0.1, and at scale the 3-key exchange is a straggler by
      // construction). The distinct census stays a SEPARATE aggregate
      // (q40's lesson: a shared Expand would double the rows feeding
      // the percentile buffers); both aggregates emit ONE row, met by
      // a trivial broadcast cross join, then stack(3) reshapes.
      val li = t(s, dir, "lineitem")
      val cols = Seq("l_discount", "l_extendedprice", "l_quantity")
      val basic = li.agg(count(lit(1)).as("n_rows"),
        cols.flatMap(c => Seq(
          count(col(c)).as(s"np_$c"),
          min(col(c)).as(s"mn_$c"),
          max(col(c)).as(s"mx_$c"),
          round(expr(s"percentile($c, 0.5)"), 6).as(s"p5_$c"))): _*)
      val distinct = li.agg(
        countDistinct(col(cols.head)).as(s"nd_${cols.head}"),
        cols.tail.map(c => countDistinct(col(c)).as(s"nd_$c")): _*)
      val slots = cols.map(c =>
        s"'$c', n_rows, np_$c, nd_$c, mn_$c, mx_$c, p5_$c").mkString(",\n")
      basic.crossJoin(distinct)
        .select(expr(
          s"""stack(${cols.size},
             |$slots) AS (col_name, n_rows, n_present, n_distinct,
             |  min_value, max_value, p50)""".stripMargin))
        .orderBy("col_name")
    }),

    // ---- quantile sketch (oracle-checked): approx_percentile — bounded
    // state per group regardless of group size, the 100 TB answer to
    // q51's exact percentile. Output exposes the exact median (oracle-
    // checkable) plus an in-band flag pinning the sketch between the
    // exact 40th and 60th percentiles — at accuracy 10000 the rank error
    // is ~n/10000, orders of magnitude inside that band.
    "q54_quantile_sketch" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          // ONE percentile call for all three exact quantiles = one
          // value buffer per group, not three copies of it
          expr("percentile(l_extendedprice, array(0.4D, 0.5D, 0.6D))")
            .as("__p"),
          expr("approx_percentile(l_extendedprice, 0.5D, 10000)").as("__approx"))
        .select(col("l_returnflag"),
          round(element_at(col("__p"), 2), 6).as("p50_exact"),
          (col("__approx") >= element_at(col("__p"), 1) &&
            col("__approx") <= element_at(col("__p"), 3)).as("approx_in_band"))
        .orderBy("l_returnflag")
    }),

    // ---- as-of join (oracle-checked): each event picks its user's most
    // recent order at-or-before the event time; ties on o_orderdate break
    // to max o_orderkey. Union + running window = ONE key shuffle — never
    // the quadratic pair join the naive inequality formulation plans.
    "q59_asof_join" -> ((s, dir) => {
      val e = events(s, dir).select("event_id", "user_id", "ts")
      val o = t(s, dir, "orders")
      TemporalJoin.asofJoin(e, o, "user_id", "o_custkey", "ts", "o_orderdate",
          rightCols = Seq("o_orderkey", "o_totalprice"),
          tieBreak = "o_orderkey")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("o_orderkey").as("last_orderkey"),
          col("o_totalprice").as("last_price"))
        .orderBy("event_id")
    }),

    // ---- set operations (oracle-checked): INTERSECT / EXCEPT both ways
    // between two id sets, tagged and reassembled — each set op is one
    // distinct-aggregate shuffle, no joins hand-rolled.
    "q67_set_ops" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val a = docs.filter(col("lang") === "en").select("doc_id")
      val b = docs.filter(col("n_chars") > 300).select("doc_id")
      a.intersect(b).withColumn("op", lit("both"))
        .unionByName(a.except(b).withColumn("op", lit("en_only")))
        .unionByName(b.except(a).withColumn("op", lit("long_only")))
        .orderBy("op", "doc_id")
    }),

    // ---- ranking-window battery (oracle-checked): the full analytic-
    // function surface over one per-key sorted window — rank, dense_rank,
    // ntile, percent_rank, cume_dist, lead-with-default, first/nth value.
    // One shuffle + one sort serves all eight functions.
    "q64_window_battery" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cdist"),
        lead(col("o_orderkey"), 1, -1L).over(w).as("next_key"),
        first(col("o_orderkey")).over(w).as("first_key"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_key"))
        .orderBy("o_custkey", "rnk")
    }),

    // ---- ROLLUP with grouping indicators (oracle-checked): subtotal
    // lattice in ONE aggregation pass (Catalyst expands grouping sets
    // map-side; partials combine per set) instead of N unioned scans.
    "q65_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          money(col("l_quantity")).as("sum_qty"),
          grouping(col("l_returnflag")).cast("long").as("g_flag"),
          grouping(col("l_linestatus")).cast("long").as("g_status"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"), col("g_flag"), col("g_status"))
        .orderBy("rf", "ls")
    }),

    // ---- explicit GROUPING SETS (oracle-checked): completes the lattice
    // trio (rollup q65, cube q68) with an arbitrary set list over the
    // region⊃nation dimension star — (region, nation), (region), ().
    // One Expand + one shuffle like rollup; dims broadcast onto orders.
    "q102_grouping_sets" -> ((s, dir) => {
      val j = t(s, dir, "orders")
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
      j.groupingSets(
          Seq(Seq(col("r_name"), col("n_name")), Seq(col("r_name")), Seq()),
          col("r_name"), col("n_name"))
        .agg(money(col("o_totalprice")).as("revenue"),
          count(lit(1)).as("n_orders"),
          grouping(col("r_name")).cast("long").as("g_region"),
          grouping(col("n_name")).cast("long").as("g_nation"))
        .select(coalesce(col("r_name"), lit("ALL")).as("region"),
          coalesce(col("n_name"), lit("ALL")).as("nation"),
          col("revenue"), col("n_orders"), col("g_region"), col("g_nation"))
        .orderBy("region", "nation")
    }),

    // ---- unpivot / melt (oracle-checked): the inverse of q66 —
    // wide per-status counts back to (priority, status, n) long form via
    // the native Dataset.unpivot (an Expand projection, zero shuffle on
    // top of the aggregate that built the wide frame).
    "q105_unpivot" -> ((s, dir) => {
      val wide = t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(count(lit(1)))
      wide.unpivot(Array(col("o_orderpriority")),
          Array(col("O"), col("F"), col("P")), "status", "n_orders")
        .withColumn("n_orders", coalesce(col("n_orders"), lit(0L)))
        .orderBy("o_orderpriority", "status")
    }),

    // ---- pivot / crosstab (oracle-checked): order counts + DECIMAL-exact
    // revenue per (priority x status) — pivot is a single groupBy whose
    // output width is the pivoted domain, still one shuffle.
    "q66_pivot" -> ((s, dir) => {
      val p = t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(count(lit(1)).as("n"), money(col("o_totalprice")).as("price"))
      p.select(col("o_orderpriority"),
          coalesce(col("O_n"), lit(0L)).as("n_o"),
          coalesce(col("F_n"), lit(0L)).as("n_f"),
          coalesce(col("P_n"), lit(0L)).as("n_p"),
          col("O_price").as("price_o"),
          col("F_price").as("price_f"),
          col("P_price").as("price_p"))
        .orderBy("o_orderpriority")
    }),

    // ---- CUBE lattice (oracle-checked): all four grouping sets in one
    // pass — completes the grouping family next to q65's ROLLUP; partial
    // aggregation keeps the lattice at one shuffle.
    "q68_cube" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          money(col("l_quantity")).as("sum_qty"),
          grouping(col("l_returnflag")).cast("long").as("g_flag"),
          grouping(col("l_linestatus")).cast("long").as("g_status"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"), col("g_flag"), col("g_status"))
        .orderBy("rf", "ls", "g_flag", "g_status")
    }),

    // ---- per-group z-score outliers (oracle-checked): DECIMAL-exact
    // Σx/Σx² per group, stats broadcast back, codegen'd z filter — the
    // generalized numeric data-quality rule (SURVEY §2 F5's fixed `< 0`
    // predicate, upgraded to distribution-aware).
    "q73_zscore_outliers" -> ((s, dir) => {
      graft.ext.Outliers.zscoreOutliers(events(s, dir), "event_type",
          "value", threshold = 3.0)
        .select("event_id", "event_type", "value", "z")
        .orderBy("event_id")
    }),

    // ---- prequential anomaly scan (oracle-checked): the BATCH form of
    // streaming/AnomalyDetect — each event z-scored against the running
    // moments of all PRIOR events of its type via an unbounded-preceding
    // window frame. Running sums go through DECIMAL so the fold is
    // order-independent inside each engine's frame implementation
    // (DuckDB's segment-tree combine vs Spark's incremental fold would
    // otherwise diverge in the last ulp).
    "q77_prequential_anomaly" -> ((s, dir) => {
      graft.ext.Outliers.prequentialOutliers(events(s, dir), "event_type",
          Seq("ts", "event_id"), "value", threshold = 3.0, minPrior = 30)
        .select("event_id", "event_type", "value", "n_prior", "z")
        .orderBy("event_id")
    }),

    // ---- k-step funnel conversion (oracle-checked): first-touch,
    // strictly-ordered view → click → purchase over the event log; one
    // tiny (user, t_step) relation per step, never a row-to-row
    // self-join.
    "q80_funnel" -> ((s, dir) => {
      graft.ext.Funnel.conversion(events(s, dir), "user_id", "event_type",
          "ts", Seq("view", "click", "purchase"))
        .orderBy("step")
    }),

    // ---- time-series gap fill (oracle-checked): hourly grid per
    // event_type, forward-filled by one union + one window pass — the
    // as-of lookup without a per-grid-point probe join.
    "q82_gap_fill" -> ((s, dir) => {
      graft.ext.TimeSeries.forwardFillGrid(events(s, dir), "event_type",
          "ts", "value", "event_id", step = "1 hour")
        .orderBy("event_type", "grid_ts")
    }),

    // ---- retention cohorts (oracle-checked): users bucketed by
    // first-seen day × activity-day offset — the companion analytics
    // staple to q80's funnel; two aggregations and one join, all keyed.
    "q81_retention" -> ((s, dir) => {
      val ev = events(s, dir)
      val firstSeen = ev.groupBy("user_id")
        .agg(min(to_date(col("ts"))).as("cohort_day"))
      ev.select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
        .join(firstSeen, "user_id")
        .withColumn("day_offset",
          datediff(col("day"), col("cohort_day")).cast("long"))
        .groupBy("cohort_day", "day_offset")
        .agg(countDistinct("user_id").as("n_active"))
        // dates surface as ISO strings: pandas reads a parquet DATE and a
        // DuckDB DATE into different dtypes, so the gate would miscompare
        .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
          col("day_offset"), col("n_active"))
        .orderBy("cohort_day", "day_offset")
    }),

    // ---- exact heavy hitters in bounded memory (oracle-checked): native
    // Misra-Gries candidate sketch (O(k) state per partial buffer — never
    // a full-vocabulary shuffle) + exact recount of the ≤k candidates.
    // Result is identical to GROUP BY token HAVING n > total/(k+1).
    "q61_heavy_hitters" -> ((s, dir) => {
      TextOps.heavyHitters(t(s, dir, "documents"), "text", k = 50)
        .orderBy(desc("n"), col("token"))
    }),

    // ---- point-in-range join (oracle-checked): orders matched to 60
    // overlapping 30-day promo periods generated from spark.range. Each
    // interval explodes to its covering 30-day buckets → plain equi-join
    // + refine, never a BroadcastNestedLoopJoin.
    "q60_range_join" -> ((s, dir) => {
      val day0 = lit(9131L) // epoch day of 1995-01-01
      val periods = s.range(60).select(col("id").as("period_id"),
        (day0 + col("id") * 14).as("lo"),
        (day0 + col("id") * 14 + 30).as("hi"))
      val pts = t(s, dir, "orders").withColumn("d",
        datediff(col("o_orderdate").cast("date"),
          to_date(lit("1970-01-01"))).cast("long"))
      TemporalJoin.rangeJoinByBucket(pts, "d", periods, "lo", "hi",
          bucketWidth = 30L)
        .groupBy("period_id")
        .agg(count(lit(1)).as("n_orders"),
          money(col("o_totalprice")).as("revenue"))
        .orderBy("period_id")
    }),

    // ---- skew-mitigated aggregation (oracle-checked): the salted two-stage
    // agg must equal the plain GROUP BY — l_returnflag has only 3 values,
    // exactly the hot-key shape where one reducer would take the whole
    // table; salting spreads each key over 16 partials first.
    "q44_salted_agg" -> ((s, dir) => {
      graft.ops.Skew.saltedAgg(t(s, dir, "lineitem"),
          keys = Seq("l_returnflag"), saltBuckets = 16,
          aggs = Map(
            "l_quantity" -> ((c: Column) => sum(c.cast(dec2)),
                             (c: Column) => sum(c)),
            "l_orderkey" -> ((c: Column) => count(c),
                             (c: Column) => sum(c))))
        .select(col("l_returnflag"),
          col("l_quantity").cast("double").as("sum_qty"),
          col("l_orderkey").cast("long").as("n_rows"))
        .orderBy("l_returnflag")
    }),

    // ---- top-k per group WITHOUT a window sort (oracle-checked): top-5
    // customers by order revenue per nation via the native graft_top_k
    // aggregate — O(k) state per group, map-side partial combine, the
    // shuffle carries ≤k candidates per (partition, group) instead of
    // every scored row. The window formulation this replaces must shuffle
    // AND sort the full relation; spec pins the plan to zero Window
    // operators (TopKAggSpec).
    "q83_topk_per_group" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val rev = t(s, dir, "orders")
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy("c_nationkey", "c_custkey")
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast("double").as("revenue"))
      rev.groupBy("c_nationkey")
        .agg(call_function("graft_top_k",
          col("revenue"), col("c_custkey"), lit(5)).as("top"))
        .select(col("c_nationkey"),
          posexplode(col("top")).as(Seq("pos", "s")))
        .select(col("c_nationkey"),
          (col("pos") + 1).cast("long").as("rank"),
          col("s.payload").as("c_custkey"), col("s.ord").as("revenue"))
        .orderBy("c_nationkey", "rank")
    }),
  )

  val oracleSql: Map[String, String] = Map(

    "q32_hourly_events" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,

    "q33_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "q34_json_extract" ->
      """SELECT event_type,
        |  CAST(sum(json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS sum_k,
        |  CAST(max(json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS max_k, count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // sliding windows emulated relationally: each event belongs to exactly
    // 4 epoch-aligned 15-minute-stepped hour windows (same alignment Spark
    // uses for window())
    "q41_sliding_window" ->
      """SELECT TIMESTAMP '1970-01-01'
        |    + ((epoch_us(ts) // 900000000 - r.j) * 900) * INTERVAL 1 SECOND
        |    AS window_start,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events, range(4) r(j)
        |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,

    // quantile_cont interpolates exactly like Spark's exact `percentile`
    "q51_column_profile" ->
      """WITH u AS (
        |  SELECT 'l_discount' AS col_name, l_discount AS value FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT 'l_quantity', l_quantity FROM lineitem)
        |SELECT col_name, count(*) AS n_rows, count(value) AS n_present,
        |  count(DISTINCT value) AS n_distinct,
        |  min(value) AS min_value, max(value) AS max_value,
        |  round(quantile_cont(value, 0.5), 6) AS p50
        |FROM u GROUP BY col_name ORDER BY col_name""".stripMargin,

    // LEFT JOIN + rank-1 filter is the quadratic-but-simple oracle twin of
    // the single-shuffle union+window plan; identical tie-break (max
    // orderkey at equal o_orderdate) keeps the pick deterministic
    "q59_asof_join" ->
      """WITH ranked AS (
        |  SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_totalprice,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e LEFT JOIN orders o
        |    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
        |SELECT event_id, user_id, ts, o_orderkey AS last_orderkey,
        |  o_totalprice AS last_price
        |FROM ranked WHERE rn = 1 ORDER BY event_id""".stripMargin,

    "q67_set_ops" ->
      """WITH a AS (SELECT doc_id FROM documents WHERE lang = 'en'),
        |b AS (SELECT doc_id FROM documents WHERE n_chars > 300)
        |SELECT doc_id, 'both' AS op FROM (SELECT doc_id FROM a INTERSECT SELECT doc_id FROM b)
        |UNION ALL
        |SELECT doc_id, 'en_only' FROM (SELECT doc_id FROM a EXCEPT SELECT doc_id FROM b)
        |UNION ALL
        |SELECT doc_id, 'long_only' FROM (SELECT doc_id FROM b EXCEPT SELECT doc_id FROM a)
        |ORDER BY op, doc_id""".stripMargin,

    "q64_window_battery" ->
      """SELECT o_custkey, o_orderkey,
        |  rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
        |  ntile(4) OVER w AS quartile,
        |  CAST(percent_rank() OVER w AS DOUBLE) AS pct_rank,
        |  CAST(cume_dist() OVER w AS DOUBLE) AS cdist,
        |  lead(o_orderkey, 1, -1) OVER w AS next_key,
        |  first_value(o_orderkey) OVER w AS first_key,
        |  nth_value(o_orderkey, 2) OVER w AS second_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, rnk""".stripMargin,

    "q65_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |  coalesce(l_linestatus, 'ALL') AS ls, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_status
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,

    "q102_grouping_sets" ->
      """SELECT coalesce(r_name, 'ALL') AS region,
        |  coalesce(n_name, 'ALL') AS nation,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders,
        |  CAST(grouping(r_name) AS BIGINT) AS g_region,
        |  CAST(grouping(n_name) AS BIGINT) AS g_nation
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
        |ORDER BY region, nation""".stripMargin,

    // UNION ALL formulation — engine-neutral melt, no UNPIVOT dialect risk
    "q105_unpivot" ->
      """WITH w AS (
        |  SELECT o_orderpriority,
        |    count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |    count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |    count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |  FROM orders GROUP BY o_orderpriority)
        |SELECT o_orderpriority, 'O' AS status, n_o AS n_orders FROM w
        |UNION ALL SELECT o_orderpriority, 'F', n_f FROM w
        |UNION ALL SELECT o_orderpriority, 'P', n_p FROM w
        |ORDER BY o_orderpriority, status""".stripMargin,

    "q66_pivot" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS price_o,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS price_f,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    FILTER (WHERE o_orderstatus = 'P') AS DOUBLE) AS price_p
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q68_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |  coalesce(l_linestatus, 'ALL') AS ls, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_status
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY rf, ls, g_flag, g_status""".stripMargin,

    "q73_zscore_outliers" ->
      """WITH stx AS (
        |  SELECT event_type, count("value") AS n,
        |    CAST(sum(CAST("value" AS DECIMAL(30,10))) AS DOUBLE) AS s,
        |    CAST(sum(CAST("value" * "value" AS DECIMAL(30,10))) AS DOUBLE) AS s2
        |  FROM events GROUP BY event_type)
        |SELECT event_id, e.event_type, "value",
        |  round(("value" - s/n) / sqrt((s2 - s*s/n)/(n-1)), 4) AS z
        |FROM events e JOIN stx USING (event_type)
        |WHERE n > 1 AND (s2 - s*s/n)/(n-1) > 0
        |  AND abs(round(("value" - s/n) / sqrt((s2 - s*s/n)/(n-1)), 4)) > 3
        |ORDER BY event_id""".stripMargin,

    "q77_prequential_anomaly" ->
      """WITH scored AS (
        |  SELECT event_id, event_type, "value",
        |    count(*) OVER w AS n_prior,
        |    CAST(sum(CAST("value" AS DECIMAL(30,10))) OVER w AS DOUBLE) AS sm,
        |    CAST(sum(CAST("value" * "value" AS DECIMAL(30,10))) OVER w AS DOUBLE) AS s2
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_id, event_type, "value", n_prior,
        |  round(("value" - sm/n_prior)
        |    / sqrt((s2 - sm*sm/n_prior)/(n_prior - 1)), 4) AS z
        |FROM scored
        |WHERE n_prior >= 30 AND (s2 - sm*sm/n_prior)/(n_prior - 1) > 0
        |  AND abs(round(("value" - sm/n_prior)
        |    / sqrt((s2 - sm*sm/n_prior)/(n_prior - 1)), 4)) > 3
        |ORDER BY event_id""".stripMargin,

    "q82_gap_fill" ->
      """WITH bounds AS (
        |  SELECT event_type, date_trunc('hour', min(ts)) AS lo, max(ts) AS hi
        |  FROM events GROUP BY event_type),
        |grid AS (
        |  SELECT event_type,
        |    unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS t
        |  FROM bounds),
        |u AS (
        |  SELECT event_type, ts AS t, "value" AS v, 0 AS is_grid, event_id
        |  FROM events
        |  UNION ALL
        |  SELECT event_type, t, NULL, 1, NULL FROM grid),
        |f AS (
        |  SELECT event_type, t, is_grid,
        |    last_value(v IGNORE NULLS) OVER (
        |      PARTITION BY event_type ORDER BY t, is_grid, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |  FROM u)
        |SELECT event_type, t AS grid_ts, filled
        |FROM f WHERE is_grid = 1
        |ORDER BY event_type, grid_ts""".stripMargin,

    "q81_retention" ->
      """WITH fs AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
        |  FROM events GROUP BY user_id),
        |act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
        |SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
        |  CAST(datediff('day', cohort_day, day) AS BIGINT) AS day_offset,
        |  count(DISTINCT a.user_id) AS n_active
        |FROM act a JOIN fs USING (user_id)
        |GROUP BY cohort_day, datediff('day', cohort_day, day)
        |ORDER BY cohort_day, day_offset""".stripMargin,

    "q80_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT s1.user_id, t1, min(CASE WHEN e.ts > t1 THEN e.ts END) AS t2
        |  FROM s1 LEFT JOIN events e
        |    ON e.user_id = s1.user_id AND e.event_type = 'click'
        |  GROUP BY s1.user_id, t1),
        |s3 AS (
        |  SELECT s2.user_id, t1, t2, min(CASE WHEN e.ts > t2 THEN e.ts END) AS t3
        |  FROM s2 LEFT JOIN events e
        |    ON e.user_id = s2.user_id AND e.event_type = 'purchase'
        |  GROUP BY s2.user_id, t1, t2),
        |c AS (SELECT count(t1) AS n1, count(t2) AS n2, count(t3) AS n3 FROM s3)
        |SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type, n1 AS n_users,
        |  CASE WHEN n1 > 0 THEN floor(n1::DOUBLE / n1 * 1e4) / 1e4 ELSE 0.0 END AS conversion
        |FROM c
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'click', n2,
        |  CASE WHEN n1 > 0 THEN floor(n2::DOUBLE / n1 * 1e4) / 1e4 ELSE 0.0 END FROM c
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'purchase', n3,
        |  CASE WHEN n2 > 0 THEN floor(n3::DOUBLE / n2 * 1e4) / 1e4 ELSE 0.0 END FROM c
        |ORDER BY step""".stripMargin,

    // integer ppm share keeps the result float-free; threshold n*(k+1) >
    // total mirrors the engine's overflow-safe integer comparison
    "q61_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT tok FROM (SELECT unnest(string_split_regex(
        |      trim(lower(text)), '\s+')) AS tok FROM documents)
        |  WHERE tok <> ''),
        |c AS (SELECT tok AS token, count(*) AS n FROM toks GROUP BY tok),
        |tot AS (SELECT count(*) AS total FROM toks)
        |SELECT token, n, n * 1000000 // total AS share_ppm
        |FROM c, tot WHERE n * 51 > total
        |ORDER BY n DESC, token""".stripMargin,

    "q60_range_join" ->
      """WITH periods AS (
        |  SELECT i AS period_id,
        |    DATE '1995-01-01' + (i*14) * INTERVAL 1 DAY AS lo,
        |    DATE '1995-01-01' + (i*14 + 30) * INTERVAL 1 DAY AS hi
        |  FROM range(60) t(i))
        |SELECT period_id, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM periods p JOIN orders o
        |  ON o.o_orderdate >= p.lo AND o.o_orderdate < p.hi
        |GROUP BY period_id ORDER BY period_id""".stripMargin,

    // the oracle pins the sketch's in-band flag to TRUE: at accuracy
    // 10000 the rank error is far inside the exact (p40, p60) band
    "q54_quantile_sketch" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_exact,
        |  true AS approx_in_band
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the salted two-stage aggregation is semantically a plain GROUP BY —
    // DECIMAL partials keep the sum exact, so the hash must match
    "q44_salted_agg" ->
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(l_orderkey) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q40_approx_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_orders,
        |  true AS approx_within_5pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the window formulation the aggregate replaces — same (revenue DESC,
    // custkey ASC) total order as graft_top_k's tie-break, DECIMAL-exact
    // revenue sums cast to DOUBLE on both sides
    "q83_topk_per_group" ->
      """WITH rev AS (
        |  SELECT c_nationkey, c_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_nationkey, c_custkey)
        |SELECT c_nationkey, CAST(row_number() OVER w AS BIGINT) AS rank,
        |  c_custkey, revenue
        |FROM rev
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY revenue DESC, c_custkey)
        |QUALIFY row_number() OVER w <= 5
        |ORDER BY c_nationkey, rank""".stripMargin,
  )
}
