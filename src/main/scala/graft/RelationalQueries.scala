package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{decAvg, decSum}

/** Relational query suite over the TPC-H-ish test tables.
  *
  * These cover SURVEY.md §2.9's checklist (the relational algebra PyDin
  * delegates to source databases, which on this engine runs on Spark SQL):
  * scan/filter/project, joins of every flavor, aggregation, rollup,
  * windows, sort/limit, set ops, scalar functions, subqueries.
  *
  * Determinism contract with the DuckDB oracle:
  *  - double SUM/AVG always go through DECIMAL(38,6) (see [[graft.functions.decSum]]);
  *  - casts added wherever Spark and DuckDB default to different widths
  *    (year() -> BIGINT in DuckDB, IntegerType in Spark; floor() -> DOUBLE
  *    in DuckDB, LongType in Spark; SUM(int) -> HUGEINT in DuckDB);
  *  - every ORDER BY carries a unique tie-break key.
  */
object RelationalQueries {
  private type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val defs: Map[String, Q] = Map(
    // TPC-H Q1-style pricing summary: scan + filter + groupBy aggregates.
    "q01_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          decSum(col("l_quantity")).as("sum_qty"),
          decSum(col("l_extendedprice")).as("sum_base_price"),
          decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          decAvg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
    }),

    // Projection + filter; both predicates reach the parquet scan.
    "q02_filter_project" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate").between(
          lit("1995-01-01").cast("timestamp"), lit("1995-03-31").cast("timestamp"))
          && col("l_discount") > 0.05)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate")
    }),

    // TPC-H Q3-style: 3-way join (dim broadcast) + agg + deterministic top-k.
    "q03_join_topk" -> ((s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(10)
    }),

    // Left-semi join (EXISTS).
    "q04_semi_join" -> ((s, dir) => {
      val bigOrders = t(s, dir, "orders").filter(col("o_totalprice") > 100000.0)
      t(s, dir, "customer")
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    }),

    // Left-anti join (NOT EXISTS).
    "q05_anti_join" -> ((s, dir) => {
      val bigOrders = t(s, dir, "orders").filter(col("o_totalprice") > 100000.0)
      t(s, dir, "customer")
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    }),

    // Left-outer join + agg keeping unmatched dimension rows.
    "q06_outer_join_agg" -> ((s, dir) => {
      val nat = t(s, dir, "nation")
      val cust = t(s, dir, "customer")
      nat.join(cust, nat("n_nationkey") === cust("c_nationkey"), "left")
        .groupBy("n_name")
        .agg(count(col("c_custkey")).as("n_customers"),
          decSum(coalesce(col("c_acctbal"), lit(0.0))).as("total_bal"))
    }),

    // Window: top-3 suppliers per nation by balance (deterministic ranks).
    "q07_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy("s_nationkey")
        .orderBy(col("s_acctbal").desc, col("s_suppkey").asc)
      t(s, dir, "supplier")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("s_nationkey", "s_suppkey", "s_name", "rk")
    }),

    // Window: running sum per supplier (exact decimal accumulation).
    "q08_window_running" -> ((s, dir) => {
      // l_quantity last in the ORDER BY: the fixture REUSES
      // (l_orderkey, l_linenumber) at sf>=0.1 (118k dup groups), so
      // without it two exact order-ties with different quantities make
      // the ROWS-frame prefix sum tie-order-ambiguous — the sf0.1
      // replay caught exactly one such row. With the summed column as
      // the final key, equal-prefix rows are interchangeable and the
      // running sum is total-order deterministic at any SF.
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_shipdate").asc, col("l_orderkey").asc,
          col("l_linenumber").asc, col("l_quantity").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          sum(col("l_quantity").cast("decimal(38,6)")).over(w)
            .cast("double").as("running_qty"))
    }),

    // ROLLUP aggregation (subtotal + grand-total rows).
    "q09_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(decSum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
    }),

    // Set op: UNION (distinct).
    "q10_union" -> ((s, dir) => {
      val a = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("custkey"))
      val b = t(s, dir, "orders").filter(col("o_totalprice") > 250000.0)
        .select(col("o_custkey").as("custkey"))
      a.union(b).distinct()
    }),

    // Set op: INTERSECT.
    "q11_intersect" -> ((s, dir) => {
      val a = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("custkey"))
      val b = t(s, dir, "orders").filter(col("o_totalprice") > 250000.0)
        .select(col("o_custkey").as("custkey"))
      a.intersect(b)
    }),

    // Set op: EXCEPT.
    "q12_except" -> ((s, dir) => {
      val a = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("custkey"))
      val b = t(s, dir, "orders").filter(col("o_totalprice") > 250000.0)
        .select(col("o_custkey").as("custkey"))
      a.except(b)
    }),

    // Exact distinct counts per group.
    "q13_distinct_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("distinct_parts"),
          countDistinct(col("l_suppkey")).as("distinct_supps"),
          count(lit(1)).as("n"))
    }),

    // Scalar function zoo: string / date / math.
    "q14_scalar_fns" -> ((s, dir) => {
      t(s, dir, "orders").select(
        col("o_orderkey"),
        upper(substring(col("o_orderpriority"), 1, 3)).as("pri3"),
        year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"),
        dayofmonth(col("o_orderdate")).as("o_day"),
        length(col("o_orderstatus")).as("status_len"),
        concat(col("o_orderstatus"), lit("_"), col("o_orderpriority")).as("status_pri"),
        floor(col("o_totalprice") / 1000.0).as("bucket_k"),
        (col("o_orderkey") % 7).as("key_mod"))
    }),

    // GROUP BY ... HAVING.
    "q15_having" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("order_count"),
          decSum(col("o_totalprice")).as("total_spent"))
        .filter(col("order_count") >= 12)
    }),

    // Scalar subquery: orders above the global average price.
    // Spark side: 1-row aggregate broadcast-crossjoined (no driver collect).
    "q16_subquery_avg" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
      val avgDf = ord.agg(decAvg(col("o_totalprice")).as("__avg"))
      ord.crossJoin(broadcast(avgDf))
        .filter(col("o_totalprice") > col("__avg"))
        .select("o_orderkey", "o_totalprice")
    }),

    // User SQL TEXT on the engine — the reference's delegation surface
    // (§2.9: arbitrary SQL shipped to the source DB) running on Spark
    // SQL instead. The SAME string is the DuckDB oracle, so the gate
    // proves dialect-portable text parity, parser included. Correlated
    // EXISTS / NOT EXISTS decorrelate to semi/anti joins in Catalyst.
    "q41_sql_exists" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(SqlExistsText)
    }),

    // Correlated SCALAR subquery via SQL text (becomes an outer-join +
    // aggregate under decorrelation); same shared-string contract.
    "q42_sql_scalar_subquery" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer")
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(SqlScalarSubqueryText)
    }),

    // Cross join (small x small).
    "q17_cross_join" -> ((s, dir) => {
      val statuses = t(s, dir, "lineitem").select("l_linestatus").distinct()
      t(s, dir, "region").crossJoin(broadcast(statuses))
        .select("r_name", "l_linestatus")
    }),

    // CASE expression bucketing.
    "q18_case_expr" -> ((s, dir) => {
      t(s, dir, "orders")
        .withColumn("bucket",
          when(col("o_totalprice") < 50000.0, "low")
            .when(col("o_totalprice") < 150000.0, "mid")
            .otherwise("high"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), decSum(col("o_totalprice")).as("total"))
    }),

    // Logical-date window + month breakdown (the Calendar/date-window knob).
    "q19_date_window" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate").between(
          lit("1995-01-01").cast("timestamp"), lit("1995-12-31").cast("timestamp")))
        .groupBy(month(col("l_shipdate")).as("ship_month"))
        .agg(count(lit(1)).as("n"), decSum(col("l_quantity")).as("sum_qty"))
    }),

    // Incremental load: high-water-mark predicate + new HWM readback.
    "q20_hwm_incremental" -> ((s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_orderkey") > 4000L)
        .agg(count(lit(1)).as("n_new"),
          decSum(col("o_totalprice")).as("sum_new"),
          max(col("o_orderkey")).as("new_hwm"))
    }),

    // Mapper (rename/derive) + run-key stamping (pd_process_id).
    "q21_mapper_keystamp" -> ((s, dir) => {
      t(s, dir, "customer").select(
        col("c_custkey"),
        upper(col("c_name")).as("c_name_u"),
        floor(col("c_acctbal")).as("bal_floor"),
        lit(42L).as("pd_process_id"))
    }),

    // Event-time tumbling window aggregation (hourly).
    "q22_events_hourly" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
        .agg(count(lit(1)).as("n"), decSum(col("value")).as("sum_value"))
    }),

    // Sessionization: exact interval arithmetic, 30-minute gaps.
    "q23_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      val prev = lag(col("ts"), 1).over(w)
      t(s, dir, "events")
        .withColumn("new_session",
          when(prev.isNull || col("ts") > prev + expr("INTERVAL 30 MINUTE"), 1)
            .otherwise(0))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum(col("new_session")).as("n_sessions"))
    }),

    // Manual pivot via conditional aggregation.
    "q24_pivot_manual" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("user_id")
        .agg(
          sum(when(col("event_type") === "click", 1).otherwise(0)).as("n_click"),
          sum(when(col("event_type") === "view", 1).otherwise(0)).as("n_view"),
          sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("n_purchase"),
          count(lit(1)).as("n_total"))
    }),

    // Native pivot operator (q24 is the manual CASE form): explicit
    // pivot values keep the plan single-pass — no distinct-values
    // pre-query — and the output a fixed schema; decimal sums make the
    // per-cell aggregates engine-exact. Absent cells are NULL (sum over
    // an empty set), matching ANSI.
    "q39_pivot_native" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "purchase"))
        .agg(graft.functions.decSum(col("value")))
    }),

    // CUBE aggregation (all grouping-set combinations).
    "q25_cube" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), decSum(col("l_quantity")).as("sum_qty"))
    }),

    // Exact percentiles (interpolated), grouped.
    "q26_percentile" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.9)").as("p90"),
          count(lit(1)).as("n"))
    }),

    // JSON extraction from a string column (the events.props payload).
    "q27_json_extract" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy("event_type")
        .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_k"))
    }),

    // Array aggregation: deterministic sorted collect per group.
    "q28_array_agg" -> ((s, dir) => {
      val nat = t(s, dir, "nation")
      t(s, dir, "region")
        .join(nat, col("r_regionkey") === col("n_regionkey"))
        .groupBy("r_name")
        .agg(array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"))
    }),

    // Skew-salted two-stage aggregation; result identical to a plain
    // groupBy (the oracle), shuffle pressure spread over 16 shards.
    "q29_salted_agg" -> ((s, dir) => {
      graft.operators.Relational.saltedSumCount(
        t(s, dir, "events"), Seq("event_type"), "value", salt = 16)
    }),

    // Skew-salted equi-join; result identical to the plain join (the
    // oracle), each key's rows spread over 8 reducers. The manual fix
    // for hot keys whose compressed bytes evade AQE's skew detection
    // (the NOTES.md round-6 finding) when their decompressed row count is the
    // real bottleneck.
    "q43_salted_join" -> ((s, dir) => {
      graft.operators.Relational.saltedJoin(
        t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity"),
        t(s, dir, "orders").select("o_orderkey", "o_totalprice")
          .withColumnRenamed("o_orderkey", "l_orderkey"),
        Seq("l_orderkey"), salt = 8)
        .select("l_orderkey", "l_linenumber", "l_quantity", "o_totalprice")
    }),

    // AUTO-salted equi-join: the sampled key-frequency probe detects the
    // events table's type skew (~5 event types, top share > 0.1) and
    // routes through salting WITHOUT the caller naming the hot key;
    // result identical to the plain join (the oracle).
    "q44_auto_salted_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val typeDim = ev.groupBy("event_type")
        .agg(count(lit(1)).as("type_n"))
      graft.operators.Relational.autoSaltedJoin(
        ev.select("event_id", "event_type", "value"), typeDim,
        Seq("event_type"), hotShare = 0.1)
        .select("event_id", "event_type", "value", "type_n")
    }),

    // AUTO-salted aggregation: same detection, aggregation form; result
    // identical to q29's plain-groupBy oracle.
    "q45_auto_salted_agg" -> ((s, dir) => {
      graft.operators.Relational.autoSaltedSumCount(
        t(s, dir, "events"), Seq("event_type"), "value", hotShare = 0.1)
    }),

    // Binned range join: lineitems shipped within 3 days of an urgent
    // order's date (inclusive ends), aggregated per order — the
    // interval-overlap join a raw BETWEEN predicate would plan as a
    // nested loop. Epochs are exact longs (dates are midnights).
    "q46_range_join" -> ((s, dir) => {
      // NTZ timestamps carry no zone; the UTC session (SparkEntry) makes
      // the ltz hop equal DuckDB's epoch() on the same values
      def ep(c: org.apache.spark.sql.Column) =
        c.cast("timestamp_ltz").cast("long")
      // aggregate BELOW the range join: the point column is date-grained
      // (~2.4k distinct values vs 600k fact rows at sf0.1), so partial
      // per-point aggregates collapse the fact side BEFORE the bin
      // explode-join — at 100 TB this is the difference between joining
      // every fact row and joining one row per point key. Partial sums
      // stay DECIMAL until the final combine (the decSum contract).
      val byDay = t(s, dir, "lineitem")
        .groupBy(ep(col("l_shipdate")).as("ship_ep"))
        .agg(count(lit(1)).as("__n"),
          sum(col("l_extendedprice").cast("decimal(38,6)")).as("__s"))
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"),
          ep(col("o_orderdate")).as("win_start"),
          (ep(col("o_orderdate")) + lit(259200L)).as("win_end"))
      graft.operators.Relational.rangeJoin(byDay, urgent,
        "ship_ep", "win_start", "win_end")
        .groupBy("o_orderkey")
        .agg(sum(col("__n")).as("n_items"),
          sum(col("__s")).cast("double").as("sum_price"))
    }),

    // KEYED range join: clicks within one hour AFTER a purchase by the
    // SAME user (attribution windows) — the per-key interval shape; the
    // shuffle clusters on (user_id, bin). Epochs floored to seconds on
    // both sides (Spark's timestamp->long cast is a floor; the oracle
    // floors explicitly to match).
    "q47_keyed_range_join" -> ((s, dir) => {
      def ep(c: org.apache.spark.sql.Column) =
        c.cast("timestamp_ltz").cast("long")
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), ep(col("ts")).as("p"))
      val windows = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), ep(col("ts")).as("win_s"),
          (ep(col("ts")) + lit(3600L)).as("win_e"))
      graft.operators.Relational.rangeJoin(clicks, windows,
        "p", "win_s", "win_e", keyCols = Seq("user_id"))
        .groupBy("user_id").agg(count(lit(1)).as("n_attributed"))
    }),

    // One-pass table profiler: per-column rows/nulls/min/max/distinct in
    // a SINGLE scan (no expand, no per-column jobs). The approx-distinct
    // lands within 6% of exact (3 sigma at rsd 2%, deterministic for
    // fixed data); exact counts ride along so the oracle pins them.
    "q48_profile_stats" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      // numeric + string + timestamp columns: min_d/max_d populate for
      // the numerics only (schema-decided), min_s/max_s for ALL types —
      // the full data-card surface in the profiler's single scan.
      val cols = Seq("l_orderkey", "l_partkey", "l_quantity",
        "l_returnflag", "l_shipdate")
      val prof = graft.operators.Profile.profile(li, cols)
      // NOTE (gate shape, not operator usage): the N countDistincts
      // below exist only to pin the profiler's HLL estimates against
      // exact values at gate scale — they cost an Expand the operator
      // itself deliberately avoids; don't copy this shape as usage.
      val ex = li.agg(
        countDistinct(col(cols.head)).as("e0"),
        cols.tail.zipWithIndex.map { case (c, i) =>
          countDistinct(col(c)).as(s"e${i + 1}") }: _*)
        .select(explode(array(cols.zipWithIndex.map { case (c, i) =>
          struct(lit(c).as("col_name"), col(s"e$i").as("exact_distinct"))
        }: _*)).as("e"))
        .select(col("e.col_name"), col("e.exact_distinct"))
      prof.withColumnRenamed("column", "col_name")
        .join(ex, "col_name")
        .select(col("col_name"), col("n_rows"), col("n_nulls"),
          col("min_d"), col("max_d"), col("min_s"), col("max_s"),
          col("exact_distinct"),
          (abs(col("approx_distinct") - col("exact_distinct")).cast("double") /
            col("exact_distinct").cast("double") <= 0.06).as("distinct_ok"))
    }),

    // KMV distinct sketch with SET OPERATIONS (the capability HLL lacks):
    // per-type "active user-day" sketches, their union, and their
    // intersection — each estimate checked against the exact count. The
    // mergeable 8 KB sketch is the pre-aggregated-cube posture: persist
    // one per partition/day, answer "users who did A and B" over any
    // slice without rescanning. Hashing is codegen'd xxhash64; estimates
    // and set ops are pure built-in array functions over the sketch.
    "q49_kmv_distinct_sets" -> ((s, dir) => {
      import graft.expressions.Kmv
      val k = 1024
      val ev = t(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_type"),
          xxhash64(col("user_id"), date_trunc("day", col("ts"))).as("h"),
          col("user_id"), date_trunc("day", col("ts")).as("d"))
      val sk = ev.groupBy("event_type")
        .agg(Kmv.sketch(col("h"), k).as("sk"),
          countDistinct(col("user_id"), col("d")).as("exact_n"))
      val per = sk.select(col("event_type").as("set_name"), col("exact_n"),
        ((abs(Kmv.estimate(col("sk"), k) - col("exact_n").cast("double")) /
          col("exact_n").cast("double")) <= 0.10).as("kmv_ok"))
      // the two sketches side by side (arrays are orderable; max picks
      // the single non-null per branch), plus exact union/intersection
      val two = sk.agg(
        max(when(col("event_type") === "click", col("sk"))).as("a"),
        max(when(col("event_type") === "purchase", col("sk"))).as("b"))
      val flags = ev.groupBy("user_id", "d").agg(
        max(when(col("event_type") === "click", 1).otherwise(0)).as("c"),
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("p"))
      val exacts = flags.agg(count(lit(1)).as("eu"),
        sum(when(col("c") === 1 && col("p") === 1, 1).otherwise(0)).as("ei"))
      val ub = two.crossJoin(exacts) // 1 row x 1 row
        .select(explode(array(
          struct(lit("union").as("set_name"), col("eu").as("exact_n"),
            ((abs(Kmv.estimate(Kmv.union(col("a"), col("b"), k), k) -
              col("eu").cast("double")) / col("eu").cast("double")) <= 0.10)
              .as("kmv_ok")),
          struct(lit("intersect").as("set_name"), col("ei").as("exact_n"),
            ((abs(Kmv.intersectEstimate(col("a"), col("b"), k) -
              col("ei").cast("double")) / col("ei").cast("double")) <= 0.25)
              .as("kmv_ok")))).as("r"))
        .select(col("r.set_name"), col("r.exact_n"), col("r.kmv_ok"))
      per.unionByName(ub)
    }),

    // Sketch CUBE: per-(type, day) KMV sketches built once and PERSISTED
    // to parquet (8 KB arrays); the per-type answer comes from merging
    // the stored sketches — the raw events are never rescanned at query
    // time. merge_lossless pins the algebraic claim (merged sketch ==
    // sketch built directly from raw, array-equal); est_ok bounds the
    // estimate vs exact. At 100 TB this is the pre-aggregated cube:
    // ingest writes a sketch per partition, any slice query is a merge
    // over kilobytes.
    "q50_sketch_cube" -> ((s, dir) => {
      import graft.expressions.Kmv
      val k = 1024
      val cubeDir = java.nio.file.Files
        .createTempDirectory("graft_kmvcube").resolve("c").toString
      val ev = t(s, dir, "events")
        .select(col("event_type"), col("user_id"),
          date_trunc("day", col("ts")).as("d"))
      ev.groupBy("event_type", "d")
        .agg(Kmv.sketch(xxhash64(col("user_id")), k).as("sk"))
        .write.parquet(cubeDir)
      val merged = s.read.parquet(cubeDir)
        .groupBy("event_type").agg(Kmv.merge(col("sk"), k).as("msk"))
      val direct = ev.groupBy("event_type")
        .agg(Kmv.sketch(xxhash64(col("user_id")), k).as("dsk"),
          countDistinct(col("user_id")).as("exact_n"))
      merged.join(direct, "event_type")
        .select(col("event_type"), col("exact_n"),
          (col("msk") === col("dsk")).as("merge_lossless"),
          ((abs(Kmv.estimate(col("msk"), k) - col("exact_n").cast("double")) /
            col("exact_n").cast("double")) <= 0.10).as("est_ok"))
    }),

    // SpaceSaving heavy hitters: top-10 most active users in ONE pass
    // with bounded (capacity-entry) state — the exact groupBy it
    // replaces at 100 TB shuffles the full key space. Capacity 2048
    // exceeds the fixture's key cardinality, so counts are exact and
    // deterministic (the regime a hash gate can pin); the eviction-
    // regime guarantees are spec-tested on constructed skew.
    "q51_heavy_hitters" -> ((s, dir) => {
      import graft.expressions.TopKeys
      t(s, dir, "events")
        .agg(TopKeys.agg(col("user_id").cast("string"), 2048).as("tk"))
        .select(explode(slice(col("tk"), 1, 10)).as("t"))
        .select(col("t.key"), col("t.count_hi"), col("t.count_lo"))
    }),

    // SpaceSaving EVICTION regime (round-9 verdict item 3): the q51
    // gate pins only the exact regime (capacity > cardinality). Here a
    // data-derived skewed key space (3 hot keys ~470-540 rows each +
    // ~8.5k singleton cold keys) overflows capacity 256, so eviction
    // runs constantly — and the sketch's ICDT'05 guarantees become the
    // gated output: every key with true count > N/capacity is PRESENT,
    // and its true count sits inside [count_lo, count_hi]. The heavy
    // set is computed from EXACT counts (deterministic under any merge
    // order), the sketch contributes only the booleans the guarantees
    // say must be true; the oracle pins them TRUE with DuckDB's exact
    // counts. A broken eviction/merge path flips them false.
    "q57_heavy_hitters_eviction" -> ((s, dir) => {
      import graft.expressions.TopKeys
      val capacity = 256
      val keyed = t(s, dir, "events").select(
        when(col("user_id") % 7 === 0,
          concat(lit("hot_"), (col("user_id") % 3).cast("string")))
          .otherwise(concat(lit("cold_"), col("event_id").cast("string")))
          .as("key"))
      val sketch = keyed
        .agg(TopKeys.agg(col("key"), capacity).as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.key").as("skey"), col("e.count_hi"),
          col("e.count_lo"))
      val exact = keyed.groupBy("key").agg(count(lit(1)).as("true_cnt"))
      val tot = keyed.agg(count(lit(1)).as("n"))
      // integer-exact threshold: cnt > N/capacity <=> cnt*capacity > N
      val heavy = exact.crossJoin(tot)
        .filter(col("true_cnt") * capacity > col("n"))
      heavy.join(sketch, heavy("key") === sketch("skey"), "left")
        .select(col("key"), col("true_cnt"),
          col("skey").isNotNull.as("present"),
          (col("skey").isNotNull && col("count_lo") <= col("true_cnt") &&
            col("true_cnt") <= col("count_hi")).as("bounds_ok"))
    }),

    // KLL COMPACTED regime (round-9 verdict item 3): q55 pins the
    // exact regime (n <= k, no compaction). Here k=128 against ~2000
    // values per event_type forces level promotion, and the gate pins
    // the sketch's defining guarantee — estimated quantiles land
    // within O(1/k) of the true rank (bound spelled 16/k = 12.5%,
    // generous vs the ~3-6% the spec measures, but any broken
    // compaction/merge path lands ~uniform-random and blows it). The
    // estimate's TRUE rank is computed against the raw data (count of
    // values <= estimate), so the booleans are exact statements the
    // oracle pins TRUE alongside exact per-type counts.
    "q58_kll_compacted_rank" -> ((s, dir) => {
      import graft.expressions.Kll
      val k = 128
      val ev = t(s, dir, "events").select(col("event_type"), col("value"))
      val est = ev.groupBy("event_type")
        .agg(Kll.sketch(col("value"), k).as("sk"),
          count(lit(1)).as("n"))
        .select(col("event_type"), col("n"),
          Kll.quantile(col("sk"), 0.5).as("e50"),
          Kll.quantile(col("sk"), 0.95).as("e95"))
      val tol = 16.0 / k
      ev.join(est, "event_type")
        .groupBy("event_type")
        .agg(max("n").as("n"),
          sum(when(col("value") <= col("e50"), 1L).otherwise(0L)).as("r50"),
          sum(when(col("value") <= col("e95"), 1L).otherwise(0L)).as("r95"))
        .select(col("event_type"), col("n"),
          (col("n") > k).as("compacted"),
          (abs(col("r50") - lit(0.5) * col("n")) <= lit(tol) * col("n"))
            .as("p50_rank_ok"),
          (abs(col("r95") - lit(0.95) * col("n")) <= lit(tol) * col("n"))
            .as("p95_rank_ok"))
    }),

    // Bloom semi-join reduction: the urgent-orders key set (dim too big
    // to broadcast at scale, but its keys fit a few MB of bloom bits)
    // prefilters lineitem IN THE SCAN STAGE before the join shuffle.
    // False positives die in the real join, so the result — and the
    // oracle — is EXACTLY the plain join; the pruned fraction is the
    // at-scale win (measured in RelationalSpec / NOTES).
    "q52_bloom_semi_reduce" -> ((s, dir) => {
      import graft.functions.decSum
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val reduced = graft.operators.Relational.bloomSemiJoinReduce(
        t(s, dir, "lineitem"), "l_orderkey", urgent, "o_orderkey",
        expectedItems = 200000L)
      reduced.join(urgent, reduced("l_orderkey") === urgent("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_items"),
          decSum(col("l_quantity")).as("sum_qty"))
    }),

    // Time-series resample + forward fill: per-user 6-hour activity
    // grid with gaps carried forward — the gap-filling member of the
    // time-series family. DuckDB's IGNORE NULLS window is the oracle.
    "q53_resample_ffill" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"),
          col("ts").cast("timestamp_ltz").cast("long").as("ep"),
          col("value"))
      graft.operators.Relational.resampleFfill(
        ev, Seq("user_id"), "ep", stepSeconds = 21600L, valueCol = "value")
    }),

    // Linear-interpolation resample: the same 6-hour grid as q53, but
    // interior gaps get the lerp between the neighbouring observed
    // buckets instead of a carried-forward value. The oracle spells the
    // identical double expression, so values hash-match bit-for-bit.
    "q56_resample_interp" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"),
          col("ts").cast("timestamp_ltz").cast("long").as("ep"),
          col("value"))
      graft.operators.Relational.resampleInterp(
        ev, Seq("user_id"), "ep", stepSeconds = 21600L, valueCol = "value")
    }),

    // Interval-union coverage: each event opens a 30-minute activity
    // window; overlaps collapse, and the per-user sum is true active
    // time. The sweep is ONE key-partitioned window pass (no
    // self-join); the oracle runs the identical window logic.
    "q54_interval_union" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"),
          col("ts").cast("timestamp_ltz").cast("long").as("s"))
        .withColumn("e", col("s") + 1800L)
      graft.operators.Relational.intervalUnionLength(
        ev, Seq("user_id"), "s", "e")
    }),

    // KLL quantile sketch cube: per-(type, day) sketches persisted to
    // parquet, merged per type at query time. k=4096 exceeds the
    // fixture's per-type row count, so the sketch is in its EXACT
    // regime: its lower quantile equals the true discrete order
    // statistic (computed via a rank window) and the merged sketch
    // array-equals the direct one — both pinned as booleans the oracle
    // sets true, plus the exact per-type counts.
    "q55_quantile_sketch" -> ((s, dir) => {
      import graft.expressions.Kll
      val k = 4096
      val cubeDir = java.nio.file.Files
        .createTempDirectory("graft_kllcube").resolve("c").toString
      val ev = t(s, dir, "events")
        .select(col("event_type"), col("value"),
          date_trunc("day", col("ts")).as("d"))
      ev.groupBy("event_type", "d")
        .agg(Kll.sketch(col("value"), k).as("sk"))
        .write.parquet(cubeDir)
      val merged = s.read.parquet(cubeDir)
        .groupBy("event_type").agg(Kll.merge(col("sk"), k).as("msk"))
      val direct = ev.groupBy("event_type")
        .agg(Kll.sketch(col("value"), k).as("dsk"),
          count(lit(1)).as("n"))
      // SCALE-INVARIANT pins (the q58 pattern): byte-equality of merged
      // vs direct sketches only holds below the compaction threshold
      // (n <= k) — the sf0.1 replay caught exactly that cliff — so the
      // gate pins the sketch's actual CONTRACT instead: estimates land
      // within O(1/k) of the true rank (exact in the exact regime,
      // where the tolerance rounds to < 1 row), and the merged sketch
      // agrees with the direct one to within the same bound.
      val est = merged.join(direct, "event_type")
        .select(col("event_type"), col("n"),
          Kll.quantile(col("msk"), 0.5).as("m50"),
          Kll.quantile(col("msk"), 0.95).as("m95"),
          Kll.quantile(col("dsk"), 0.5).as("d50"),
          Kll.quantile(col("dsk"), 0.95).as("d95"))
      val tol = 16.0 / k
      ev.join(est, "event_type").groupBy("event_type")
        .agg(max("n").as("n"),
          sum(when(col("value") <= col("m50"), 1L).otherwise(0L))
            .as("r50m"),
          sum(when(col("value") <= col("m95"), 1L).otherwise(0L))
            .as("r95m"),
          sum(when(col("value") <= col("d50"), 1L).otherwise(0L))
            .as("r50d"),
          sum(when(col("value") <= col("d95"), 1L).otherwise(0L))
            .as("r95d"))
        .select(col("event_type"), col("n"),
          (abs(col("r50m") - lit(0.5) * col("n")) <= lit(tol) * col("n"))
            .as("p50_rank_ok"),
          (abs(col("r95m") - lit(0.95) * col("n")) <= lit(tol) * col("n"))
            .as("p95_rank_ok"),
          (abs(col("r50m") - col("r50d")) <= lit(tol) * col("n") &&
            abs(col("r95m") - col("r95d")) <= lit(tol) * col("n"))
            .as("merge_rank_ok"))
    }),

    // As-of join: latest purchase at-or-before each click, per user.
    "q30_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max("value").as("pvalue"))
      graft.operators.Relational.asofJoin(clicks, purchases,
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        payload = Seq("pvalue"))
    }),

    // HLL sketch distinct counting. HLL values differ across engines, so
    // the oracle-checkable contract is: the exact count and row count
    // match, AND the sketch estimate lands within 6% of exact (3 sigma at
    // rsd 2% — deterministic for fixed data, so this is a stable claim).
    "q32_approx_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("exact_parts"),
          count(lit(1)).as("n"),
          (abs(approx_count_distinct(col("l_partkey"), 0.02) -
              countDistinct(col("l_partkey"))).cast("double") /
            countDistinct(col("l_partkey")) <= 0.06).as("approx_ok"))
    }),

    // Typed UDAF (Aggregator with BigDecimal buffer): exact weighted
    // average — order-independent under partial aggregation, so the
    // DuckDB decimal twin matches bit-for-bit.
    "q36_udaf_wavg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(graft.functions.WeightedAvg(
          col("l_extendedprice"), col("l_quantity")).as("wavg_price"),
          count(lit(1)).as("n"))
    }),

    // The remaining window-function family in one pass: ntile buckets,
    // first_value, lead, cume_dist. The raw table has duplicate
    // (orderkey, linenumber) pairs, so aggregate to that unique triple
    // FIRST — window determinism requires a ties-free total order.
    "q38_window_stats" -> ((s, dir) => {
      val base = t(s, dir, "lineitem")
        .groupBy("l_suppkey", "l_orderkey", "l_linenumber")
        .agg(decSum(col("l_quantity")).as("qty"))
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_orderkey"), col("l_linenumber"))
      base.select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        ntile(4).over(w).as("quartile"),
        first("qty").over(w).as("first_qty"),
        lead(col("qty"), 1, 0.0).over(w).as("next_qty"),
        cume_dist().over(w).as("cd"))
    }),

    // Window VALUE functions over an explicit whole-partition frame:
    // last_value / nth_value need ROWS BETWEEN UNBOUNDED PRECEDING AND
    // UNBOUNDED FOLLOWING to mean "of the partition" (the default frame
    // stops at CURRENT ROW); percent_rank and a 2-step lag round out the
    // offset-function surface next to q38's first/lead/ntile/cume_dist.
    "q40_window_values" -> ((s, dir) => {
      val base = t(s, dir, "lineitem")
        .groupBy("l_partkey", "l_orderkey", "l_linenumber")
        .agg(decSum(col("l_quantity")).as("qty"))
      val w = Window.partitionBy("l_partkey")
        .orderBy(col("l_orderkey"), col("l_linenumber"))
      val wFull = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      base.select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
        last("qty").over(wFull).as("last_qty"),
        nth_value(col("qty"), 2).over(wFull).as("second_qty"),
        percent_rank().over(w).as("pr"),
        lag(col("qty"), 2, 0.0).over(w).as("prev2_qty"))
    }),

    // Map-typed scalar functions: build a map linestatus -> count per
    // flag (map_from_entries over a sorted entry list), then look values
    // back up with element_at — scalar output keeps the oracle exact.
    "q37_map_fns" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"))
        .groupBy("l_returnflag")
        .agg(map_from_entries(array_sort(collect_list(
          struct(col("l_linestatus"), col("cnt"))))).as("m"))
        .select(col("l_returnflag"),
          coalesce(element_at(col("m"), "O"), lit(0L)).as("n_open"),
          coalesce(element_at(col("m"), "F"), lit(0L)).as("n_filled"),
          size(map_keys(col("m"))).as("n_statuses"))
    }),

    // RANGE window frame: trailing 30-day quantity sum per supplier,
    // ordered by ship epoch (range frames need a numeric order key).
    "q33_range_frame" -> ((s, dir) => {
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("ship_epoch"))
        .rangeBetween(-2592000L, 0L) // 30 days in seconds, inclusive
      t(s, dir, "lineitem")
        .withColumn("ship_epoch", unix_timestamp(col("l_shipdate")))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          sum(col("l_quantity").cast("decimal(38,6)")).over(w)
            .cast("double").as("qty_30d"))
    }),

    // String-function zoo beyond q14: regexp, pad, trim, case, locate.
    "q34_string_fns" -> ((s, dir) => {
      t(s, dir, "customer").select(
        col("c_custkey"),
        regexp_extract(col("c_name"), "(\\d+)", 1).as("name_digits"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("key_padded"),
        translate(col("c_mktsegment"), "AEIOU", "aeiou").as("seg_tr"),
        initcap(lower(col("c_mktsegment"))).as("seg_title"),
        locate("_", col("c_name")).cast("int").as("underscore_at"),
        reverse(col("c_mktsegment")).as("seg_rev"))
    }),

    // Array explode (UNNEST): tokens of each document with ordinals.
    "q35_explode_tokens" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .filter(col("doc_id") < 50L)
        .select(col("doc_id"), posexplode(
          graft.functions.TextFunctions.tokens(col("text"))))
        .toDF("doc_id", "pos", "token")
        .select(col("doc_id"), col("pos").cast("int").as("pos"), col("token"))
    }),

    // Explicit GROUPING SETS (finer than cube/rollup).
    "q31_grouping_sets" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), decSum(col("l_quantity")).as("sum_qty"))
    }))

  private val decS = "CAST(SUM(CAST(%s AS DECIMAL(38,6))) AS DOUBLE)"
  private def ds(e: String) = decS.format(e)

  /** Dialect-portable SQL text shared verbatim by the Spark query and
    * its DuckDB oracle — the strongest form of the determinism contract:
    * one string, two engines, equal hashes.
    */
  private val SqlExistsText: String =
    """SELECT o_orderkey, o_totalprice
       FROM orders o
       WHERE EXISTS (SELECT 1 FROM lineitem l
                     WHERE l.l_orderkey = o.o_orderkey
                       AND l.l_quantity >= 49)
         AND NOT EXISTS (SELECT 1 FROM lineitem l
                     WHERE l.l_orderkey = o.o_orderkey
                       AND l.l_returnflag = 'R')"""

  private val SqlScalarSubqueryText: String =
    """SELECT c_custkey,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
        WHERE o.o_custkey = c.c_custkey) AS n_orders
       FROM customer c"""

  val oracles: Map[String, String] = Map(
    "q41_sql_exists" -> SqlExistsText,
    "q42_sql_scalar_subquery" -> SqlScalarSubqueryText,
    "q43_salted_join" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, o_totalprice
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey""",
    "q44_auto_salted_join" ->
      """SELECT e.event_id, e.event_type, e.value, d.type_n
        FROM events e JOIN (SELECT event_type, count(*) AS type_n
          FROM events GROUP BY event_type) d USING (event_type)""",
    "q45_auto_salted_agg" ->
      s"""SELECT event_type, ${ds("value")} AS sum_value, count(*) AS n
         FROM events GROUP BY event_type""",
    "q46_range_join" ->
      s"""SELECT o.o_orderkey, count(*) AS n_items,
         ${ds("l.l_extendedprice")} AS sum_price
         FROM orders o JOIN lineitem l
           ON CAST(epoch(l.l_shipdate) AS BIGINT)
                BETWEEN CAST(epoch(o.o_orderdate) AS BIGINT)
                    AND CAST(epoch(o.o_orderdate) AS BIGINT) + 259200
         WHERE o.o_orderpriority = '1-URGENT'
         GROUP BY o.o_orderkey""",
    "q47_keyed_range_join" ->
      """SELECT c.user_id, count(*) AS n_attributed
        FROM (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS p
              FROM events WHERE event_type = 'click') c
        JOIN (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ws,
                     CAST(floor(epoch(ts)) AS BIGINT) + 3600 AS we
              FROM events WHERE event_type = 'purchase') w
          ON c.user_id = w.user_id AND c.p BETWEEN w.ws AND w.we
        GROUP BY c.user_id""",
    "q48_profile_stats" ->
      """SELECT 'l_orderkey' AS col_name, count(*) AS n_rows,
           count(*) - count(l_orderkey) AS n_nulls,
           CAST(min(l_orderkey) AS DOUBLE) AS min_d,
           CAST(max(l_orderkey) AS DOUBLE) AS max_d,
           CAST(min(l_orderkey) AS VARCHAR) AS min_s,
           CAST(max(l_orderkey) AS VARCHAR) AS max_s,
           count(DISTINCT l_orderkey) AS exact_distinct,
           TRUE AS distinct_ok
         FROM lineitem
         UNION ALL
         SELECT 'l_partkey', count(*), count(*) - count(l_partkey),
           CAST(min(l_partkey) AS DOUBLE), CAST(max(l_partkey) AS DOUBLE),
           CAST(min(l_partkey) AS VARCHAR), CAST(max(l_partkey) AS VARCHAR),
           count(DISTINCT l_partkey), TRUE
         FROM lineitem
         UNION ALL
         SELECT 'l_quantity', count(*), count(*) - count(l_quantity),
           CAST(min(l_quantity) AS DOUBLE), CAST(max(l_quantity) AS DOUBLE),
           CAST(min(l_quantity) AS VARCHAR), CAST(max(l_quantity) AS VARCHAR),
           count(DISTINCT l_quantity), TRUE
         FROM lineitem
         UNION ALL
         SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           min(l_returnflag), max(l_returnflag),
           count(DISTINCT l_returnflag), TRUE
         FROM lineitem
         UNION ALL
         SELECT 'l_shipdate', count(*), count(*) - count(l_shipdate),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(min(l_shipdate) AS VARCHAR), CAST(max(l_shipdate) AS VARCHAR),
           count(DISTINCT l_shipdate), TRUE
         FROM lineitem""",
    "q49_kmv_distinct_sets" ->
      """WITH ud AS (
           SELECT event_type, user_id, date_trunc('day', ts) AS d
           FROM events WHERE event_type IN ('click', 'purchase'))
         SELECT event_type AS set_name,
           count(DISTINCT (user_id, d)) AS exact_n, TRUE AS kmv_ok
         FROM ud GROUP BY event_type
         UNION ALL
         SELECT 'union', count(DISTINCT (user_id, d)), TRUE FROM ud
         UNION ALL
         SELECT 'intersect', count(*), TRUE FROM (
           SELECT user_id, d FROM ud WHERE event_type = 'click'
           INTERSECT
           SELECT user_id, d FROM ud WHERE event_type = 'purchase')""",
    "q50_sketch_cube" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_n,
           TRUE AS merge_lossless, TRUE AS est_ok
         FROM events GROUP BY event_type""",
    "q51_heavy_hitters" ->
      """SELECT key, cnt AS count_hi, cnt AS count_lo FROM (
           SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS cnt
           FROM events GROUP BY 1
           ORDER BY cnt DESC, key ASC LIMIT 10) t""",
    "q55_quantile_sketch" ->
      """SELECT event_type, count(*) AS n, TRUE AS p50_rank_ok,
           TRUE AS p95_rank_ok, TRUE AS merge_rank_ok
         FROM events GROUP BY event_type""",
    "q57_heavy_hitters_eviction" ->
      """WITH keyed AS (
           SELECT CASE WHEN user_id % 7 = 0
                  THEN 'hot_' || CAST(user_id % 3 AS VARCHAR)
                  ELSE 'cold_' || CAST(event_id AS VARCHAR) END AS key
           FROM events),
         exact AS (SELECT key, count(*) AS true_cnt FROM keyed GROUP BY 1),
         tot AS (SELECT count(*) AS n FROM keyed)
         SELECT key, true_cnt, TRUE AS present, TRUE AS bounds_ok
         FROM exact, tot WHERE true_cnt * 256 > n""",
    "q58_kll_compacted_rank" ->
      """SELECT event_type, count(*) AS n, TRUE AS compacted,
           TRUE AS p50_rank_ok, TRUE AS p95_rank_ok
         FROM events GROUP BY event_type""",
    "q54_interval_union" ->
      """WITH iv AS (
           SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
                  CAST(floor(epoch(ts)) AS BIGINT) + 1800 AS e
           FROM events),
         sw AS (
           SELECT user_id, s, e,
             max(e) OVER (PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
           FROM iv)
         SELECT user_id,
           CAST(sum(greatest(e - greatest(s, coalesce(pm, s)), 0))
             AS BIGINT) AS covered,
           count(*) AS n_intervals
         FROM sw GROUP BY user_id""",
    "q53_resample_ffill" ->
      """WITH b AS (
           SELECT user_id,
             e - ((e % 21600) + 21600) % 21600 AS bucket_start,
             CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
               / count(value) AS v,
             count(*) AS n_obs
           FROM (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS e,
                        value FROM events)
           GROUP BY 1, 2),
         bounds AS (SELECT user_id, min(bucket_start) AS mn,
                           max(bucket_start) AS mx FROM b GROUP BY 1),
         grid AS (SELECT user_id,
                    unnest(generate_series(mn, mx, 21600)) AS bucket_start
                  FROM bounds),
         j AS (SELECT g.user_id, g.bucket_start, b.v,
                      coalesce(b.n_obs, 0) AS n_obs
               FROM grid g LEFT JOIN b
                 ON g.user_id = b.user_id
                AND g.bucket_start = b.bucket_start)
         SELECT user_id, bucket_start, n_obs,
           last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
             ORDER BY bucket_start
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS value_ffill
         FROM j""",
    "q56_resample_interp" ->
      """WITH b AS (
           SELECT user_id,
             e - ((e % 21600) + 21600) % 21600 AS bucket_start,
             CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
               / count(value) AS v,
             count(*) AS n_obs
           FROM (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS e,
                        value FROM events)
           GROUP BY 1, 2),
         bounds AS (SELECT user_id, min(bucket_start) AS mn,
                           max(bucket_start) AS mx FROM b GROUP BY 1),
         grid AS (SELECT user_id,
                    unnest(generate_series(mn, mx, 21600)) AS bucket_start
                  FROM bounds),
         j AS (SELECT g.user_id, g.bucket_start, b.v,
                      coalesce(b.n_obs, 0) AS n_obs
               FROM grid g LEFT JOIN b
                 ON g.user_id = b.user_id
                AND g.bucket_start = b.bucket_start),
         f AS (SELECT user_id, bucket_start, v, n_obs,
           last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
             ORDER BY bucket_start
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
           last_value(CASE WHEN v IS NOT NULL THEN bucket_start END
             IGNORE NULLS) OVER (PARTITION BY user_id
             ORDER BY bucket_start
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
           first_value(v IGNORE NULLS) OVER (PARTITION BY user_id
             ORDER BY bucket_start
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
           first_value(CASE WHEN v IS NOT NULL THEN bucket_start END
             IGNORE NULLS) OVER (PARTITION BY user_id
             ORDER BY bucket_start
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
           FROM j)
         SELECT user_id, bucket_start, n_obs,
           CASE WHEN v IS NOT NULL THEN v
                ELSE pv + (nv - pv) *
                  (CAST(bucket_start - pt AS DOUBLE)
                    / CAST(nt - pt AS DOUBLE)) END AS value_interp
         FROM f""",
    "q52_bloom_semi_reduce" ->
      s"""SELECT o_orderkey, count(*) AS n_items,
         ${"CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)"} AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderpriority = '1-URGENT'
         GROUP BY o_orderkey""",
    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         ${ds("l_quantity")} AS sum_qty,
         ${ds("l_extendedprice")} AS sum_base_price,
         ${ds("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
         ${ds("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
         ${ds("l_quantity")} / count(l_quantity) AS avg_qty,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus""",
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_shipdate
        FROM lineitem
        WHERE l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00' AND TIMESTAMP '1995-03-31 00:00:00'
          AND l_discount > 0.05""",
    "q03_join_topk" ->
      s"""SELECT o_orderkey, o_orderdate, o_orderpriority,
         ${ds("l_extendedprice * (1.0 - l_discount)")} AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
           AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
         GROUP BY o_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""",
    "q04_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)""",
    "q05_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)""",
    "q06_outer_join_agg" ->
      s"""SELECT n_name, count(c_custkey) AS n_customers,
         ${ds("coalesce(c_acctbal, 0.0)")} AS total_bal
         FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey
         GROUP BY n_name""",
    "q07_window_rank" ->
      """SELECT s_nationkey, s_suppkey, s_name, CAST(rk AS INTEGER) AS rk FROM (
          SELECT s_nationkey, s_suppkey, s_name,
            row_number() OVER (PARTITION BY s_nationkey
              ORDER BY s_acctbal DESC, s_suppkey ASC) AS rk
          FROM supplier) WHERE rk <= 3""",
    "q08_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
          CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) OVER (
            PARTITION BY l_suppkey
            ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC,
                     l_quantity ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
        FROM lineitem""",
    "q09_rollup" ->
      s"""SELECT l_returnflag, l_linestatus, ${ds("l_quantity")} AS sum_qty,
         count(*) AS n FROM lineitem
         GROUP BY ROLLUP(l_returnflag, l_linestatus)""",
    "q10_union" ->
      """SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION
        SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 250000.0""",
    "q11_intersect" ->
      """SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 250000.0""",
    "q12_except" ->
      """SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        EXCEPT
        SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 250000.0""",
    "q13_distinct_agg" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS distinct_parts,
          count(DISTINCT l_suppkey) AS distinct_supps, count(*) AS n
        FROM lineitem GROUP BY l_returnflag""",
    "q14_scalar_fns" ->
      """SELECT o_orderkey,
          upper(substr(o_orderpriority, 1, 3)) AS pri3,
          CAST(year(o_orderdate) AS INTEGER) AS o_year,
          CAST(month(o_orderdate) AS INTEGER) AS o_month,
          CAST(day(o_orderdate) AS INTEGER) AS o_day,
          CAST(length(o_orderstatus) AS INTEGER) AS status_len,
          o_orderstatus || '_' || o_orderpriority AS status_pri,
          CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS bucket_k,
          o_orderkey % 7 AS key_mod
        FROM orders""",
    "q15_having" ->
      s"""SELECT o_custkey, count(*) AS order_count,
         ${ds("o_totalprice")} AS total_spent
         FROM orders GROUP BY o_custkey HAVING count(*) >= 12""",
    "q16_subquery_avg" ->
      s"""SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_totalprice > (SELECT ${ds("o_totalprice")} / count(o_totalprice) FROM orders)""",
    "q17_cross_join" ->
      """SELECT r_name, l_linestatus FROM region
        CROSS JOIN (SELECT DISTINCT l_linestatus FROM lineitem)""",
    "q18_case_expr" ->
      s"""SELECT CASE WHEN o_totalprice < 50000.0 THEN 'low'
           WHEN o_totalprice < 150000.0 THEN 'mid' ELSE 'high' END AS bucket,
         count(*) AS n, ${ds("o_totalprice")} AS total
         FROM orders GROUP BY 1""",
    "q19_date_window" ->
      s"""SELECT CAST(month(l_shipdate) AS INTEGER) AS ship_month,
         count(*) AS n, ${ds("l_quantity")} AS sum_qty
         FROM lineitem
         WHERE l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00' AND TIMESTAMP '1995-12-31 00:00:00'
         GROUP BY 1""",
    "q20_hwm_incremental" ->
      s"""SELECT count(*) AS n_new, ${ds("o_totalprice")} AS sum_new,
         max(o_orderkey) AS new_hwm
         FROM orders WHERE o_orderkey > 4000""",
    "q21_mapper_keystamp" ->
      """SELECT c_custkey, upper(c_name) AS c_name_u,
          CAST(floor(c_acctbal) AS BIGINT) AS bal_floor,
          CAST(42 AS BIGINT) AS pd_process_id
        FROM customer""",
    "q22_events_hourly" ->
      s"""SELECT date_trunc('hour', ts) AS hour_ts, event_type,
         count(*) AS n, ${ds("value")} AS sum_value
         FROM events GROUP BY 1, 2""",
    "q23_sessionize" ->
      """SELECT user_id, count(*) AS n_events,
          CAST(SUM(new_session) AS BIGINT) AS n_sessions
        FROM (
          SELECT user_id,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                 THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
        GROUP BY user_id""",
    "q24_pivot_manual" ->
      """SELECT user_id,
          CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
          CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
          CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
          count(*) AS n_total
        FROM events GROUP BY user_id""",
    "q39_pivot_native" ->
      """SELECT user_id,
          CAST(SUM(CASE WHEN event_type = 'click'
            THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE) AS click,
          CAST(SUM(CASE WHEN event_type = 'view'
            THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE) AS view,
          CAST(SUM(CASE WHEN event_type = 'purchase'
            THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE) AS purchase
        FROM events GROUP BY user_id""",
    "q25_cube" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
         ${ds("l_quantity")} AS sum_qty
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""",
    "q26_percentile" ->
      """SELECT l_returnflag,
          quantile_cont(l_quantity, 0.5) AS p50,
          quantile_cont(l_quantity, 0.9) AS p90,
          count(*) AS n
        FROM lineitem GROUP BY l_returnflag""",
    "q27_json_extract" ->
      """SELECT event_type,
          CAST(SUM(CAST(props->>'k' AS INTEGER)) AS BIGINT) AS sum_k,
          count(props->>'k') AS n_k
        FROM events GROUP BY event_type""",
    "q28_array_agg" ->
      """SELECT r_name,
          array_to_string(list_sort(list(n_name)), ',') AS nations
        FROM region JOIN nation ON r_regionkey = n_regionkey
        GROUP BY r_name""",
    "q29_salted_agg" ->
      s"""SELECT event_type, ${ds("value")} AS sum_value, count(*) AS n
         FROM events GROUP BY event_type""",
    "q30_asof_join" ->
      """WITH purchases AS (
          SELECT user_id, ts, max(value) AS pvalue
          FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
        clicks AS (
          SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
        SELECT c.event_id, c.user_id, c.ts, p.pvalue
        FROM clicks c ASOF LEFT JOIN purchases p
          ON c.user_id = p.user_id AND c.ts >= p.ts""",
    "q34_string_fns" ->
      """SELECT c_custkey,
          coalesce(regexp_extract(c_name, '(\d+)', 1), '') AS name_digits,
          lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS key_padded,
          translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_tr,
          upper(substr(lower(c_mktsegment), 1, 1)) || substr(lower(c_mktsegment), 2) AS seg_title,
          CAST(coalesce(position('_' IN c_name), 0) AS INTEGER) AS underscore_at,
          reverse(c_mktsegment) AS seg_rev
        FROM customer""",
    "q35_explode_tokens" ->
      """WITH t AS (SELECT doc_id,
          regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          FROM documents WHERE doc_id < 50)
        SELECT doc_id, CAST(x['i'] - 1 AS INTEGER) AS pos,
          CAST(x['t'] AS VARCHAR) AS token
        FROM (SELECT doc_id,
          unnest(list_transform(toks, (s, i) -> {'i': i, 't': s})) AS x FROM t)""",
    "q33_range_frame" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
          CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) OVER (
            PARTITION BY l_suppkey ORDER BY epoch(l_shipdate)
            RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS qty_30d
        FROM lineitem""",
    "q31_grouping_sets" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
         ${ds("l_quantity")} AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""",
    "q36_udaf_wavg" ->
      """SELECT l_returnflag,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))
                       * CAST(l_quantity AS DECIMAL(38,6)))
              / SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DECIMAL(38,6))
           AS DOUBLE) AS wavg_price,
         CAST(COUNT(*) AS BIGINT) AS n
         FROM lineitem GROUP BY 1""",
    "q38_window_stats" ->
      """WITH base AS (
           SELECT l_suppkey, l_orderkey, l_linenumber,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qty
           FROM lineitem GROUP BY 1, 2, 3)
         SELECT l_suppkey, l_orderkey, l_linenumber,
         CAST(ntile(4) OVER w AS INTEGER) AS quartile,
         first_value(qty) OVER w AS first_qty,
         lead(qty, 1, 0.0) OVER w AS next_qty,
         cume_dist() OVER w AS cd
         FROM base
         WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_orderkey, l_linenumber)""",
    "q40_window_values" ->
      """WITH base AS (
           SELECT l_partkey, l_orderkey, l_linenumber,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qty
           FROM lineitem GROUP BY 1, 2, 3)
         SELECT l_partkey, l_orderkey, l_linenumber,
         last_value(qty) OVER wf AS last_qty,
         nth_value(qty, 2) OVER wf AS second_qty,
         percent_rank() OVER w AS pr,
         lag(qty, 2, 0.0) OVER w AS prev2_qty
         FROM base
         WINDOW
           w AS (PARTITION BY l_partkey ORDER BY l_orderkey, l_linenumber),
           wf AS (PARTITION BY l_partkey ORDER BY l_orderkey, l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""",
    "q37_map_fns" ->
      """SELECT l_returnflag,
         CAST(COUNT(*) FILTER (WHERE l_linestatus = 'O') AS BIGINT) AS n_open,
         CAST(COUNT(*) FILTER (WHERE l_linestatus = 'F') AS BIGINT) AS n_filled,
         CAST(COUNT(DISTINCT l_linestatus) AS INTEGER) AS n_statuses
         FROM lineitem GROUP BY 1""",
    // the sketch side is engine-specific; the oracle checks the exact
    // counts AND that Spark's own HLL claim landed within tolerance
    "q32_approx_distinct" ->
      """SELECT l_returnflag,
         CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
         CAST(COUNT(*) AS BIGINT) AS n,
         true AS approx_ok
         FROM lineitem GROUP BY 1""")
}
