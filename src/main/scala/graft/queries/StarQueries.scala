package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{GlobalRank, NearDup}
import graft.queries.GraftQuery.{dec, dsum, dsumSql, floorDiv}
import graft.sources.Tables

/** Registered queries exercising the SURVEY.md §2.7 coverage matrix over the
  * TPC-H-ish star schema: joins (broadcast/SMJ/left/semi/anti), aggregations
  * (hash-agg, distinct, HLL sketch, rollup), window functions (top-k, lag,
  * sessionization), sort/limit, and set operations.
  *
  * Scale notes, per query, live next to the code: dimension joins are
  * explicitly `broadcast()`, aggregates rely on partial (map-side) agg, and
  * every top-k goes through a per-partition limit before the shuffle
  * (Spark's WindowGroupLimit handles rank<=k pushdown automatically).
  */
object StarQueries {

  val all: Seq[GraftQuery] = Seq(

    // ---- aggregation: TPC-H Q1-style pricing summary ----------------------
    // Partial agg on 6 groups → final agg is tiny; the scan is the cost at
    // any scale. All double sums go through exact decimal (GraftQuery.dsum).
    GraftQuery(
      "q01_pricing_summary",
      (s, d) =>
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") <= lit("2001-09-01"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            sum(dec(col("l_extendedprice")) *
              (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
              .cast("double").as("sum_disc_price"),
            (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
            count(lit(1)).as("count_order")),
      Some(s"""SELECT l_returnflag, l_linestatus,
        ${dsumSql("l_quantity")} AS sum_qty,
        ${dsumSql("l_extendedprice")} AS sum_base_price,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        ${dsumSql("l_quantity")} / COUNT(*) AS avg_qty,
        COUNT(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        GROUP BY l_returnflag, l_linestatus""")),

    // ---- join: broadcast dimension chain ---------------------------------
    // nation (25 rows) and region (5 rows) are broadcast — no shuffle of the
    // customer fact side at any scale; the agg output is 5 rows.
    GraftQuery(
      "q02_region_customer_rollup",
      (s, d) =>
        Tables.customer(s, d)
          .join(broadcast(Tables.nation(s, d)),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d)),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(
            count(lit(1)).as("customers"),
            dsum(col("c_acctbal")).as("total_acctbal")),
      Some(s"""SELECT r_name, COUNT(*) AS customers,
        ${dsumSql("c_acctbal")} AS total_acctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name""")),

    // ---- join + agg + top-k: TPC-H Q3-style shipping priority ------------
    // customer filter prunes ~4/5 of the build side; revenue in exact
    // decimal; top-10 with a unique tie-break (orderkey) so the limit is
    // deterministic across engines and partitionings.
    GraftQuery(
      "q03_top_revenue_orders",
      (s, d) =>
        Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
          .join(Tables.orders(s, d).filter(col("o_orderdate") < lit("1998-01-01")),
            col("c_custkey") === col("o_custkey"))
          .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderkey"), col("o_orderdate"))
          .agg(sum(dec(col("l_extendedprice")) *
            (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
            .cast("double").as("revenue"))
          .select(col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
            col("revenue"))
          .orderBy(col("revenue").desc, col("o_orderkey").asc)
          .limit(10),
      Some("""SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY o_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderkey ASC
        LIMIT 10""")),

    // ---- left outer join preserving unmatched rows -----------------------
    GraftQuery(
      "q04_customer_order_counts",
      (s, d) =>
        Tables.customer(s, d)
          .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("order_count")),
      Some("""SELECT c_custkey, COUNT(o_orderkey) AS order_count
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey""")),

    // ---- left-semi join (EXISTS) -----------------------------------------
    GraftQuery(
      "q05_customers_with_open_orders",
      (s, d) =>
        Tables.customer(s, d)
          .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F"),
            col("c_custkey") === col("o_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_name")),
      Some("""SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""")),

    // ---- left-anti join (NOT EXISTS) -------------------------------------
    GraftQuery(
      "q06_customers_without_orders",
      (s, d) =>
        Tables.customer(s, d)
          .join(Tables.orders(s, d).filter(year(col("o_orderdate")) === 1995),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name")),
      Some("""SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND year(o_orderdate) = 1995)""")),

    // ---- window top-k per group ------------------------------------------
    // rank <= k over a window lets Spark apply WindowGroupLimit (map-side
    // partial top-k before the shuffle) — the scale-safe top-k formulation.
    GraftQuery(
      "q07_top_orders_per_segment",
      (s, d) => {
        val joined = Tables.customer(s, d)
          .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        val w = Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        joined
          .withColumn("rn", row_number().over(w).cast("bigint"))
          .filter(col("rn") <= 3)
          .select(col("c_mktsegment"), col("rn"), col("o_orderkey"), col("o_totalprice"))
      },
      Some("""SELECT c_mktsegment, rn, o_orderkey, o_totalprice FROM (
          SELECT c_mktsegment, o_orderkey, o_totalprice,
            row_number() OVER (PARTITION BY c_mktsegment
              ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
          FROM customer JOIN orders ON c_custkey = o_custkey) t
        WHERE rn <= 3""")),

    // ---- window lag / running delta --------------------------------------
    GraftQuery(
      "q08_order_price_delta",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        Tables.orders(s, d)
          .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            col("prev_price"),
            (col("o_totalprice") - col("prev_price")).as("price_delta"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice,
          lag(o_totalprice, 1) OVER w AS prev_price,
          o_totalprice - lag(o_totalprice, 1) OVER w AS price_delta
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)""")),

    // ---- global sort + limit ---------------------------------------------
    // Spark turns orderBy+limit into TakeOrderedAndProject (per-partition
    // top-k, then a k-row merge on the driver) — no global sort at scale.
    GraftQuery(
      "q09_priciest_parts",
      (s, d) =>
        Tables.part(s, d)
          .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
          .limit(10)
          .select(col("p_partkey"), col("p_name"), col("p_retailprice")),
      Some("""SELECT p_partkey, p_name, p_retailprice FROM part
        ORDER BY p_retailprice DESC, p_partkey ASC LIMIT 10""")),

    // ---- set operations ---------------------------------------------------
    GraftQuery(
      "q10_union_active_custkeys",
      (s, d) => {
        val o = Tables.orders(s, d)
        o.filter(year(col("o_orderdate")) === 1995).select(col("o_custkey"))
          .union(o.filter(year(col("o_orderdate")) === 1996).select(col("o_custkey")))
          .distinct()
      },
      Some("""SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        UNION
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996""")),

    GraftQuery(
      "q11_intersect_repeat_custkeys",
      (s, d) => {
        val o = Tables.orders(s, d)
        o.filter(year(col("o_orderdate")) === 1995).select(col("o_custkey"))
          .intersect(o.filter(year(col("o_orderdate")) === 1996).select(col("o_custkey")))
      },
      Some("""SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        INTERSECT
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996""")),

    GraftQuery(
      "q12_except_churned_custkeys",
      (s, d) => {
        val o = Tables.orders(s, d)
        o.filter(year(col("o_orderdate")) === 1995).select(col("o_custkey"))
          .except(o.filter(year(col("o_orderdate")) === 1996).select(col("o_custkey")))
      },
      Some("""SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        EXCEPT
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996""")),

    // ---- rollup (grouping sets) ------------------------------------------
    // Two-phase rollup: Spark plans rollup as Expand (one projection per
    // grouping set) BEFORE the partial aggregate, so a direct rollup
    // triples the fact-table rows feeding aggregation — at 100 TB that is
    // 3× the scan-side agg CPU for identical output. Pre-aggregating on
    // the full key first (map-side combine collapses 6M rows to ~6) and
    // rolling up the tiny pre-aggregate is output-identical — rollup is a
    // union of group-bys, and group-by composes over pre-grouped sums
    // (sum of sums, sum of counts) even for NULL key values. The
    // coalesce keeps the empty-input grand-total row at n_rows = 0
    // (count semantics), where sum-of-counts would yield NULL.
    GraftQuery(
      "q13_rollup_returns",
      (s, d) => {
        val pre = Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(GraftQuery.dec(col("l_quantity"))).as("p_qty"),
            count(lit(1)).as("p_n"))
        pre.rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(col("p_qty")).cast("double").as("sum_qty"),
            coalesce(sum(col("p_n")), lit(0L)).as("n_rows"))
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
        ${dsumSql("l_quantity")} AS sum_qty, COUNT(*) AS n_rows
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""")),

    // ---- explicit GROUPING SETS (the general form rollup/cube special-
    // case; Spark 4's Dataset.groupingSets). Same scale trick as q13:
    // pre-aggregate on the finest grouping first, so the fact table
    // shuffles ONCE and the grouping-sets expansion (which replicates
    // input rows per matching set) runs over the tiny pre-aggregate,
    // never over the fact. Null group columns mark the aggregated sets
    // (o_orderpriority/o_orderstatus are never null in data). -----------
    GraftQuery(
      "q26_grouping_sets",
      (s, d) => {
        val pre = Tables.orders(s, d)
          .groupBy(col("o_orderpriority"), col("o_orderstatus"))
          .agg(count(lit(1)).as("p_n"),
            sum(dec(col("o_totalprice"))).as("p_tp"))
        pre.groupingSets(
            Seq(Seq(col("o_orderpriority"), col("o_orderstatus")),
              Seq(col("o_orderpriority")), Seq.empty),
            col("o_orderpriority"), col("o_orderstatus"))
          .agg(coalesce(sum(col("p_n")), lit(0L)).as("n_orders"),
            sum(col("p_tp")).cast("double").as("total_price"))
      },
      Some(s"""SELECT o_orderpriority, o_orderstatus,
        COUNT(*) AS n_orders, ${dsumSql("o_totalprice")} AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
          (o_orderpriority), ())""")),

    // ---- distinct aggregation --------------------------------------------
    GraftQuery(
      "q14_suppliers_per_nation",
      (s, d) =>
        Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)),
            col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count_distinct(col("s_suppkey")).as("supplier_cnt"),
            dsum(col("s_acctbal")).as("total_acctbal")),
      Some(s"""SELECT n_name, COUNT(DISTINCT s_suppkey) AS supplier_cnt,
        ${dsumSql("s_acctbal")} AS total_acctbal
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name""")),

    // ---- events: tumbling time window over int64-nanos timestamps --------
    // ts is read as nanos-since-epoch (spark.sql.legacy.parquet.nanosAsLong);
    // the bucket math stays exact int64 in both engines. NOT bare `div`:
    // Spark's `div` truncates toward zero while DuckDB's `//` floors, so
    // the two would diverge on pre-1970 (negative) timestamps —
    // `(ts - pmod(ts, w)) div w` is exact floor division on longs
    // (pmod's remainder is always non-negative), domain-safe either side
    // of the epoch.
    GraftQuery(
      "q15_events_hourly",
      (s, d) =>
        Tables.events(s, d)
          .groupBy(floorDiv(col("ts"), 3600000000000L).as("hour_bucket"),
            col("event_type"))
          .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value")),
      Some(s"""SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
        COUNT(*) AS n_events, ${dsumSql("value")} AS total_value
        FROM events GROUP BY 1, 2""")),

    // ---- events: JSON extraction from a string props column --------------
    GraftQuery(
      "q16_events_json_props",
      (s, d) =>
        Tables.events(s, d)
          // try_cast, in BOTH engines: a non-numeric '$.k' value should be
          // a NULL (skipped by sum/count) rather than a task-killing cast
          // error — dirty props are routine in event streams at scale.
          // (get_json_object itself is null-on-malformed-JSON already.)
          .withColumn("k",
            expr("try_cast(get_json_object(props, '$.k') as bigint)"))
          .groupBy(col("event_type"))
          .agg(sum(col("k")).as("k_sum"), count(col("k")).as("k_cnt")),
      // CAST(SUM(..) AS BIGINT): DuckDB sums BIGINT into HUGEINT — cast back
      // so the compared column type matches Spark's bigint sum.
      // json_valid guard: Spark's get_json_object is NULL on malformed
      // JSON, but DuckDB's json_extract_string RAISES — gate it so both
      // engines treat garbage props as NULL.
      Some("""SELECT event_type,
        CAST(SUM(TRY_CAST(json_extract_string(
          CASE WHEN json_valid(props) THEN props END, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        COUNT(TRY_CAST(json_extract_string(
          CASE WHEN json_valid(props) THEN props END, '$.k') AS BIGINT)) AS k_cnt
        FROM events GROUP BY event_type""")),

    // ---- events: HLL++ sketch (no exact-SQL oracle; rows-only check) -----
    // approx_count_distinct is the 100 TB-safe form of COUNT(DISTINCT):
    // constant-size sketch, map-side combinable, no key shuffle.
    GraftQuery(
      "q17_events_approx_users",
      (s, d) =>
        Tables.events(s, d)
          .groupBy(col("event_type"))
          .agg(approx_count_distinct(col("user_id")).as("approx_users")),
      None),

    // ---- events: sessionization via window + cumulative gap count --------
    // Batch formulation of session_window: a new session starts after a
    // >30 min gap. Exercises lag + conditional aggregation; at scale this
    // is one shuffle on user_id (the same key the window needs).
    GraftQuery(
      "q18_events_sessions",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        Tables.events(s, d)
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .withColumn("new_session",
            when(col("prev_ts").isNull ||
              col("ts") - col("prev_ts") > 1800000000000L, 1L).otherwise(0L))
          .groupBy(col("user_id"))
          .agg(sum(col("new_session")).as("sessions"),
            count(lit(1)).as("n_events"))
      },
      Some("""WITH w AS (
          SELECT user_id, epoch_ns(ts) AS ts_ns, event_id,
            lag(epoch_ns(ts), 1) OVER (PARTITION BY user_id
              ORDER BY epoch_ns(ts) ASC, event_id ASC) AS prev_ts
          FROM events)
        SELECT user_id,
          CAST(SUM(CASE WHEN prev_ts IS NULL OR ts_ns - prev_ts > 1800000000000
            THEN 1 ELSE 0 END) AS BIGINT) AS sessions,
          COUNT(*) AS n_events
        FROM w GROUP BY user_id""")),

    // ---- as-of join: last click before each purchase, per user ----------
    // TemporalJoins.asOfJoin (union + window, one shuffle on user_id) vs
    // DuckDB's native ASOF LEFT JOIN. Clicks pre-deduped to one per
    // (user, ts) — max event_id — so the as-of match is deterministic.
    // Timestamps compared in MICROSECONDS on both sides: DuckDB truncates
    // ns-precision parquet timestamps to its µs TIMESTAMP, so the µs
    // domain (ts div 1000 / epoch_us) is the shared exact domain.
    GraftQuery(
      "q19_asof_attribution",
      (s, d) => {
        import graft.operators.TemporalJoins
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            expr("ts div 1000").as("ts_us"))
        val dw = Window.partitionBy(col("user_id"), col("ts_us"))
          .orderBy(col("event_id").desc)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"),
            expr("ts div 1000").as("ts_us"))
          .withColumn("rn", row_number().over(dw))
          .filter(col("rn") === 1).drop("rn")
        TemporalJoins.asOfJoin(purchases, clicks, "user_id", "ts_us")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            col("asof.event_id").as("click_id"),
            (col("ts_us") - col("asof.ts_us")).as("gap_us"))
      },
      Some("""WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS tsu
          FROM events WHERE event_type = 'purchase'),
        c0 AS (SELECT event_id, user_id, epoch_us(ts) AS tsu,
            row_number() OVER (PARTITION BY user_id, epoch_us(ts)
              ORDER BY event_id DESC) AS rn
          FROM events WHERE event_type = 'click'),
        c AS (SELECT event_id, user_id, tsu FROM c0 WHERE rn = 1)
        SELECT p.event_id AS purchase_id, p.user_id,
          c.event_id AS click_id, p.tsu - c.tsu AS gap_us
        FROM p ASOF LEFT JOIN c
          ON p.user_id = c.user_id AND p.tsu >= c.tsu""")),

    // ---- range (interval) join: clicks within 1h before each purchase ---
    // TemporalJoins.rangeJoin (bucketed equi-join on (user, hour-bucket))
    // vs DuckDB's plain inequality join — candidate generation is bounded
    // by the bucket key, never all-pairs. µs domain as in q19.
    GraftQuery(
      "q20_range_click_counts",
      (s, d) => {
        import graft.operators.TemporalJoins
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            expr("ts div 1000").as("ts_us"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"),
            expr("ts div 1000").as("ts_us"))
        TemporalJoins.rangeJoin(purchases, clicks, "user_id", "ts_us", "ts_us",
          lowOffset = -3600000000L, highOffset = 0L)
          .groupBy(col("l.event_id").as("purchase_id"),
            col("l.user_id").as("user_id"))
          .agg(count(lit(1)).as("n_clicks"),
            min(col("l.ts_us") - col("r.ts_us")).as("min_gap_us"))
      },
      Some("""SELECT p.event_id AS purchase_id, p.user_id AS user_id,
          COUNT(*) AS n_clicks,
          MIN(epoch_us(p.ts) - epoch_us(c.ts)) AS min_gap_us
        FROM events p JOIN events c ON p.user_id = c.user_id
          AND p.event_type = 'purchase' AND c.event_type = 'click'
          AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - 3600000000
            AND epoch_us(p.ts)
        GROUP BY 1, 2""")),

    // ---- cube (full grouping-sets lattice) -------------------------------
    // Same two-phase shape as q13: a direct cube Expands 4 projections
    // over the fact table before aggregating; pre-aggregate once on the
    // full key, cube the tiny result.
    GraftQuery(
      "q21_cube_order_stats",
      (s, d) => {
        val pre = Tables.orders(s, d)
          .groupBy(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("p_n"),
            sum(GraftQuery.dec(col("o_totalprice"))).as("p_price"))
        pre.cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(coalesce(sum(col("p_n")), lit(0L)).as("n_orders"),
            sum(col("p_price")).cast("double").as("total_price"))
      },
      Some(s"""SELECT o_orderstatus, o_orderpriority,
        COUNT(*) AS n_orders, ${dsumSql("o_totalprice")} AS total_price
        FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""")),

    // ---- pivot (orderstatus columns per market segment) ------------------
    // Spark's relational pivot vs the conditional-aggregation formulation
    // in the oracle (COUNT over a CASE is 0 for empty cells in both).
    GraftQuery(
      "q22_pivot_status_by_segment",
      (s, d) =>
        Tables.customer(s, d)
          .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
          .groupBy(col("c_mktsegment"))
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(count(lit(1))),
      Some("""SELECT c_mktsegment,
          CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS "F",
          CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS "O",
          CAST(COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS "P"
        FROM customer JOIN orders ON c_custkey = o_custkey
        GROUP BY c_mktsegment""")),

    // ---- date/time scalar functions over order dates ---------------------
    // year/quarter/month extraction + month-truncation + day arithmetic
    // (the §2.7 date-scalar surface, all codegen'd Catalyst built-ins).
    GraftQuery(
      "q23_date_scalars",
      (s, d) =>
        Tables.orders(s, d)
          .groupBy(
            year(col("o_orderdate")).as("o_year"),
            quarter(col("o_orderdate")).as("o_quarter"),
            date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd")
              .as("month_start"))
          .agg(
            count(lit(1)).as("n_orders"),
            max(dayofmonth(col("o_orderdate"))).as("max_dom"),
            count_distinct(date_format(col("o_orderdate"), "yyyy-MM-dd"))
              .as("active_days")),
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
          CAST(quarter(o_orderdate) AS INT) AS o_quarter,
          strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
          COUNT(*) AS n_orders,
          CAST(MAX(day(o_orderdate)) AS INT) AS max_dom,
          COUNT(DISTINCT strftime(o_orderdate, '%Y-%m-%d')) AS active_days
        FROM orders GROUP BY 1, 2, 3""")),

    // ---- events: ordered conversion funnel (view → click → purchase) ----
    // Sequence analytics: how far does each user get through an ORDERED,
    // TIME-BOUNDED funnel — first view, first click within a day of that
    // view, first purchase within a day of that click. Three chained
    // unbounded-frame conditional mins over the SAME user_id partitioning
    // collapse onto one exchange (no orderBy ⇒ no sort); every row in a
    // user's partition carries identical (v_ts, c_ts, p_ts), so per-user
    // stage is a distinct + a 4-key count. At 100 TB: one shuffle on
    // user_id with O(1) per-row state — same key and cost envelope as
    // sessionization (q18); the stage rollup is a partial-agg groupBy on
    // a 4-value key. NULL chaining does the funnel ordering for free:
    // no view ⇒ v_ts NULL ⇒ ts >= NULL is NULL ⇒ c_ts NULL ⇒ p_ts NULL.
    // ts is exact int64 nanos on both sides (nanosAsLong / epoch_ns).
    GraftQuery(
      "q24_funnel_stages",
      (s, d) => {
        val dayNs = 86400L * 1000 * 1000 * 1000
        val byUser = Window.partitionBy(col("user_id"))
        Tables.events(s, d)
          .withColumn("v_ts",
            min(when(col("event_type") === "view", col("ts"))).over(byUser))
          .withColumn("c_ts",
            min(when(col("event_type") === "click" &&
              col("ts") >= col("v_ts") &&
              col("ts") <= col("v_ts") + dayNs, col("ts"))).over(byUser))
          .withColumn("p_ts",
            min(when(col("event_type") === "purchase" &&
              col("ts") >= col("c_ts") &&
              col("ts") <= col("c_ts") + dayNs, col("ts"))).over(byUser))
          .select(col("user_id"),
            when(col("p_ts").isNotNull, 3L)
              .when(col("c_ts").isNotNull, 2L)
              .when(col("v_ts").isNotNull, 1L)
              .otherwise(0L).as("stage"))
          .distinct()
          .groupBy(col("stage"))
          .agg(count(lit(1)).as("n_users"))
      },
      Some("""WITH w1 AS (SELECT user_id, event_type, epoch_ns(ts) AS ts_ns,
            min(CASE WHEN event_type = 'view' THEN epoch_ns(ts) END)
              OVER (PARTITION BY user_id) AS v_ts
          FROM events),
        w2 AS (SELECT *, min(CASE WHEN event_type = 'click'
              AND ts_ns >= v_ts AND ts_ns <= v_ts + 86400000000000
              THEN ts_ns END)
              OVER (PARTITION BY user_id) AS c_ts
          FROM w1),
        w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase'
              AND ts_ns >= c_ts AND ts_ns <= c_ts + 86400000000000
              THEN ts_ns END)
              OVER (PARTITION BY user_id) AS p_ts
          FROM w2),
        s AS (SELECT DISTINCT user_id,
            CASE WHEN p_ts IS NOT NULL THEN 3
              WHEN c_ts IS NOT NULL THEN 2
              WHEN v_ts IS NOT NULL THEN 1
              ELSE 0 END AS stage
          FROM w3)
        SELECT CAST(stage AS BIGINT) AS stage, COUNT(*) AS n_users
        FROM s GROUP BY stage""")),

    // ---- events: weekly cohort retention ---------------------------------
    // The other standard sequence-analytics shape next to the funnel
    // (q24): users cohorted by first-seen week; each cell counts how many
    // of a cohort's users were active N weeks later. Weeks are integer
    // epoch-week buckets — exact int64 FLOOR division (floorDiv, matching
    // DuckDB's `//` for negative pre-1970 nanos; same fix as q15's hour
    // bucket — bare `div` truncates toward zero). Plan: ONE shuffle on
    // user_id feeds the unbounded-frame cohort min AND the per-user
    // distinct (user_id partitioning already clusters the distinct's full
    // key set); the final (cohort, offset) rollup exchanges a frame
    // bounded by users × active weeks, never events. Same O(1)-per-row
    // window state as q18/q24 — retention over 100 TB of events is one
    // fact-table shuffle.
    GraftQuery(
      "q25_cohort_retention",
      (s, d) => {
        val weekNs = 7L * 86400 * 1000 * 1000 * 1000
        val byUser = Window.partitionBy(col("user_id"))
        Tables.events(s, d)
          .withColumn("week", floorDiv(col("ts"), weekNs))
          .withColumn("cohort", min(col("week")).over(byUser))
          .select(col("user_id"), col("cohort"),
            (col("week") - col("cohort")).as("week_offset"))
          .distinct()
          .groupBy(col("cohort"), col("week_offset"))
          .agg(count(lit(1)).as("n_users"))
      },
      Some("""WITH w AS (SELECT user_id,
            epoch_ns(ts) // 604800000000000 AS week FROM events),
        c AS (SELECT user_id, week,
            min(week) OVER (PARTITION BY user_id) AS cohort FROM w),
        s AS (SELECT DISTINCT user_id, cohort, week - cohort AS week_offset
          FROM c)
        SELECT cohort, week_offset, COUNT(*) AS n_users
        FROM s GROUP BY 1, 2""")),

    // ---- exact global ranking: customer spend deciles --------------------
    // The ranking-family gap (ntile/percent_rank territory) done SCALE-
    // RIGHT: `row_number().over(Window.orderBy(...))` plans a single-
    // partition window (every customer in one task), so the exact global
    // rank comes from GlobalRank.withRowNumber instead — range-partitioned
    // total sort + partition-offset indexing, never concentrated. Decile
    // assignment is then pure arithmetic on the rank ((rn-1)*10 div N:
    // equal-width by rank, deterministic under the (spend desc, custkey)
    // total order), and the output collapses to 10 rows. The N scalar is
    // one count job on the pre-aggregated frame (|customers|, not
    // |orders|) — same driver-scalar pattern as e05/e07's sizing scans.
    GraftQuery(
      "q27_spend_deciles",
      (s, d) => {
        val spend = Tables.orders(s, d)
          .groupBy(col("o_custkey"))
          .agg(dsum(col("o_totalprice")).as("spend"))
        // max(_, 1): on an empty orders table `spend` has zero rows, so
        // the divisor is never applied to a row — but ANSI mode would
        // still reject a literal 0 divisor. Clamping keeps the one code
        // path and returns the (empty) frame unchanged.
        val n = math.max(spend.count(), 1L)
        val ranked = GlobalRank.withRowNumber(spend,
          Seq(col("spend").desc, col("o_custkey").asc))
        ranked
          .withColumn("decile",
            floorDiv((col("rn") - 1L) * 10L, n) + 1L)
          .groupBy(col("decile"))
          .agg(count(lit(1)).as("n_customers"),
            sum(dec(col("spend"))).cast("double").as("total_spend"),
            min(col("spend")).as("min_spend"),
            max(col("spend")).as("max_spend"))
      },
      Some(s"""WITH spend AS (SELECT o_custkey,
          ${dsumSql("o_totalprice")} AS spend
        FROM orders GROUP BY o_custkey),
        r AS (SELECT spend,
          row_number() OVER (ORDER BY spend DESC, o_custkey ASC) AS rn,
          COUNT(*) OVER () AS n FROM spend)
        SELECT ((rn - 1) * 10) // n + 1 AS decile,
          COUNT(*) AS n_customers,
          ${dsumSql("spend")} AS total_spend,
          MIN(spend) AS min_spend, MAX(spend) AS max_spend
        FROM r GROUP BY 1""")),

    // ---- trailing 7-day revenue: RANGE window frame ----------------------
    // The value-based frame spec (RANGE BETWEEN 6 PRECEDING AND CURRENT
    // ROW over an integer day key) — the window family's last uncovered
    // facet (q07/q18 cover partitioned rank/lag; q27 global rank). RANGE,
    // not ROWS: a missing day must still widen the frame by calendar
    // distance, which a row-counted frame gets wrong.
    //
    // Scale shape: the frame runs over the PRE-AGGREGATED day domain —
    // groupBy(day) is map-side combinable and collapses 100 TB of orders
    // to one row per day (~365×years rows), so the unpartitioned window
    // that follows is bounded by the calendar, not the fact table. Running
    // the frame directly over raw orders would put every order in one
    // task — the same single-partition trap q27 documents.
    //
    // Exactness: day revenue is summed as decimal(18,2) (exact, order-
    // free), the frame sums decimals, and only the final values cast to
    // double; counts are integers end-to-end (DuckDB's HUGEINT window sum
    // cast back to BIGINT).
    GraftQuery(
      "q28_trailing_revenue",
      (s, d) => {
        val w = Window.orderBy(col("day_int")).rangeBetween(-6, 0)
        Tables.orders(s, d)
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(count(lit(1)).as("n_orders"),
            sum(dec(col("o_totalprice"))).as("rev_dec"))
          .withColumn("day_int",
            datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
          .withColumn("orders_7d", sum(col("n_orders")).over(w))
          .withColumn("rev_7d", sum(col("rev_dec")).over(w).cast("double"))
          .select(date_format(col("day"), "yyyy-MM-dd").as("order_date"),
            col("n_orders"), col("rev_dec").cast("double").as("day_rev"),
            col("orders_7d"), col("rev_7d"))
      },
      Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
          COUNT(*) AS n_orders,
          SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
        FROM orders GROUP BY 1),
        d2 AS (SELECT day, CAST(day - DATE '1970-01-01' AS BIGINT) AS day_int,
          n_orders, rev_dec FROM daily)
        SELECT strftime(day, '%Y-%m-%d') AS order_date, n_orders,
          CAST(rev_dec AS DOUBLE) AS day_rev,
          CAST(SUM(n_orders) OVER w AS BIGINT) AS orders_7d,
          CAST(SUM(rev_dec) OVER w AS DOUBLE) AS rev_7d
        FROM d2
        WINDOW w AS (ORDER BY day_int RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""")),

    // ---- robust outlier flags: exact grouped median + MAD ----------------
    // Robust statistics the mean/stddev family (q01/q21) can't give: per
    // order priority, the exact LOWER MEDIAN of order totals, the median
    // absolute deviation around it, and how many orders sit beyond the
    // classic |x - med| > 3·MAD robust-z fence. Exact — not
    // approx_percentile — via RobustStats' value-histogram construction:
    // groupBy(key, value) collapses the fact table to its price histogram
    // with full map-side partial agg, so the median rank arithmetic runs
    // over distinct prices per group, never a per-group sort of raw rows
    // (a 5-value key over 100 TB would otherwise be five straggler sorts
    // — the q27 single-partition trap in grouped form).
    //
    // ONE fact scan for the whole chain: the deviation histogram is
    // DERIVED from the price histogram (|price − med| maps buckets, sum(c)
    // re-merges collisions) instead of rejoining raw orders, and the final
    // outlier count folds the same deviation histogram with c-weighted
    // sums. Everything after the first groupBy is histogram-sized; the
    // 5-row median/MAD tables broadcast back.
    //
    // Round-21 rewrite: the previous form BRANCHED the lineage twice
    // (hist → {med, devHist}, devHist → {mad, final}); each branch
    // re-derived its side from the parquet scan (four scans — pruning
    // differences defeat ReuseExchange, the round-18 rule), and a
    // Checkpoints.barrier on the histogram measured SLOWER (3.65 →
    // 4.3-4.6 s: materializing ~150k histogram rows costs more than the
    // extra scan+folds — the e31 lesson). The fix is ALGEBRAIC, not a
    // barrier: the median is exactly one bucket per key, so instead of
    // filter + 5-row broadcast join-back it rides the SAME ranked window
    // frame as `min(when(<median-bucket predicate>, value)) over
    // (partition by key)` — an unordered second window on the exchange
    // rankedHistogram already paid. The chain becomes strictly LINEAR
    // (hist → ranked+med → devHist → ranked+mad → final fold): ONE fact
    // scan, zero joins, and the final fold reuses the mad window's
    // priority partitioning (4 scans → 1; isolated two-pass min at sf0.1
    // 3.98 → 2.29 s). Same bucket predicate, same decimal types,
    // value-identical.
    //
    // Exactness: prices live as DECIMAL(18,2) end-to-end — medians are
    // data elements, deviations/fences are exact decimal arithmetic, and
    // only the two reported stats cast to double at the end.
    GraftQuery(
      "q29_robust_outliers",
      (s, d) => {
        import graft.operators.RobustStats
        val byKey = Window.partitionBy(col("priority"))
        // min(when(...)) over the key: the unique bucket whose cumulative
        // rank range [cum-c+1, cum] covers target ⌈n/2⌉ — the
        // medianOfHistogram predicate verbatim, lifted to a window column.
        def medCol(valCol: String): Column =
          min(when(col("cum") >= col("tgt") &&
            (col("cum") - col("c")) < col("tgt"), col(valCol))).over(byKey)
        def ranked(hist: DataFrame, valCol: String): DataFrame =
          RobustStats.rankedHistogram(hist, "priority", valCol, "c")
            .withColumn("tgt", call_function("div", col("n") + 1, lit(2L)))
        val spend = Tables.orders(s, d)
          .select(col("o_orderpriority").as("priority"),
            dec(col("o_totalprice")).as("price"))
        val r1 = ranked(
          RobustStats.valueHistogram(spend, "priority", "price"), "price")
          .withColumn("med", medCol("price"))
        // med is constant per priority, so carrying it as a grouping key
        // leaves the histogram's bucket structure unchanged.
        val devHist = r1
          .groupBy(col("priority"), col("med"),
            abs(col("price") - col("med")).as("dev"))
          .agg(sum(col("c")).as("c"))
        ranked(devHist, "dev")
          .withColumn("mad", medCol("dev"))
          .groupBy(col("priority"))
          .agg(sum(col("c")).as("n_orders"),
            min(col("med")).cast("double").as("med"),
            min(col("mad")).cast("double").as("mad"),
            sum(when(col("dev") > col("mad") * 3, col("c")).otherwise(0L))
              .as("n_outliers"))
      },
      Some("""WITH p AS (SELECT o_orderpriority AS priority,
          CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders),
        h1 AS (SELECT priority, price, COUNT(*) AS c FROM p GROUP BY 1, 2),
        r1 AS (SELECT priority, price, c,
            SUM(c) OVER (PARTITION BY priority ORDER BY price) AS cum,
            SUM(c) OVER (PARTITION BY priority) AS n
          FROM h1),
        med AS (SELECT priority, price AS med FROM r1
          WHERE cum >= (n + 1) // 2 AND cum - c < (n + 1) // 2),
        devs AS (SELECT p.priority, abs(p.price - m.med) AS dev, m.med
          FROM p JOIN med m USING (priority)),
        h2 AS (SELECT priority, dev, COUNT(*) AS c FROM devs GROUP BY 1, 2),
        r2 AS (SELECT priority, dev, c,
            SUM(c) OVER (PARTITION BY priority ORDER BY dev) AS cum,
            SUM(c) OVER (PARTITION BY priority) AS n
          FROM h2),
        mad AS (SELECT priority, dev AS mad FROM r2
          WHERE cum >= (n + 1) // 2 AND cum - c < (n + 1) // 2)
        SELECT d.priority, CAST(COUNT(*) AS BIGINT) AS n_orders,
          CAST(MIN(d.med) AS DOUBLE) AS med,
          CAST(MIN(ma.mad) AS DOUBLE) AS mad,
          CAST(SUM(CASE WHEN d.dev > ma.mad * 3 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_outliers
        FROM devs d JOIN mad ma USING (priority)
        GROUP BY 1""")),

    // ---- exact grouped percentiles via the ranked value histogram --------
    // The latency-dashboard shape (p50/p90/p99 of event value per type),
    // EXACT, through the same value-histogram substrate as q29: groupBy
    // (key, value) collapses the fact table under full map-side partial
    // agg, ONE exchange on event_type feeds the cumulative + total
    // windows, and all three percentiles fold in a single conditional-min
    // agg over the ranked rows — three quantiles cost exactly one
    // histogram pass, not three sorts. Lower (discrete) percentile: the
    // element at 1-based rank ⌈p·n/100⌉, always a data element, so the
    // result is engine-exact. Values histogram on DECIMAL(18,6) so equal
    // doubles genuinely collide into one bucket in both engines; nulls
    // are dropped (a NULL value has no rank). At 100 TB: bounded by
    // (event_type × distinct values), never a per-type sort of raw rows —
    // and where the value domain were genuinely continuous this flips to
    // approx_percentile's mergeable sketch (the d30 note), exactness here
    // buys the hashable oracle.
    GraftQuery(
      "q30_value_percentiles",
      (s, d) => {
        import graft.operators.RobustStats
        val hist = RobustStats.valueHistogram(
          Tables.events(s, d).filter(col("value").isNotNull)
            .select(col("event_type"), col("value").cast("decimal(18,6)").as("v")),
          "event_type", "v")
        val ranked = RobustStats.rankedHistogram(hist, "event_type", "v", "c")
        // ⌈n·p/100⌉ = (n·p + 99) div 100 in exact int64 (n ≥ 1, positive —
        // plain div is floor div here)
        def pick(p: Int) = {
          val tgt = call_function("div", col("n") * p + 99, lit(100L))
          min(when(col("cum") >= tgt && (col("cum") - col("c")) < tgt,
            col("v")))
        }
        ranked.groupBy(col("event_type"))
          .agg(max(col("n")).as("n_values"),
            pick(50).cast("double").as("p50"),
            pick(90).cast("double").as("p90"),
            pick(99).cast("double").as("p99"))
      },
      Some("""WITH v AS (SELECT event_type, CAST(value AS DECIMAL(18,6)) AS v
          FROM events WHERE value IS NOT NULL),
        h AS (SELECT event_type, v, COUNT(*) AS c FROM v GROUP BY 1, 2),
        r AS (SELECT event_type, v, c,
            SUM(c) OVER (PARTITION BY event_type ORDER BY v) AS cum,
            SUM(c) OVER (PARTITION BY event_type) AS n
          FROM h)
        SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_values,
          CAST(MIN(CASE WHEN cum >= (n*50+99)//100 AND cum - c < (n*50+99)//100
            THEN v END) AS DOUBLE) AS p50,
          CAST(MIN(CASE WHEN cum >= (n*90+99)//100 AND cum - c < (n*90+99)//100
            THEN v END) AS DOUBLE) AS p90,
          CAST(MIN(CASE WHEN cum >= (n*99+99)//100 AND cum - c < (n*99+99)//100
            THEN v END) AS DOUBLE) AS p99
        FROM r GROUP BY 1""")),

    // ---- SKETCH percentiles: the continuous-domain flip side of q30 ------
    // q30's exact histogram is bounded by (event_type × distinct values) —
    // the right plan while the value domain is discrete-ish, and the only
    // oracle-hashable one. On a genuinely CONTINUOUS domain the histogram
    // degenerates to one bucket per row and the exchange carries the
    // whole fact table; this variant is the documented flip: Spark's
    // approx_percentile (Greenwald-Khanna sketch, rank error ≤ n/accuracy)
    // folds all three quantiles in ONE mergeable per-group sketch —
    // map-side partials stay bounded by the sketch size (O(accuracy·log n)
    // per group), independent of distinct-value count. No DuckDB
    // equivalent sketch → rows-only; anchored by RobustStatsSpec's
    // rank-error test against q30's exact values, and benched
    // side-by-side with q30 (SCALING.md records the crossover).
    GraftQuery(
      "q33_percentiles_sketch",
      (s, d) =>
        Tables.events(s, d).filter(col("value").isNotNull)
          .select(col("event_type"), col("value").cast("double").as("v"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_values"),
            expr("approx_percentile(v, array(0.5, 0.9, 0.99), 10000)")
              .as("ps"))
          .select(col("event_type"), col("n_values"),
            element_at(col("ps"), 1).as("p50"),
            element_at(col("ps"), 2).as("p90"),
            element_at(col("ps"), 3).as("p99")),
      None),

    // ---- exact grouped mode (argmax family) ------------------------------
    // The max_by/arg_max shape done DETERMINISTICALLY: the most frequent
    // event value per type, ties to the SMALLER value — engines'
    // max_by/arg_max leave tie order unspecified, so the mode folds as
    // max(struct(count, -value)) instead: lexicographic struct max is
    // (count desc, value asc), one exact rule both engines share. Same
    // histogram substrate as q29/q30 — groupBy(key, value) collapses the
    // fact table under map-side partial agg, then ONE more tiny agg on
    // the key; never a per-key sort of raw rows. The negated-decimal
    // carrier is exact (decimal negation is lossless).
    GraftQuery(
      "q31_value_mode",
      (s, d) => {
        import graft.operators.RobustStats
        val hist = RobustStats.valueHistogram(
          Tables.events(s, d).filter(col("value").isNotNull)
            .select(col("event_type"), col("value").cast("decimal(18,6)").as("v")),
          "event_type", "v")
        hist
          .groupBy(col("event_type"))
          .agg(max(struct(col("c"), (-col("v")).as("nv"))).as("m"),
            sum(col("c")).as("n_values"))
          .select(col("event_type"),
            (-col("m.nv")).cast("double").as("mode_value"),
            col("m.c").as("mode_count"), col("n_values"))
      },
      Some("""WITH v AS (SELECT event_type, CAST(value AS DECIMAL(18,6)) AS v
          FROM events WHERE value IS NOT NULL),
        h AS (SELECT event_type, v, COUNT(*) AS c FROM v GROUP BY 1, 2),
        m AS (SELECT event_type, max({'c': c, 'nv': -v}) AS s,
            CAST(SUM(c) AS BIGINT) AS n_values
          FROM h GROUP BY 1)
        SELECT event_type, CAST(-(m.s).nv AS DOUBLE) AS mode_value,
          (m.s).c AS mode_count, n_values
        FROM m""")),

    // ---- exact grouped correlation (corr/covar family) -------------------
    // Pearson correlation of quantity vs extended price per return flag —
    // the corr/covar aggregate family done cross-engine-exact: the five
    // MOMENTS (Σx, Σy, Σxy, Σx², Σy²) accumulate as DECIMAL products
    // (exact, order-free, map-side combinable — the engines' native
    // corr() uses streaming double accumulation whose value depends on
    // partitioning), and only the final closed-form
    // (n·Σxy − ΣxΣy) / (√(n·Σx² − (Σx)²) · √(n·Σy² − (Σy)²))
    // runs in doubles — identical expression tree on identical exact
    // inputs in both engines. One map-side-combinable exchange; 100 TB
    // cost = one fact-table aggregation, the same envelope as q01.
    GraftQuery(
      "q32_price_qty_corr",
      (s, d) => {
        val x = dec(col("l_quantity"))
        val y = dec(col("l_extendedprice"))
        val moments = Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(x).as("sx"), sum(y).as("sy"),
            sum(x * y).as("sxy"), sum(x * x).as("sx2"),
            sum(y * y).as("sy2"))
        val nD = col("n").cast("double")
        def dd(c: String) = col(c).cast("double")
        moments.select(col("l_returnflag"), col("n"),
          round((nD * dd("sxy") - dd("sx") * dd("sy")) /
            (sqrt(nD * dd("sx2") - dd("sx") * dd("sx")) *
              sqrt(nD * dd("sy2") - dd("sy") * dd("sy"))), 6).as("corr_qty_price"))
      },
      Some("""WITH m AS (SELECT l_returnflag, COUNT(*) AS n,
          SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
          SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
          SUM(CAST(l_quantity AS DECIMAL(18,2))
            * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
          SUM(CAST(l_quantity AS DECIMAL(18,2))
            * CAST(l_quantity AS DECIMAL(18,2))) AS sx2,
          SUM(CAST(l_extendedprice AS DECIMAL(18,2))
            * CAST(l_extendedprice AS DECIMAL(18,2))) AS sy2
        FROM lineitem GROUP BY 1)
        SELECT l_returnflag, n,
          round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (sqrt(CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * sqrt(CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
            AS corr_qty_price
        FROM m""")),

    // ---- md5-keyed HLL registers, ORACLE-CHECKABLE variant of q17 --------
    // q17's approx_count_distinct is rows-only: Spark's HLL++ sketch
    // hashes with xxhash64 and applies bias correction DuckDB can't
    // replay. This analog pins the HLL SUBSTRATE — the register build —
    // under the hash-match gate, exactly as d47/d50 pinned the LSH/SimHash
    // families: h = md5(user_id); bucket = the first byte (p=8, m=256
    // registers); rank = leading zeros of the next 32 hash bits + 1
    // (∈ 1..33, the ρ(w) of the HLL paper); register = max rank per
    // (event_type, bucket). Both engines derive the integers from the
    // same md5 hex chars ('0x'-cast / conv(16,10)) and bit length via
    // bin() — no doubles anywhere.
    //
    // Scale shape: IDENTICAL to production HLL — one narrow scan, then a
    // groupBy whose key domain is bounded by #event_types × 256, with
    // map-side max partials doing the per-partition sketch build and the
    // exchange carrying only collapsed registers. This is the mergeable-
    // sketch property stated as a query plan. The substrate is
    // operators/Sketches.hllRegisters — the SAME frame StatefulOpsSpec
    // maintains as a streaming aggregation with bounded state (max-merge
    // is the one property doing the work in both topologies).
    GraftQuery(
      "q34_hll_registers_md5",
      (s, d) => graft.operators.Sketches.hllRegisters(
        Tables.events(s, d), "event_type", "user_id"),
      Some("""WITH e AS (SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h
          FROM events WHERE user_id IS NOT NULL),
        r AS (SELECT event_type,
            CAST('0x' || substr(h, 1, 2) AS BIGINT) AS bucket,
            CAST('0x' || substr(h, 3, 8) AS BIGINT) AS w
          FROM e)
        SELECT event_type, bucket,
          CAST(MAX(CASE WHEN w = 0 THEN 33
            ELSE 33 - length(bin(w)) END) AS BIGINT) AS max_rank
        FROM r GROUP BY 1, 2""")),

    // ---- md5-keyed HLL estimate + error accounting (q34's rollup) --------
    // The second half of the q17 pin: fold q34's registers into the raw
    // HLL estimate Ê = α_m·m²/Σ 2^(−M_j) and compare against the exact
    // COUNT(DISTINCT). The harmonic sum is kept EXACT by scaling to
    // integers: Σ 2^(33−M_j) over present registers plus 2³³ per absent
    // one (M=0) ≤ 256·2³³ = 2⁴¹ — exact in int64 AND in a double's 53-bit
    // significand, so the single α_m·m²·2³³/S division is the only
    // floating-point op and both engines evaluate the identical IEEE
    // expression tree (all literals written in e0 scientific form so both
    // parsers type them DOUBLE, never DECIMAL). The small-range branch is
    // the REAL algorithm's linear-counting correction: when Ê ≤ 2.5·m and
    // zero registers remain, est = m·ln(m/zeros) — without it the raw
    // harmonic estimator plateaus near α·m (≈184 for m=256) however few
    // users exist (measured 11.8× over at sf0.001). ln() is the one
    // libm-dependent op; round(…,6) absorbs the ≤1-ulp Java-vs-DuckDB
    // divergence (verified hash-equal on both fixture scales).
    //
    // Scale: registers are bounded (types × 256) so everything past q34's
    // scan is constant-size. exact_users is the expensive COUNT(DISTINCT)
    // ground truth the sketch replaces — present here because this is an
    // ERROR EVAL (the e07/e13 recall-eval pattern), not the production
    // path; q17 never pays it.
    GraftQuery(
      "q35_hll_estimate_md5",
      (s, d) => {
        val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
        val regs = graft.operators.Sketches
          .hllRegisters(ev, "event_type", "user_id")
          .withColumnRenamed("max_rank", "mr")
        val roll = regs.groupBy(col("event_type"))
          .agg(count(lit(1)).as("present"),
            (lit(256L) - count(lit(1))).as("zeros"),
            (sum(expr("shiftleft(cast(1 as bigint), cast(33 - mr as int))")) +
              (lit(256L) - count(lit(1))) * lit(8589934592L)).as("s_scaled"))
        val exact = ev.groupBy(col("event_type"))
          .agg(count_distinct(col("user_id")).as("exact_users"))
        roll.join(exact, Seq("event_type"))
          .withColumn("est_raw", expr(
            """0.7213e0 / (1.0e0 + 1.079e0 / 256.0e0) * 65536.0e0
              * 8589934592.0e0 / cast(s_scaled as double)"""))
          .withColumn("est", expr(
            """CASE WHEN est_raw <= 640.0e0 AND zeros > 0
               THEN 256.0e0 * ln(256.0e0 / cast(zeros as double))
               ELSE est_raw END"""))
          .select(col("event_type"), col("present"), col("zeros"),
            col("s_scaled"), round(col("est_raw"), 6).as("est_raw"),
            round(col("est"), 6).as("est_users"),
            col("exact_users"),
            round((col("est") - col("exact_users").cast("double")) /
              col("exact_users").cast("double"), 6).as("rel_err"))
      },
      Some("""WITH e AS (SELECT event_type, user_id,
            md5(CAST(user_id AS VARCHAR)) AS h
          FROM events WHERE user_id IS NOT NULL),
        r AS (SELECT event_type,
            CAST('0x' || substr(h, 1, 2) AS BIGINT) AS bucket,
            CAST('0x' || substr(h, 3, 8) AS BIGINT) AS w
          FROM e),
        reg AS (SELECT event_type, bucket,
            MAX(CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END) AS mr
          FROM r GROUP BY 1, 2),
        roll AS (SELECT event_type,
            CAST(COUNT(*) AS BIGINT) AS present,
            CAST(256 - COUNT(*) AS BIGINT) AS zeros,
            CAST(CAST(SUM(CAST(1 AS BIGINT) << CAST(33 - mr AS INT))
                AS BIGINT)
              + (256 - COUNT(*)) * 8589934592 AS BIGINT) AS s_scaled
          FROM reg GROUP BY 1),
        ex AS (SELECT event_type,
            CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
          FROM e GROUP BY 1),
        j AS (SELECT roll.event_type, present, zeros, s_scaled,
            0.7213e0 / (1.0e0 + 1.079e0 / 256.0e0) * 65536.0e0
              * 8589934592.0e0 / CAST(s_scaled AS DOUBLE) AS est_raw,
            exact_users
          FROM roll JOIN ex ON roll.event_type = ex.event_type),
        k AS (SELECT *, CASE WHEN est_raw <= 640.0e0 AND zeros > 0
              THEN 256.0e0 * ln(256.0e0 / CAST(zeros AS DOUBLE))
              ELSE est_raw END AS est
          FROM j)
        SELECT event_type, present, zeros, s_scaled,
          round(est_raw, 6) AS est_raw,
          round(est, 6) AS est_users, exact_users,
          round((est - CAST(exact_users AS DOUBLE))
            / CAST(exact_users AS DOUBLE), 6) AS rel_err
        FROM k""")),

    // ---- KMV (k-minimum-values) distinct sketch, md5-keyed ---------------
    // The third sketch family after HLL (q34/q35) and CMS (d54): keep the
    // k=64 smallest md5(user_id) hashes per event_type; the k-th smallest
    // of D uniform hashes sits at ≈ k/D of the hash space, so
    // D̂ = (k−1)/frac(h_k) (the unbiased KMV estimator). frac uses the
    // first 13 hex chars = 52 bits — inside a double's significand, so
    // int(hex)/2⁵² is EXACT and the one division is the only rounding
    // point (identical IEEE tree in both engines). Sketches smaller than
    // k hold the whole distinct set → the estimate is exact by rule.
    //
    // Scale shape: the distinct() is one dedup exchange on (type, hash) —
    // uniform by construction, no skew; the per-type top-k runs as
    // row_number ≤ k, which Spark turns into a map-side WindowGroupLimit
    // (≤ k rows per partition survive BEFORE the exchange — the
    // distributed KMV merge, pinned by PlanShapeSpec). Everything past
    // that is (types × 64) rows. exact_users is eval-side ground truth
    // (the q35 pattern).
    GraftQuery(
      "q36_kmv_distinct",
      (s, d) => {
        val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
          .select(col("event_type").as("t"),
            expr("md5(cast(user_id as string))").as("h"))
          .distinct()
        val w = Window.partitionBy(col("t")).orderBy(col("h").asc)
        val sk = ev.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 64)
        val agg = sk.groupBy(col("t"))
          .agg(count(lit(1)).as("n_k"), max(col("h")).as("kth_hash"))
        val exact = ev.groupBy(col("t"))
          .agg(count(lit(1)).as("exact_users"))
        agg.join(exact, Seq("t"))
          .withColumn("est", expr(
            """CASE WHEN n_k < 64 THEN cast(n_k as double)
               ELSE 63.0e0 / (cast(conv(substr(kth_hash, 1, 13), 16, 10)
                 as bigint) / 4503599627370496.0e0) END"""))
          .select(col("t").as("event_type"), col("n_k"), col("kth_hash"),
            round(col("est"), 6).as("est_kmv"), col("exact_users"),
            round((col("est") - col("exact_users").cast("double")) /
              col("exact_users").cast("double"), 6).as("rel_err"))
      },
      Some("""WITH e AS (SELECT DISTINCT event_type AS t,
            md5(CAST(user_id AS VARCHAR)) AS h
          FROM events WHERE user_id IS NOT NULL),
        sk AS (SELECT t, h FROM (SELECT t, h,
            row_number() OVER (PARTITION BY t ORDER BY h ASC) AS rn
          FROM e) x WHERE rn <= 64),
        a AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_k, MAX(h) AS kth_hash
          FROM sk GROUP BY 1),
        ex AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS exact_users
          FROM e GROUP BY 1),
        j AS (SELECT a.t, n_k, kth_hash,
            CASE WHEN n_k < 64 THEN CAST(n_k AS DOUBLE)
              ELSE 63.0e0 / (CAST('0x' || substr(kth_hash, 1, 13) AS BIGINT)
                / 4503599627370496.0e0) END AS est,
            exact_users
          FROM a JOIN ex ON a.t = ex.t)
        SELECT t AS event_type, n_k, kth_hash, round(est, 6) AS est_kmv,
          exact_users,
          round((est - CAST(exact_users AS DOUBLE))
            / CAST(exact_users AS DOUBLE), 6) AS rel_err
        FROM j""")),

    // ---- KMV set-operation estimates: distinct-user overlap per type pair
    // The capability that justifies KMV over HLL: sketches COMPOSE under
    // set operations. For each event-type pair (A,B): the union sketch is
    // the k smallest of S_A ∪ S_B (mergeable — union-then-truncate is
    // associative), D̂_∪ comes from its k-th value (q36's estimator), and
    // the Jaccard-style ratio ρ = |{h ∈ union sketch : h ∈ S_A ∧ h ∈ S_B}|/k
    // scales it to D̂_∩ = ρ·D̂_∪ (the KMV intersection estimator). When the
    // union sketch is under-full it holds ALL of A∪B and both estimates
    // collapse to exact counts by construction. Exact union/intersection
    // ride along as eval ground truth.
    //
    // Scale: the pair math runs over (pairs × 64) rows — broadcast-sized
    // whatever the corpus; the only corpus-scale work is q36's sketch
    // build (dedup exchange + map-side WindowGroupLimit) and the
    // eval-only exact self-join (equi on the uniform hash — no skew).
    // The Spark side reaches the union sketch through TWO equi-joins
    // (pair→A-side, pair→B-side) + union, not an OR-join — an OR
    // predicate would plan a nested-loop join; the oracle keeps the OR
    // form DuckDB-side where plans don't matter.
    GraftQuery(
      "q37_kmv_intersect",
      (s, d) => {
        val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
          .select(col("event_type").as("t"),
            expr("md5(cast(user_id as string))").as("h"))
          .distinct()
        val w = Window.partitionBy(col("t")).orderBy(col("h").asc)
        val sk = ev.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 64).select(col("t"), col("h"))
        val types = sk.select(col("t")).distinct()
        // broadcast makes the (tiny × tiny) pair enumeration a
        // BroadcastNestedLoopJoin, never a CartesianProduct
        val pairs = types.select(col("t").as("ta"))
          .crossJoin(broadcast(types.select(col("t").as("tb"))))
          .filter(col("ta") < col("tb"))
        val memA = pairs.join(sk, col("ta") === col("t"))
          .select(col("ta"), col("tb"), col("h"),
            lit(1).as("ia"), lit(0).as("ib"))
        val memB = pairs.join(sk, col("tb") === col("t"))
          .select(col("ta"), col("tb"), col("h"),
            lit(0).as("ia"), lit(1).as("ib"))
        val un = memA.union(memB)
          .groupBy(col("ta"), col("tb"), col("h"))
          .agg(max(col("ia")).as("ia"), max(col("ib")).as("ib"))
        val w2 = Window.partitionBy(col("ta"), col("tb"))
          .orderBy(col("h").asc)
        val g = un.withColumn("rn", row_number().over(w2))
          .filter(col("rn") <= 64)
          .groupBy(col("ta"), col("tb"))
          .agg(count(lit(1)).as("n_k"), max(col("h")).as("hk"),
            sum(when(col("ia") === 1 && col("ib") === 1, 1L)
              .otherwise(0L)).as("both_k"))
        val cnt = ev.groupBy(col("t")).agg(count(lit(1)).as("n"))
        val xi = ev.select(col("t").as("xa"), col("h"))
          .join(ev.select(col("t").as("xb"), col("h")), Seq("h"))
          .filter(col("xa") < col("xb"))
          .groupBy(col("xa"), col("xb"))
          .agg(count(lit(1)).as("exact_int"))
        g.join(cnt.select(col("t").as("ta"), col("n").as("na")), Seq("ta"))
          .join(cnt.select(col("t").as("tb"), col("n").as("nb")), Seq("tb"))
          .join(xi, col("ta") === col("xa") && col("tb") === col("xb"),
            "left")
          .withColumn("exact_i", coalesce(col("exact_int"), lit(0L)))
          .withColumn("est_u", expr(
            """CASE WHEN n_k < 64 THEN cast(n_k as double)
               ELSE 63.0e0 / (cast(conv(substr(hk, 1, 13), 16, 10)
                 as bigint) / 4503599627370496.0e0) END"""))
          .select(col("ta").as("type_a"), col("tb").as("type_b"),
            col("n_k"), col("both_k"),
            round(col("est_u"), 6).as("est_union"),
            (col("na") + col("nb") - col("exact_i")).as("exact_union"),
            round(col("both_k").cast("double") / col("n_k").cast("double")
              * col("est_u"), 6).as("est_intersect"),
            col("exact_i").as("exact_intersect"))
      },
      Some("""WITH e AS (SELECT DISTINCT event_type AS t,
            md5(CAST(user_id AS VARCHAR)) AS h
          FROM events WHERE user_id IS NOT NULL),
        sk AS (SELECT t, h FROM (SELECT t, h,
            row_number() OVER (PARTITION BY t ORDER BY h ASC) AS rn
          FROM e) x WHERE rn <= 64),
        ty AS (SELECT DISTINCT t FROM sk),
        p AS (SELECT a.t AS ta, b.t AS tb FROM ty a, ty b WHERE a.t < b.t),
        m AS (SELECT p.ta, p.tb, s.h,
            MAX(CASE WHEN s.t = p.ta THEN 1 ELSE 0 END) AS ia,
            MAX(CASE WHEN s.t = p.tb THEN 1 ELSE 0 END) AS ib
          FROM p JOIN sk s ON s.t = p.ta OR s.t = p.tb
          GROUP BY 1, 2, 3),
        c AS (SELECT ta, tb, h, ia, ib,
            row_number() OVER (PARTITION BY ta, tb ORDER BY h ASC) AS rn
          FROM m),
        g AS (SELECT ta, tb, CAST(COUNT(*) AS BIGINT) AS n_k, MAX(h) AS hk,
            CAST(SUM(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS both_k
          FROM c WHERE rn <= 64 GROUP BY 1, 2),
        cnt AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1),
        xi AS (SELECT x.t AS ta, y.t AS tb,
            CAST(COUNT(*) AS BIGINT) AS exact_int
          FROM e x JOIN e y ON x.h = y.h AND x.t < y.t
          GROUP BY 1, 2),
        j AS (SELECT g.ta, g.tb, g.n_k, g.both_k,
            CASE WHEN g.n_k < 64 THEN CAST(g.n_k AS DOUBLE)
              ELSE 63.0e0 / (CAST('0x' || substr(g.hk, 1, 13) AS BIGINT)
                / 4503599627370496.0e0) END AS est_u,
            ca.n AS na, cb.n AS nb,
            COALESCE(xi.exact_int, 0) AS exact_i
          FROM g JOIN cnt ca ON g.ta = ca.t JOIN cnt cb ON g.tb = cb.t
            LEFT JOIN xi ON g.ta = xi.ta AND g.tb = xi.tb)
        SELECT ta AS type_a, tb AS type_b, n_k, both_k,
          round(est_u, 6) AS est_union,
          CAST(na + nb - exact_i AS BIGINT) AS exact_union,
          round(CAST(both_k AS DOUBLE) / CAST(n_k AS DOUBLE) * est_u, 6)
            AS est_intersect,
          exact_i AS exact_intersect
        FROM j""")),

    // ---- grouped OLS regression (slope/intercept/R²) ---------------------
    // q32's exact-moment substrate carried to the full least-squares fit:
    // price = α + β·quantity per return flag. The five moments accumulate
    // as DECIMAL (exact, order-free, map-side combinable); the closed
    // forms β = (nΣxy−ΣxΣy)/(nΣx²−(Σx)²), α = (Σy−β·Σx)/n and
    // R² = (nΣxy−ΣxΣy)² / ((nΣx²−(Σx)²)(nΣy²−(Σy)²)) run in doubles over
    // identical expression trees in both engines (α references the
    // UNROUNDED β). One map-side-combinable exchange — the q01 envelope —
    // at any scale; this is the per-segment trend-fit a feature pipeline
    // computes without ever sorting or collecting a group.
    GraftQuery(
      "q38_price_qty_ols",
      (s, d) => {
        val x = dec(col("l_quantity"))
        val y = dec(col("l_extendedprice"))
        val m = Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(x).as("sx"), sum(y).as("sy"),
            sum(x * y).as("sxy"), sum(x * x).as("sx2"),
            sum(y * y).as("sy2"))
        val k = m.select(col("l_returnflag"), col("n"),
          expr("""(cast(n as double) * cast(sxy as double)
              - cast(sx as double) * cast(sy as double))
            / (cast(n as double) * cast(sx2 as double)
              - cast(sx as double) * cast(sx as double))""").as("beta"),
          expr("cast(sx as double)").as("sxd"),
          expr("cast(sy as double)").as("syd"),
          expr("""(cast(n as double) * cast(sxy as double)
              - cast(sx as double) * cast(sy as double))
            * (cast(n as double) * cast(sxy as double)
              - cast(sx as double) * cast(sy as double))
            / ((cast(n as double) * cast(sx2 as double)
              - cast(sx as double) * cast(sx as double))
              * (cast(n as double) * cast(sy2 as double)
                - cast(sy as double) * cast(sy as double)))""").as("r2"))
        k.select(col("l_returnflag"), col("n"),
          round(col("beta"), 6).as("slope"),
          round((col("syd") - col("beta") * col("sxd")) /
            col("n").cast("double"), 6).as("intercept"),
          round(col("r2"), 6).as("r_squared"))
      },
      Some("""WITH m AS (SELECT l_returnflag, COUNT(*) AS n,
          SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
          SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
          SUM(CAST(l_quantity AS DECIMAL(18,2))
            * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
          SUM(CAST(l_quantity AS DECIMAL(18,2))
            * CAST(l_quantity AS DECIMAL(18,2))) AS sx2,
          SUM(CAST(l_extendedprice AS DECIMAL(18,2))
            * CAST(l_extendedprice AS DECIMAL(18,2))) AS sy2
        FROM lineitem GROUP BY 1),
        k AS (SELECT l_returnflag, n,
            (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS beta,
            CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
            (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / ((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r2
          FROM m)
        SELECT l_returnflag, n, round(beta, 6) AS slope,
          round((syd - beta * sxd) / CAST(n AS DOUBLE), 6) AS intercept,
          round(r2, 6) AS r_squared
        FROM k""")),

    // ---- grouped skewness / excess kurtosis (3rd/4th-moment family) ------
    // Completes the one-pass moment family (q32 corr, q38 OLS) with the
    // distribution-SHAPE statistics a data-quality dashboard tracks:
    // per-group population skewness m3/m2^1.5 and excess kurtosis
    // m4/m2² − 3, from raw power sums. l_quantity is integer-valued by
    // TPC-H construction (1..50; pinned by the oracle hash itself), so the
    // power sums are EXACT int64 — x⁴ ≤ 6.25e6 keeps Σx⁴ < 2⁶³ up to
    // ~1.5e12 rows (≈ sf250k) — and the only doubles are the closed-form
    // combine, written as the SAME expression tree in both engines
    // (multiplies + sqrt only — sqrt is IEEE correctly-rounded, pow is
    // NOT guaranteed identical across libms and never appears), rounded
    // at 6 decimals (the d45/d55 rule).
    //
    // Scale shape: identical to q32/q38 — ONE map-side-combinable exchange
    // carrying 5 int64s per group, no second pass, no window, no join.
    // The mean-centered two-pass formulation would be numerically nicer
    // for |mu| ≫ σ but costs a second fact scan; with exact integer raw
    // moments there is no cancellation error to fix at this value range.
    GraftQuery(
      "q39_qty_shape_stats",
      (s, d) => {
        val x = col("l_quantity").cast("bigint")
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), sum(x).as("s1"),
            sum(x * x).as("s2"), sum(x * x * x).as("s3"),
            sum(x * x * x * x).as("s4"))
          .selectExpr("l_returnflag", "n",
            "round(cast(s1 as double) / cast(n as double), 6) as mean_qty",
            """round((cast(s3 as double) / cast(n as double)
                - 3.0e0 * (cast(s1 as double) / cast(n as double))
                  * (cast(s2 as double) / cast(n as double))
                + 2.0e0 * (cast(s1 as double) / cast(n as double))
                  * (cast(s1 as double) / cast(n as double))
                  * (cast(s1 as double) / cast(n as double)))
              / ((cast(s2 as double) / cast(n as double)
                  - (cast(s1 as double) / cast(n as double))
                    * (cast(s1 as double) / cast(n as double)))
                * sqrt(cast(s2 as double) / cast(n as double)
                  - (cast(s1 as double) / cast(n as double))
                    * (cast(s1 as double) / cast(n as double)))), 6)
              as skewness""",
            """round((cast(s4 as double) / cast(n as double)
                - 4.0e0 * (cast(s1 as double) / cast(n as double))
                  * (cast(s3 as double) / cast(n as double))
                + 6.0e0 * (cast(s1 as double) / cast(n as double))
                  * (cast(s1 as double) / cast(n as double))
                  * (cast(s2 as double) / cast(n as double))
                - 3.0e0 * (cast(s1 as double) / cast(n as double))
                  * (cast(s1 as double) / cast(n as double))
                  * (cast(s1 as double) / cast(n as double))
                  * (cast(s1 as double) / cast(n as double)))
              / ((cast(s2 as double) / cast(n as double)
                  - (cast(s1 as double) / cast(n as double))
                    * (cast(s1 as double) / cast(n as double)))
                * (cast(s2 as double) / cast(n as double)
                  - (cast(s1 as double) / cast(n as double))
                    * (cast(s1 as double) / cast(n as double))))
              - 3.0e0, 6) as excess_kurtosis""")
      },
      Some("""WITH m AS (SELECT l_returnflag, COUNT(*) AS n,
          SUM(CAST(l_quantity AS BIGINT)) AS s1,
          SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS s2,
          SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
            * CAST(l_quantity AS BIGINT)) AS s3,
          SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
            * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS s4
        FROM lineitem GROUP BY 1)
        SELECT l_returnflag, n,
          round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_qty,
          round((CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
              - 3.0e0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
              + 2.0e0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
            / ((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
              * sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))), 6)
            AS skewness,
          round((CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)
              - 4.0e0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))
              + 6.0e0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
              - 3.0e0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
            / ((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
              * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))))
            - 3.0e0, 6) AS excess_kurtosis
        FROM m""")),

    // ---- per-user event-type Markov transition matrix --------------------
    // The sequence-mining primitive behind funnel design and
    // next-event prediction features: P(cur | prev) over consecutive
    // events per user (q18's lag ordering: ts then event_id). Output is
    // the |types|² transition matrix with counts and row-normalized
    // probabilities.
    //
    // Scale shape: ONE shuffle on user_id feeds the lag window (the q18
    // key — per-user sequences, no hot key by construction); the
    // (prev, cur) count agg collapses map-side onto a ≤|types|² domain
    // (25 rows here), and the row-normalizing window runs on that tiny
    // aggregate, never on the fact table. Probabilities are exact-int /
    // exact-int in identical double trees, rounded at 6 (the d45 rule).
    GraftQuery(
      "q40_event_transitions",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        val nw = Window.partitionBy(col("prev_type"))
        Tables.events(s, d)
          .withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .filter(col("prev_type").isNotNull)
          .groupBy(col("prev_type"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .withColumn("row_total", sum(col("n")).over(nw))
          .select(col("prev_type"), col("event_type").as("cur_type"),
            col("n"),
            round(col("n").cast("double") / col("row_total").cast("double"), 6)
              .as("p"))
      },
      Some("""WITH w AS (SELECT user_id, event_type,
          lag(event_type, 1) OVER (PARTITION BY user_id
            ORDER BY epoch_ns(ts) ASC, event_id ASC) AS prev_type
        FROM events),
        c AS (SELECT prev_type, event_type AS cur_type, COUNT(*) AS n
          FROM w WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        SELECT prev_type, cur_type, n,
          round(CAST(n AS DOUBLE)
            / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE), 6) AS p
        FROM c""")),

    // ---- HLL sketch MERGE rollup (union-of-sketches ≡ sketch-of-union) ---
    // The property that makes HLL work at 100 TB is not the estimate —
    // it's MERGEABILITY: per-partition/per-group sketches combine by
    // register-wise max into exactly the sketch of the union stream, so a
    // rollup (type → global) reuses the per-type registers instead of
    // re-scanning the facts. q34/q35 pin the register build and the
    // estimator; this pins the MERGE as data: the per-type registers
    // (q34's frame) max-merged across types, compared register-by-register
    // against a direct global build over the same events —
    // n_register_mismatch MUST be 0 in both engines (it is a theorem of
    // max-composition, here witnessed cross-engine), and the merged
    // estimate goes through q35's exact-int harmonic form against exact
    // ground truth.
    //
    // Scale shape: the production path is per-type registers (bounded
    // |types|×256) → merged 256-row rollup — constant-size all the way,
    // NO second fact scan. The direct global build and the exact
    // count_distinct exist only as the equality/accuracy witnesses; the
    // single-row frames cross-join by broadcast (the d24 tiny-broadcast
    // pattern).
    GraftQuery(
      "q41_hll_merge_rollup",
      (s, d) => {
        val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
        val perType = graft.operators.Sketches
          .hllRegisters(ev, "event_type", "user_id")
          .withColumnRenamed("max_rank", "mr")
        val merged = perType.groupBy(col("bucket"))
          .agg(max(col("mr")).as("mr"))
        val direct = graft.operators.Sketches
          .hllRegisters(ev.withColumn("g", lit("all")), "g", "user_id")
          .select(col("bucket"), col("max_rank").as("dmr"))
        val mism = merged.join(direct, Seq("bucket"), "full_outer")
          .agg(sum(when(col("mr").isNull || col("dmr").isNull ||
            col("mr") =!= col("dmr"), 1L).otherwise(0L))
            .as("n_register_mismatch"))
        val roll = merged.agg(count(lit(1)).as("present"),
          (lit(256L) - count(lit(1))).as("zeros"),
          (sum(expr("shiftleft(cast(1 as bigint), cast(33 - mr as int))")) +
            (lit(256L) - count(lit(1))) * lit(8589934592L)).as("s_scaled"))
        val exact = ev.agg(count_distinct(col("user_id")).as("exact_users"))
        roll.crossJoin(broadcast(exact)).crossJoin(broadcast(mism))
          .withColumn("est_raw", expr(
            """0.7213e0 / (1.0e0 + 1.079e0 / 256.0e0) * 65536.0e0
              * 8589934592.0e0 / cast(s_scaled as double)"""))
          .withColumn("est", expr(
            """CASE WHEN est_raw <= 640.0e0 AND zeros > 0
               THEN 256.0e0 * ln(256.0e0 / cast(zeros as double))
               ELSE est_raw END"""))
          .select(col("present"), col("zeros"), col("s_scaled"),
            round(col("est"), 6).as("est_users"), col("exact_users"),
            round((col("est") - col("exact_users").cast("double")) /
              col("exact_users").cast("double"), 6).as("rel_err"),
            col("n_register_mismatch"))
      },
      Some("""WITH e AS (SELECT event_type, user_id,
            md5(CAST(user_id AS VARCHAR)) AS h
          FROM events WHERE user_id IS NOT NULL),
        r AS (SELECT event_type,
            CAST('0x' || substr(h, 1, 2) AS BIGINT) AS bucket,
            CAST('0x' || substr(h, 3, 8) AS BIGINT) AS w
          FROM e),
        reg AS (SELECT event_type, bucket,
            MAX(CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END) AS mr
          FROM r GROUP BY 1, 2),
        merged AS (SELECT bucket, MAX(mr) AS mr FROM reg GROUP BY 1),
        direct AS (SELECT bucket,
            MAX(CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END) AS dmr
          FROM r GROUP BY 1),
        mism AS (SELECT CAST(SUM(CASE WHEN m.mr IS NULL OR d.dmr IS NULL
              OR m.mr <> d.dmr THEN 1 ELSE 0 END) AS BIGINT)
            AS n_register_mismatch
          FROM merged m FULL OUTER JOIN direct d ON m.bucket = d.bucket),
        roll AS (SELECT CAST(COUNT(*) AS BIGINT) AS present,
            CAST(256 - COUNT(*) AS BIGINT) AS zeros,
            CAST(CAST(SUM(CAST(1 AS BIGINT) << CAST(33 - mr AS INT))
                AS BIGINT)
              + (256 - COUNT(*)) * 8589934592 AS BIGINT) AS s_scaled
          FROM merged),
        ex AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT)
            AS exact_users FROM e),
        j AS (SELECT present, zeros, s_scaled,
            0.7213e0 / (1.0e0 + 1.079e0 / 256.0e0) * 65536.0e0
              * 8589934592.0e0 / CAST(s_scaled AS DOUBLE) AS est_raw,
            exact_users, n_register_mismatch
          FROM roll, ex, mism),
        k AS (SELECT *, CASE WHEN est_raw <= 640.0e0 AND zeros > 0
              THEN 256.0e0 * ln(256.0e0 / CAST(zeros AS DOUBLE))
              ELSE est_raw END AS est
          FROM j)
        SELECT present, zeros, s_scaled, round(est, 6) AS est_users,
          exact_users,
          round((est - CAST(exact_users AS DOUBLE))
            / CAST(exact_users AS DOUBLE), 6) AS rel_err,
          n_register_mismatch
        FROM k""")),

    // ---- day-of-week × event-type activity pivot -------------------------
    // The reshape-to-wide primitive (RelationalGroupedDataset.pivot —
    // the one DataFrame API surface the registry didn't yet exercise):
    // activity counts per (day-of-week, type) as a 7×|types| matrix.
    // Pivot VALUES are the explicit event taxonomy (q24's literals rule:
    // an inferred value list would be a driver-side distinct scan and a
    // nondeterministic column order); absent cells coalesce to 0 so the
    // matrix is dense in both engines. Day index is pure integer nanos
    // arithmetic (epoch-day mod 7 — no timezone/calendar functions, the
    // q25 week rule).
    //
    // Scale shape: a pivot with explicit values plans as ONE
    // map-side-combinable conditional-count aggregate onto the 7-row dow
    // domain — exactly the d46 conditional-sum shape, never a
    // per-type pass or a join.
    GraftQuery(
      "q42_activity_pivot",
      (s, d) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        Tables.events(s, d)
          .withColumn("dow",
            floorDiv(col("ts"), 86400L * 1000 * 1000 * 1000) % 7)
          .groupBy(col("dow"))
          .pivot("event_type", types)
          .agg(count(lit(1)))
          .select(col("dow") +: types.map(t =>
            coalesce(col(t), lit(0L)).cast("bigint").as(t)): _*)
      },
      Some("""SELECT epoch_ns(ts) // 86400000000000 % 7 AS dow,
          CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
            AS BIGINT) AS click,
          CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
            AS BIGINT) AS error,
          CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS purchase,
          CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
            AS BIGINT) AS signup,
          CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
            AS BIGINT) AS view
        FROM events GROUP BY 1""")),

    // ---- sessionization, MATERIALIZED: the session table itself ----------
    // q18 counts sessions per user; this emits the session ROWS — the
    // operator a behavioral pipeline actually stores (session start,
    // duration, size, value). Session identity is the classic two-window
    // form: new-session flag on a >30 min gap (q18's rule verbatim), then
    // a running sum of flags assigns the per-user session index the
    // grouping key needs.
    //
    // Scale shape: ONE exchange on user_id serves the whole chain — both
    // windows partition by user_id, and the groupBy's clustering key
    // (user_id, session_idx) is satisfied by the same hash partitioning
    // (same-user rows are already co-located), so Catalyst plans lag →
    // running sum → agg with no second shuffle. Per-user event counts are
    // human-scale, so the sort inside the window never spills.
    //
    // Exactness: gap math is int64 nanos end-to-end (the Tables.events
    // contract); session_value sums through DECIMAL(18,6) (order-free;
    // all-null sessions stay NULL in both engines); the running-sum frame
    // is explicit ROWS (the ordering key (ts, event_id) is unique, but
    // pinning ROWS keeps both engines' frame semantics trivially aligned).
    GraftQuery(
      "q43_session_stats",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        Tables.events(s, d)
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .withColumn("new_session",
            when(col("prev_ts").isNull ||
              col("ts") - col("prev_ts") > 1800000000000L, 1L).otherwise(0L))
          .withColumn("session_idx",
            sum(col("new_session")).over(w.rowsBetween(
              Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("session_idx"))
          .agg(min(col("ts")).as("session_start_ns"),
            (max(col("ts")) - min(col("ts"))).as("duration_ns"),
            count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(18,6)")).cast("double")
              .as("session_value"))
      },
      Some("""WITH w AS (SELECT user_id, event_id, epoch_ns(ts) AS ts_ns,
            value,
            lag(epoch_ns(ts), 1) OVER (PARTITION BY user_id
              ORDER BY epoch_ns(ts) ASC, event_id ASC) AS prev_ts
          FROM events),
        f AS (SELECT *, CASE WHEN prev_ts IS NULL
            OR ts_ns - prev_ts > 1800000000000 THEN 1 ELSE 0 END AS ns
          FROM w),
        sx AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id
            ORDER BY ts_ns ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
          FROM f)
        SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
          MIN(ts_ns) AS session_start_ns,
          MAX(ts_ns) - MIN(ts_ns) AS duration_ns,
          COUNT(*) AS n_events,
          CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS session_value
        FROM sx GROUP BY user_id, session_idx""")),

    // ---- calendar densify + forward fill (gap-fill family) ---------------
    // The time-series completion pair q28's RANGE frame sidesteps: emit a
    // row for EVERY calendar day in each event type's active span (zero
    // rows on quiet days), and carry the last observed daily value sum
    // forward across the gaps (LAST_VALUE IGNORE NULLS — the ffill a
    // dashboard/feature store expects). Spark spells it last(col, true);
    // absent-day counts coalesce to 0, but ffill deliberately distinguishes
    // nothing between "no events" and "events with all-null values" — the
    // day aggregate is NULL either way and both carry forward.
    //
    // Scale shape: the fact table collapses to the (type, day) aggregate —
    // map-side combinable, calendar-bounded output — and EVERYTHING after
    // is calendar-sized: the spine is explode(sequence(min_day, max_day))
    // over the 5-row per-type span aggregate (generated, never a
    // cross join), the left join matches two calendar-bounded frames, and
    // the ffill window partitions by type over ~days rows (bounded by the
    // calendar, not the fact table — q28's argument). ONE fact-table scan
    // total: the daily aggregate sits behind a Checkpoints.barrier, so the
    // span/spine side reuses it instead of re-scanning the fact table
    // (without the barrier Catalyst collapses span's min/max straight onto
    // a SECOND events scan — the d22 recompute trap, plan-verified).
    //
    // Exactness: day index is exact int64 floor-division of nanos (q42's
    // rule); day revenue sums as DECIMAL(18,6) and stays decimal through
    // the ffill window, casting to double only in the output.
    GraftQuery(
      "q44_daily_gapfill",
      (s, d) => {
        val daily = graft.operators.Checkpoints.barrier(
          Tables.events(s, d)
            .select(col("event_type"),
              floorDiv(col("ts"), 86400L * 1000 * 1000 * 1000).as("day_int"),
              col("value"))
            .groupBy(col("event_type"), col("day_int"))
            .agg(count(lit(1)).as("n_ev"),
              sum(col("value").cast("decimal(18,6)")).as("rev")))
        val spine = daily.groupBy(col("event_type"))
          .agg(min(col("day_int")).as("mn"), max(col("day_int")).as("mx"))
          .select(col("event_type"),
            explode(sequence(col("mn"), col("mx"))).as("day_int"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("day_int"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spine.join(daily, Seq("event_type", "day_int"), "left")
          .select(col("event_type"), col("day_int"),
            coalesce(col("n_ev"), lit(0L)).cast("bigint").as("n_events"),
            col("rev").cast("double").as("day_rev"),
            last(col("rev"), ignoreNulls = true).over(w).cast("double")
              .as("ffill_rev"))
      },
      Some("""WITH e AS (SELECT event_type,
            epoch_ns(ts) // 86400000000000 AS day_int, value FROM events),
        daily AS (SELECT event_type, day_int, COUNT(*) AS n_ev,
            SUM(CAST(value AS DECIMAL(18,6))) AS rev
          FROM e GROUP BY 1, 2),
        span AS (SELECT event_type, MIN(day_int) AS mn, MAX(day_int) AS mx
          FROM daily GROUP BY 1),
        spine AS (SELECT event_type,
            unnest(generate_series(mn, mx)) AS day_int FROM span),
        j AS (SELECT s.event_type, s.day_int,
            COALESCE(d.n_ev, 0) AS n_events, d.rev
          FROM spine s LEFT JOIN daily d
            ON s.event_type = d.event_type AND s.day_int = d.day_int)
        SELECT event_type, day_int, CAST(n_events AS BIGINT) AS n_events,
          CAST(rev AS DOUBLE) AS day_rev,
          CAST(last_value(rev IGNORE NULLS) OVER (PARTITION BY event_type
              ORDER BY day_int ROWS BETWEEN UNBOUNDED PRECEDING AND
              CURRENT ROW) AS DOUBLE) AS ffill_rev
        FROM j""")),

    // ---- join-size estimation via CMS inner product (AMS family) ---------
    // The cost-based-optimizer primitive: estimate |A ⋈ B| on a key
    // BEFORE running the join, from two CONSTANT-SIZE sketches —
    // |A ⋈ B| = Σ_k dA(k)·dB(k), and a count-min sketch estimates that
    // inner product as min_j Σ_b cmsA[j][b]·cmsB[j][b] (Cormode &
    // Muthukrishnan §4.2; collisions only ADD, so est ≥ exact always —
    // PropertySpec-grade guarantee, asserted in Round17OpsSpec). Here:
    // how many (view, purchase) same-user pairs would a user_id join of
    // the two event streams produce, est vs exact vs rel_err.
    //
    // Scale shape — the reason this exists at 100 TB: the two sketch
    // builds are d54's substrate (Sketches.cmsCells — one narrow pass
    // each folding onto the FIXED 3×64-cell domain with map-side partial
    // sums, streaming-maintainable), the inner product is a 192-row
    // join, and the answer arrives WITHOUT shuffling either fact table
    // by key. The exact side (degree-table join) is fixture-scale ground
    // truth, the same eval-only role as d54's top-20.
    //
    // Exactness: integer counts end-to-end; cell and degree products
    // widen to DECIMAL(19,0)² → DECIMAL(38,0) sums (no int64 overflow at
    // any scale), cast to double only in the output; rel_err guards the
    // empty-side zero with nullif (the d62 rule).
    GraftQuery(
      "q45_join_size_cms",
      (s, d) => {
        import graft.operators.Sketches
        val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
        def side(t: String) = ev.filter(col("event_type") === t)
          .select(col("user_id").cast("string").as("term"))
        val ca = Sketches.cmsCells(side("view"), "term")
          .withColumnRenamed("cnt", "ca")
        val cb = Sketches.cmsCells(side("purchase"), "term")
          .withColumnRenamed("cnt", "cb")
        val est = ca.join(cb, Seq("j", "b"))
          .groupBy(col("j"))
          .agg(sum(col("ca").cast("decimal(19,0)") *
            col("cb").cast("decimal(19,0)")).as("ipd"))
          .agg(min(col("ipd")).as("est_p"))
        def degrees(t: String, n: String) =
          ev.filter(col("event_type") === t)
            .groupBy(col("user_id")).agg(count(lit(1)).as(n))
        val exact = degrees("view", "na")
          .join(degrees("purchase", "nb"), Seq("user_id"))
          .agg(sum(col("na").cast("decimal(19,0)") *
            col("nb").cast("decimal(19,0)")).as("exact_p"))
        est.crossJoin(exact)
          .select(col("est_p").cast("double").as("est_pairs"),
            col("exact_p").cast("double").as("exact_pairs"),
            expr("""round((cast(est_p as double) - cast(exact_p as double))
              / nullif(cast(exact_p as double), cast(0 as double)), 6)""")
              .as("rel_err"))
      },
      Some("""WITH a AS (SELECT CAST(user_id AS VARCHAR) AS term
          FROM events WHERE user_id IS NOT NULL AND event_type = 'view'),
        b2 AS (SELECT CAST(user_id AS VARCHAR) AS term
          FROM events WHERE user_id IS NOT NULL AND event_type = 'purchase'),
        ca AS (SELECT jj.j,
            CAST('0x' || substr(md5(jj.j || ':' || term), 1, 4) AS BIGINT)
              % 64 AS b, COUNT(*) AS ca
          FROM a, (SELECT unnest(range(0, 3)) AS j) jj GROUP BY 1, 2),
        cb AS (SELECT jj.j,
            CAST('0x' || substr(md5(jj.j || ':' || term), 1, 4) AS BIGINT)
              % 64 AS b, COUNT(*) AS cb
          FROM b2, (SELECT unnest(range(0, 3)) AS j) jj GROUP BY 1, 2),
        ip AS (SELECT ca.j, SUM(CAST(ca.ca AS DECIMAL(19,0))
            * CAST(cb.cb AS DECIMAL(19,0))) AS ipd
          FROM ca JOIN cb ON ca.j = cb.j AND ca.b = cb.b GROUP BY 1),
        est AS (SELECT MIN(ipd) AS est_p FROM ip),
        da AS (SELECT user_id, COUNT(*) AS na FROM events
          WHERE user_id IS NOT NULL AND event_type = 'view' GROUP BY 1),
        db AS (SELECT user_id, COUNT(*) AS nb FROM events
          WHERE user_id IS NOT NULL AND event_type = 'purchase' GROUP BY 1),
        ex AS (SELECT SUM(CAST(na AS DECIMAL(19,0))
            * CAST(nb AS DECIMAL(19,0))) AS exact_p
          FROM da JOIN db ON da.user_id = db.user_id)
        SELECT CAST(est_p AS DOUBLE) AS est_pairs,
          CAST(exact_p AS DOUBLE) AS exact_pairs,
          round((CAST(est_p AS DOUBLE) - CAST(exact_p AS DOUBLE))
            / NULLIF(CAST(exact_p AS DOUBLE), CAST(0 AS DOUBLE)), 6)
            AS rel_err
        FROM est, ex""")),

    // ---- multi-touch attribution (first / last / linear) -----------------
    // The attribution-model family over q20's interval join: purchases
    // credit the clicks in their 7-DAY lookback window (the standard
    // attribution horizon; q20's 1-hour window is too tight to ever see
    // a multi-click purchase on these fixtures — 7 days yields ~1.4k of
    // them at sf0.01, so the three models measurably disagree and the
    // oracle hash actually pins the rank logic), under the three
    // standard models AT ONCE — first-touch (earliest click takes the
    // full purchase value), last-touch (latest click takes it), linear
    // (value splits 1/n across the n clicks) — rolled up by CLICK day,
    // the report a marketing pipeline publishes. One pass answers "do
    // the models disagree" (when they do, the click → purchase lag
    // structure matters and the attribution choice is material).
    //
    // Scale shape: candidate pairs come from TemporalJoins.rangeJoin
    // (bucketed equi-join on (user, hour-bucket) — never an inequality
    // cross join); the pair count, first-rank, and last-rank are THREE
    // windows on ONE purchase-id exchange (same-key stacking, the e23
    // rule); the day rollup is a second, calendar-bounded exchange.
    //
    // Exactness: ranks tie on click event_id both directions; credited
    // values sum as DECIMAL(18,6); the linear share rounds value/n to
    // 6 dp per pair BEFORE the decimal sum (the e12 recipe — the
    // division is the same double op both engines); day index is exact
    // µs floor-division (q42's rule).
    GraftQuery(
      "q46_attribution_models",
      (s, d) => {
        import graft.operators.TemporalJoins
        val ev = Tables.events(s, d)
        val purchases = ev
          .filter(col("event_type") === "purchase" && col("value").isNotNull)
          .select(col("event_id"), col("user_id"),
            expr("ts div 1000").as("ts_us"), col("value"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"),
            expr("ts div 1000").as("ts_us"))
        // pid/cid/ctsu are projected to REAL columns before the windows:
        // partitioning three windows by the struct field l.event_id makes
        // Catalyst alias the extraction per window (_w0#i) and re-shuffle
        // each one — as attributes, all three share ONE exchange
        // (plan-pinned).
        val byPurchase = Window.partitionBy(col("pid"))
        val dec6 = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,6)")
        TemporalJoins.rangeJoin(purchases, clicks, "user_id", "ts_us",
            "ts_us", lowOffset = -604800000000L, highOffset = 0L)
          .select(col("l.event_id").as("pid"), col("l.value").as("value"),
            col("r.event_id").as("cid"), col("r.ts_us").as("ctsu"))
          .withColumn("n", count(lit(1)).over(byPurchase))
          .withColumn("rn_f", row_number().over(byPurchase
            .orderBy(col("ctsu").asc, col("cid").asc)))
          .withColumn("rn_l", row_number().over(byPurchase
            .orderBy(col("ctsu").desc, col("cid").desc)))
          .groupBy(floorDiv(col("ctsu"), 86400000000L).as("click_day"))
          .agg(
            coalesce(sum(when(col("rn_f") === 1, dec6(col("value"))))
              .cast("double"), lit(0.0)).as("first_touch"),
            coalesce(sum(when(col("rn_l") === 1, dec6(col("value"))))
              .cast("double"), lit(0.0)).as("last_touch"),
            sum(round(col("value") / col("n").cast("double"), 6)
              .cast("decimal(18,6)")).cast("double").as("linear_touch"),
            count(lit(1)).as("n_pairs"))
      },
      Some("""WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS tsu,
            value FROM events
          WHERE event_type = 'purchase' AND value IS NOT NULL),
        c AS (SELECT event_id, user_id, epoch_us(ts) AS tsu FROM events
          WHERE event_type = 'click'),
        pr AS (SELECT p.event_id AS pid, p.value, c.event_id AS cid,
            c.tsu AS ctsu
          FROM p JOIN c ON p.user_id = c.user_id
            AND c.tsu BETWEEN p.tsu - 604800000000 AND p.tsu),
        w AS (SELECT *, COUNT(*) OVER (PARTITION BY pid) AS n,
            row_number() OVER (PARTITION BY pid
              ORDER BY ctsu ASC, cid ASC) AS rn_f,
            row_number() OVER (PARTITION BY pid
              ORDER BY ctsu DESC, cid DESC) AS rn_l
          FROM pr)
        SELECT ctsu // 86400000000 AS click_day,
          COALESCE(CAST(SUM(CASE WHEN rn_f = 1
            THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE), 0.0)
            AS first_touch,
          COALESCE(CAST(SUM(CASE WHEN rn_l = 1
            THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE), 0.0)
            AS last_touch,
          CAST(SUM(CAST(round(value / CAST(n AS DOUBLE), 6)
            AS DECIMAL(18,6))) AS DOUBLE) AS linear_touch,
          COUNT(*) AS n_pairs
        FROM w GROUP BY 1""")),

    // ---- DAU / WAU stickiness (rolling distinct-user engagement) ---------
    // The engagement ratio product teams track: per day, distinct daily
    // actives over distinct trailing-7-day actives. COUNT(DISTINCT) over
    // a sliding window doesn't exist as a window function in either
    // engine; the exact distributed form is COVERAGE EXPANSION — each
    // active (user, day) covers days d..d+6, dedup (user, covered_day),
    // count per covered day. That's a ≤7× blowup of the (user, day)
    // ACTIVITY table (already collapsed from raw events, users×days ≪
    // events), not of the fact table — the trick that keeps rolling
    // distinct counts exact at scale. (The sketch alternative is q41's
    // HLL register merge over day windows; this is the exact side.)
    //
    // Scale shape: events collapse to distinct (user, day) with map-side
    // partials BEHIND a Checkpoints.barrier — both consumers (DAU and
    // the coverage expansion) read the materialized activity table, so
    // the fact table is scanned once (the q44 rule); the ×7 coverage
    // explode + dedup + count are all activity-table-sized; DAU joins
    // WAU on the calendar-bounded day key. The stickiness ratio divides
    // exact int64s, 6-dp rounded.
    GraftQuery(
      "q47_dau_wau",
      (s, d) => {
        val active = graft.operators.Checkpoints.barrier(
          Tables.events(s, d)
            .filter(col("user_id").isNotNull)
            .select(col("user_id"),
              floorDiv(col("ts"), 86400L * 1000 * 1000 * 1000).as("day"))
            .distinct())
        val dau = active.groupBy(col("day"))
          .agg(count(lit(1)).as("dau"))
        val wau = active
          .select(col("user_id"),
            explode(sequence(col("day"), col("day") + 6)).as("day"))
          .distinct()
          .groupBy(col("day")).agg(count(lit(1)).as("wau"))
        dau.join(wau, Seq("day"))
          .select(col("day"), col("dau"), col("wau"),
            round(col("dau").cast("double") / col("wau").cast("double"), 6)
              .as("stickiness"))
      },
      Some("""WITH active AS (SELECT DISTINCT user_id,
            epoch_ns(ts) // 86400000000000 AS day
          FROM events WHERE user_id IS NOT NULL),
        dau AS (SELECT day, COUNT(*) AS dau FROM active GROUP BY 1),
        cov AS (SELECT DISTINCT user_id,
            day + unnest(range(0, 7)) AS day FROM active),
        wau AS (SELECT day, COUNT(*) AS wau FROM cov GROUP BY 1)
        SELECT d.day, d.dau, w.wau,
          round(CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE), 6)
            AS stickiness
        FROM dau d JOIN wau w ON d.day = w.day""")),

    // ---- session-scoped conversion funnel --------------------------------
    // q24 measures the funnel per USER over all time; the sharper product
    // question is per SESSION — did the view convert within the same
    // visit? Composes q43's session identity (gap flag → running-sum
    // index) with q24's chained conditional-min funnel, rescoped to
    // (user, session): first view, first click at-or-after it, first
    // purchase at-or-after that, all inside one session. Output: sessions
    // per funnel stage — the conversion report whose q24 ratio tells you
    // how much conversion happens across visits vs within one.
    //
    // Scale shape: STILL one user_id exchange — the two session windows
    // sort by (ts, event_id); the three funnel mins partition by
    // (user_id, session_idx), which hash-partitioning on user_id already
    // clusters (the q43 partial-key rule), so Catalyst adds sorts, never
    // a second shuffle. The stage rollup is a 4-value-key partial agg.
    // NULL chaining orders the funnel exactly as q24 documents.
    GraftQuery(
      "q48_session_funnel",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        val bySession = Window.partitionBy(col("user_id"), col("session_idx"))
        Tables.events(s, d)
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .withColumn("new_session",
            when(col("prev_ts").isNull ||
              col("ts") - col("prev_ts") > 1800000000000L, 1L).otherwise(0L))
          .withColumn("session_idx",
            sum(col("new_session")).over(w.rowsBetween(
              Window.unboundedPreceding, Window.currentRow)))
          .withColumn("v_ts",
            min(when(col("event_type") === "view", col("ts")))
              .over(bySession))
          .withColumn("c_ts",
            min(when(col("event_type") === "click" &&
              col("ts") >= col("v_ts"), col("ts"))).over(bySession))
          .withColumn("p_ts",
            min(when(col("event_type") === "purchase" &&
              col("ts") >= col("c_ts"), col("ts"))).over(bySession))
          .select(col("user_id"), col("session_idx"),
            when(col("p_ts").isNotNull, 3L)
              .when(col("c_ts").isNotNull, 2L)
              .when(col("v_ts").isNotNull, 1L)
              .otherwise(0L).as("stage"))
          .distinct()
          .groupBy(col("stage"))
          .agg(count(lit(1)).as("n_sessions"))
      },
      Some("""WITH w AS (SELECT user_id, event_id, event_type,
            epoch_ns(ts) AS ts_ns,
            lag(epoch_ns(ts), 1) OVER (PARTITION BY user_id
              ORDER BY epoch_ns(ts) ASC, event_id ASC) AS prev_ts
          FROM events),
        f AS (SELECT *, CASE WHEN prev_ts IS NULL
            OR ts_ns - prev_ts > 1800000000000 THEN 1 ELSE 0 END AS ns
          FROM w),
        sx AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id
            ORDER BY ts_ns ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM f),
        w1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts_ns END)
            OVER (PARTITION BY user_id, sid) AS v_ts FROM sx),
        w2 AS (SELECT *, min(CASE WHEN event_type = 'click'
              AND ts_ns >= v_ts THEN ts_ns END)
            OVER (PARTITION BY user_id, sid) AS c_ts FROM w1),
        w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase'
              AND ts_ns >= c_ts THEN ts_ns END)
            OVER (PARTITION BY user_id, sid) AS p_ts FROM w2),
        st AS (SELECT DISTINCT user_id, sid,
            CASE WHEN p_ts IS NOT NULL THEN 3
              WHEN c_ts IS NOT NULL THEN 2
              WHEN v_ts IS NOT NULL THEN 1
              ELSE 0 END AS stage
          FROM w3)
        SELECT CAST(stage AS BIGINT) AS stage, COUNT(*) AS n_sessions
        FROM st GROUP BY stage""")),

    // ---- spend concentration: per-segment Gini + top-decile share --------
    // The inequality profile of customer value (q27 bins spend into
    // deciles; this reduces the whole distribution to the two scalars a
    // revenue-risk dashboard tracks): exact Gini coefficient of customer
    // spend within each market segment — G = 2·Σᵢ i·xᵢ / (n·Σx) −
    // (n+1)/n over ascending-ranked spends — and the revenue share of
    // the top spend decile. G ≈ 0 means broad-based revenue, G → 1
    // means a whale-dependent segment (churn of a few accounts moves
    // the number).
    //
    // Scale shape: the fact table collapses to per-customer totals under
    // map-side partial agg FIRST (one custkey exchange), joins the
    // customer dim for segment, and the rank runs per segment over that
    // CUSTOMER-sized frame — never over raw orders (the q27 rule). The
    // final per-segment fold reuses the window's segment clustering, so
    // rank + count + fold ride ONE segment exchange. At 100 TB the
    // per-segment sort over customers is the inherent price of an exact
    // Gini; the relaxation is quantile-binned Lorenz (q27's deciles)
    // when customers-per-segment outgrow a sort budget.
    //
    // Exactness: spends and the rank-weighted sum Σ i·xᵢ stay
    // DECIMAL end-to-end (rank as DECIMAL(18,0) × spend DECIMAL(18,2) —
    // exact, order-free); the Gini formula runs on doubles cast from
    // those exact sums in ONE op order, rounded at 6 dp; the top-decile
    // membership rk > n − n div 10 is pure int64 arithmetic.
    GraftQuery(
      "q49_spend_gini",
      (s, d) => {
        val spend = Tables.orders(s, d)
          .groupBy(col("o_custkey"))
          .agg(sum(dec(col("o_totalprice"))).as("spend"))
        val seg = spend.join(
          Tables.customer(s, d).select(col("c_custkey").as("o_custkey"),
            col("c_mktsegment").as("segment")),
          Seq("o_custkey"))
        val w = Window.partitionBy(col("segment"))
        seg
          .withColumn("rk", row_number().over(
            w.orderBy(col("spend").asc, col("o_custkey").asc)).cast("bigint"))
          .withColumn("n", count(lit(1)).over(w))
          .groupBy(col("segment"))
          .agg(count(lit(1)).as("n_customers"),
            sum(col("spend")).as("s_dec"),
            sum(col("rk").cast("decimal(18,0)") * col("spend")).as("t_dec"),
            sum(when(col("rk") > expr("n - n div 10"), col("spend")))
              .as("top_dec"))
          .select(col("segment"), col("n_customers"),
            col("s_dec").cast("double").as("total_spend"),
            round(lit(2.0) * col("t_dec").cast("double")
              / (col("n_customers").cast("double")
                * col("s_dec").cast("double"))
              - (col("n_customers").cast("double") + lit(1.0))
                / col("n_customers").cast("double"), 6).as("gini"),
            round(coalesce(col("top_dec"), lit(0).cast("decimal(18,2)"))
              .cast("double") / col("s_dec").cast("double"), 6)
              .as("top10_share"))
      },
      Some("""WITH spend AS (SELECT o_custkey,
            SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
          FROM orders GROUP BY 1),
        seg AS (SELECT s.o_custkey, s.spend, c.c_mktsegment AS segment
          FROM spend s JOIN customer c ON c.c_custkey = s.o_custkey),
        r AS (SELECT segment, spend, o_custkey,
            CAST(row_number() OVER (PARTITION BY segment
              ORDER BY spend ASC, o_custkey ASC) AS BIGINT) AS rk,
            CAST(COUNT(*) OVER (PARTITION BY segment) AS BIGINT) AS n
          FROM seg),
        a AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_customers,
            SUM(spend) AS s_dec,
            SUM(CAST(rk AS DECIMAL(18,0)) * spend) AS t_dec,
            SUM(CASE WHEN rk > n - n // 10 THEN spend END) AS top_dec
          FROM r GROUP BY 1)
        SELECT segment, n_customers, CAST(s_dec AS DOUBLE) AS total_spend,
          round(2.0 * CAST(t_dec AS DOUBLE)
            / (CAST(n_customers AS DOUBLE) * CAST(s_dec AS DOUBLE))
            - (CAST(n_customers AS DOUBLE) + 1.0)
              / CAST(n_customers AS DOUBLE), 6) AS gini,
          round(CAST(COALESCE(top_dec, 0) AS DOUBLE)
            / CAST(s_dec AS DOUBLE), 6) AS top10_share
        FROM a""")),

    // ---- RFM segmentation: recency / frequency / monetary quintiles ------
    // The classic customer-scoring table (every CRM/churn model's input):
    // per customer, last order date, order count, and lifetime spend,
    // each scored 1-5 by population quintile (5 = best), plus the
    // combined RFM cell (r·100 + f·10 + m — '555' is the
    // retain-at-all-costs corner). Quintile = rank arithmetic
    // 5 − (rn−1)·5 div n over an explicit total order — NOT ntile(),
    // whose remainder-distribution rule differs subtly across engines;
    // the arithmetic form is engine-exact and identical to q27's decile
    // rule.
    //
    // Scale shape: the fact table collapses to per-customer totals under
    // map-side partial agg, then each of the three exact global rankings
    // is a GlobalRank pass (range-partitioned sort + partition-offset
    // indexing — never q27's single-partition window trap). Three sorts
    // of the CUSTOMER-sized frame is the honest price of exact
    // population quintiles on three independent axes; the 100 TB
    // relaxation is approx-quantile thresholds per axis (one fixed-size
    // sketch each) when the customer table outgrows the sort budget.
    //
    // Exactness: dates/counts/decimal sums are exact; ranks are
    // integers; every score is pure int64 arithmetic on them. The N
    // scalar is one count job on the customer frame (the q27 pattern).
    GraftQuery(
      "q50_rfm_scores",
      (s, d) => {
        val rfm = Tables.orders(s, d)
          .groupBy(col("o_custkey"))
          .agg(max(col("o_orderdate").cast("date")).as("last_order"),
            count(lit(1)).as("frequency"),
            sum(dec(col("o_totalprice"))).as("monetary"))
        val n = math.max(rfm.count(), 1L)
        def score(df: org.apache.spark.sql.DataFrame,
            sort: Seq[org.apache.spark.sql.Column], name: String) =
          GlobalRank.withRowNumber(df, sort, "rn_tmp")
            .withColumn(name,
              lit(5L) - floorDiv((col("rn_tmp") - 1L) * 5L, n))
            .drop("rn_tmp")
        val scored = score(score(score(rfm,
            Seq(col("last_order").desc, col("o_custkey").asc), "r_score"),
            Seq(col("frequency").desc, col("o_custkey").asc), "f_score"),
            Seq(col("monetary").desc, col("o_custkey").asc), "m_score")
        scored.select(col("o_custkey"),
          date_format(col("last_order"), "yyyy-MM-dd").as("last_order"),
          col("frequency"), col("monetary").cast("double").as("monetary"),
          col("r_score"), col("f_score"), col("m_score"),
          (col("r_score") * 100L + col("f_score") * 10L + col("m_score"))
            .as("rfm_cell"))
      },
      Some("""WITH rfm AS (SELECT o_custkey,
            MAX(CAST(o_orderdate AS DATE)) AS last_order,
            CAST(COUNT(*) AS BIGINT) AS frequency,
            SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
          FROM orders GROUP BY 1),
        nn AS (SELECT greatest(CAST(COUNT(*) AS BIGINT), 1) AS n FROM rfm),
        r AS (SELECT rfm.*,
            CAST(row_number() OVER (ORDER BY last_order DESC, o_custkey ASC)
              AS BIGINT) AS rn_r,
            CAST(row_number() OVER (ORDER BY frequency DESC, o_custkey ASC)
              AS BIGINT) AS rn_f,
            CAST(row_number() OVER (ORDER BY monetary DESC, o_custkey ASC)
              AS BIGINT) AS rn_m
          FROM rfm),
        sc AS (SELECT o_custkey, last_order, frequency, monetary,
            5 - (rn_r - 1) * 5 // n AS r_score,
            5 - (rn_f - 1) * 5 // n AS f_score,
            5 - (rn_m - 1) * 5 // n AS m_score
          FROM r, nn)
        SELECT o_custkey, strftime(last_order, '%Y-%m-%d') AS last_order,
          frequency, CAST(monetary AS DOUBLE) AS monetary,
          CAST(r_score AS BIGINT) AS r_score,
          CAST(f_score AS BIGINT) AS f_score,
          CAST(m_score AS BIGINT) AS m_score,
          CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS rfm_cell
        FROM sc""")),

    // ---- co-purchase lift: brand association rules -----------------------
    // The market-basket family (nothing else in the matrix covers
    // association mining): for every brand pair bought together in ≥ 3
    // orders, support n_ab/N and lift n_ab·N/(n_a·n_b) — lift > 1 means
    // the pair co-occurs more than independence predicts (bundle/
    // cross-sell signal), < 1 means substitution.
    //
    // Scale shape: the basket frame collapses to DISTINCT (order, brand)
    // first — map-side, and bounded per order by the BRAND domain (~25),
    // not by line items. Pairs come from per-order sorted brand sets
    // (collect_set bounded by that domain — never a hot-key hazard, the
    // d63 srcSets pattern) exploded to ≤ C(25,2) combos and folded onto
    // the ≤ 300-row pair domain; marginals and the N scalar derive from
    // the SAME distinct frame (one corpus-sized lineage, everything
    // after it domain-bounded) and broadcast back onto the pair table.
    //
    // Exactness: all counts are exact distinct-order int64s; support and
    // lift divide them as doubles in one op order, rounded at 6 dp.
    GraftQuery(
      "q51_copurchase_lift",
      (s, d) => {
        val ob = Tables.lineitem(s, d)
          .join(Tables.part(s, d).select(col("p_partkey").as("l_partkey"),
            col("p_brand")), Seq("l_partkey"))
          .select(col("l_orderkey"), col("p_brand"))
        // Basket barrier (round 21): tot, marg and pairs all consume the
        // basket frame, and without it each re-ran the lineitem ⋈ part ⋈
        // distinct lineage (differently-pruned columns defeat
        // ReuseExchange, the round-18 rule — measured as EIGHT parquet
        // scans / 8 exchanges in the r21 plan audit). The materialized
        // frame is one row per order with a ≤|brand-domain| array —
        // linear in orders, far smaller than the line-item input at any
        // scale. tot = basket count and marg = the exploded per-brand
        // fold are DERIVED from it (same values as the distinct frame:
        // every ob order has ≥ 1 basket row, and the sets are exactly
        // its distinct brands). Measured 7.45 s → ~2.5 s at sf0.1.
        // No .distinct() on ob: collect_set dedups per order already, so
        // the (orderkey, brand) pre-exchange + dedup pass bought nothing
        // — one full-lineage Exchange fewer (locally flat, 1.92 → 1.90 s
        // isolated; at scale the removed shuffle is fact-volume). The
        // per-order partial-agg set stays bounded by the brand domain
        // (~25) either way, so map-side state is unchanged.
        val baskets = graft.operators.Checkpoints.barrier(
          ob.groupBy(col("l_orderkey"))
            .agg(sort_array(collect_set(col("p_brand"))).as("bs")))
        val tot = baskets.agg(count(lit(1)).cast("bigint").as("n"))
        val marg = baskets.select(explode(col("bs")).as("p_brand"))
          .groupBy(col("p_brand")).agg(count(lit(1)).as("cnt"))
        val pairs = NearDup.pairsWithinBuckets(
            baskets.select(col("bs").as("docs")))
          .groupBy(col("a").as("brand_a"), col("b").as("brand_b"))
          .agg(count(lit(1)).as("n_ab"))
          .filter(col("n_ab") >= 3)
        pairs
          .join(broadcast(marg.select(col("p_brand").as("brand_a"),
            col("cnt").as("n_a"))), Seq("brand_a"))
          .join(broadcast(marg.select(col("p_brand").as("brand_b"),
            col("cnt").as("n_b"))), Seq("brand_b"))
          .crossJoin(broadcast(tot))
          .select(col("brand_a"), col("brand_b"), col("n_ab"),
            col("n_a"), col("n_b"),
            round(col("n_ab").cast("double") / col("n").cast("double"), 6)
              .as("support"),
            round(col("n_ab").cast("double") * col("n").cast("double")
              / (col("n_a").cast("double") * col("n_b").cast("double")), 6)
              .as("lift"))
      },
      Some("""WITH ob AS (SELECT DISTINCT l.l_orderkey, p.p_brand
          FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
        tot AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n
          FROM ob),
        m AS (SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS cnt FROM ob
          GROUP BY 1),
        pr AS (SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
            CAST(COUNT(*) AS BIGINT) AS n_ab
          FROM ob a JOIN ob b
            ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
          GROUP BY 1, 2)
        SELECT brand_a, brand_b, n_ab, ma.cnt AS n_a, mb.cnt AS n_b,
          round(CAST(n_ab AS DOUBLE) / CAST(t.n AS DOUBLE), 6) AS support,
          round(CAST(n_ab AS DOUBLE) * CAST(t.n AS DOUBLE)
            / (CAST(ma.cnt AS DOUBLE) * CAST(mb.cnt AS DOUBLE)), 6) AS lift
        FROM pr JOIN m ma ON pr.brand_a = ma.p_brand
          JOIN m mb ON pr.brand_b = mb.p_brand, tot t
        WHERE n_ab >= 3""")),

    // ---- day-of-week seasonality indices (time-series decomposition) -----
    // The first step of any seasonal decomposition (the family q28's
    // trailing window and q44's gap-fill don't cover): per weekday, the
    // mean daily revenue relative to the overall mean daily revenue —
    // index > 1 marks the heavy days; a forecaster divides by it to
    // deseasonalize, a capacity planner staffs by it. Weekday is
    // computed ARITHMETICALLY (epoch-day mod 7, class 0 ≡ Thursday
    // 1970-01-01) — never an engine's dayofweek(), whose 0-vs-1-based
    // Sunday convention differs across engines.
    //
    // Scale shape: the fact table collapses to per-day decimal revenue
    // under map-side partial agg (the q28 move), the 7-class rollup
    // collapses the calendar, and the overall-mean windows run on ≤ 7
    // rows. One calendar-bounded lineage after the first groupBy.
    //
    // Exactness: day/class revenue stays decimal; means divide exact
    // decimal-cast doubles by exact counts in ONE op order; the index
    // divides the two means in the same order, 6-dp rounded.
    GraftQuery(
      "q52_dow_seasonality",
      (s, d) => {
        val w = Window.partitionBy(lit(1))
        Tables.orders(s, d)
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(sum(dec(col("o_totalprice"))).as("rev"))
          .withColumn("dow_idx",
            pmod(datediff(col("day"), lit("1970-01-01").cast("date")), lit(7))
              .cast("bigint"))
          .groupBy(col("dow_idx"))
          .agg(count(lit(1)).as("n_days"), sum(col("rev")).as("rev_dec"))
          .withColumn("tot_rev", sum(col("rev_dec")).over(w))
          .withColumn("tot_days", sum(col("n_days")).over(w))
          .withColumn("mean_rev", round(col("rev_dec").cast("double")
            / col("n_days").cast("double"), 6))
          .withColumn("seasonal_index",
            round((col("rev_dec").cast("double") / col("n_days").cast("double"))
              / (col("tot_rev").cast("double") / col("tot_days").cast("double")),
              6))
          .select(col("dow_idx"), col("n_days"),
            col("rev_dec").cast("double").as("total_rev"),
            col("mean_rev"), col("seasonal_index"))
      },
      Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
            SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
          FROM orders GROUP BY 1),
        cls AS (SELECT ((day - DATE '1970-01-01') % 7 + 7) % 7 AS dow_idx,
            rev FROM daily),
        g AS (SELECT CAST(dow_idx AS BIGINT) AS dow_idx,
            CAST(COUNT(*) AS BIGINT) AS n_days,
            SUM(rev) AS rev_dec
          FROM cls GROUP BY 1),
        t AS (SELECT *,
            CAST(SUM(rev_dec) OVER () AS DECIMAL(38,2)) AS tot_rev,
            CAST(SUM(n_days) OVER () AS BIGINT) AS tot_days FROM g)
        SELECT dow_idx, n_days, CAST(rev_dec AS DOUBLE) AS total_rev,
          round(CAST(rev_dec AS DOUBLE) / CAST(n_days AS DOUBLE), 6)
            AS mean_rev,
          round((CAST(rev_dec AS DOUBLE) / CAST(n_days AS DOUBLE))
            / (CAST(tot_rev AS DOUBLE) / CAST(tot_days AS DOUBLE)), 6)
            AS seasonal_index
        FROM t""")),

    // ---- A/B conversion test: two-proportion pooled z ---------------------
    // The experimentation-analytics primitive (hypothesis testing —
    // d69's χ² audits a contingency GRID; this is the two-arm decision
    // statistic an experiment readout runs): users split into arms by id
    // parity (the deterministic stand-in for an assignment table),
    // conversion = the user made a HIGH-VALUE purchase (value ≥ 150;
    // plain "any purchase" saturates at 100% on the dense fixture and
    // zeroes the pooled variance — the degenerate-p guard below also
    // NULLs z rather than divide by zero in either engine); per-arm
    // sizes/conversions/rates, the absolute and relative lift, and the
    // pooled two-proportion z — |z| > 1.96 is the classic 95% call. On
    // the fixture the arms are exchangeable by construction, so z must
    // sit well inside the null band (spec-pinned, like e29's no-drift
    // pin).
    //
    // Scale shape: ONE fact scan folds per-user conversion flags
    // map-side onto the user domain (conditional max), then onto the
    // 2-row arm domain; the z arithmetic and windows run on 2 rows.
    //
    // Exactness: counts are exact int64; rates/z divide exact doubles in
    // ONE op order with sqrt (IEEE correctly-rounded), 6-dp rounded; the
    // degenerate empty-arm case nulls out via nullif-style guards in
    // both engines.
    GraftQuery(
      "q53_ab_conversion_z",
      (s, d) => {
        val w = Window.partitionBy(lit(1))
        val users = Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(max(when(col("event_type") === "purchase" &&
              col("value") >= 150.0, 1L).otherwise(0L))
            .as("converted"))
          .select(pmod(col("user_id"), lit(2)).cast("bigint").as("arm"),
            col("converted"))
        users.groupBy(col("arm"))
          .agg(count(lit(1)).as("n_users"),
            sum(col("converted")).as("n_converted"))
          .withColumn("rate",
            round(col("n_converted").cast("double")
              / col("n_users").cast("double"), 6))
          .withColumn("p_pool",
            sum(col("n_converted")).over(w).cast("double")
              / sum(col("n_users")).over(w).cast("double"))
          .withColumn("n_other",
            (sum(col("n_users")).over(w) - col("n_users")).cast("double"))
          .withColumn("r_other",
            (sum(col("n_converted")).over(w) - col("n_converted"))
              .cast("double") / col("n_other"))
          .withColumn("z",
            when(col("p_pool") * (lit(1.0) - col("p_pool")) === 0.0,
              lit(null).cast("double"))
            .otherwise(round(
              (col("n_converted").cast("double") / col("n_users").cast("double")
                - col("r_other"))
              / sqrt(col("p_pool") * (lit(1.0) - col("p_pool"))
                * (lit(1.0) / col("n_users").cast("double")
                  + lit(1.0) / col("n_other"))), 6)))
          .select(col("arm"), col("n_users"), col("n_converted"),
            col("rate"), round(col("p_pool"), 6).as("pooled_rate"), col("z"))
      },
      Some("""WITH u AS (SELECT user_id,
            MAX(CASE WHEN event_type = 'purchase' AND value >= 150.0
              THEN 1 ELSE 0 END) AS converted
          FROM events GROUP BY 1),
        a AS (SELECT CAST(((user_id % 2) + 2) % 2 AS BIGINT) AS arm,
            converted FROM u),
        g AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
            CAST(SUM(converted) AS BIGINT) AS n_converted
          FROM a GROUP BY 1),
        t AS (SELECT *,
            CAST(CAST(SUM(n_converted) OVER () AS BIGINT) AS DOUBLE)
              / CAST(CAST(SUM(n_users) OVER () AS BIGINT) AS DOUBLE)
              AS p_pool,
            CAST(CAST(SUM(n_users) OVER () AS BIGINT) - n_users AS DOUBLE)
              AS n_other,
            CAST(CAST(SUM(n_converted) OVER () AS BIGINT) - n_converted
              AS DOUBLE) AS r_other_num
          FROM g)
        SELECT arm, n_users, n_converted,
          round(CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE), 6)
            AS rate,
          round(p_pool, 6) AS pooled_rate,
          CASE WHEN p_pool * (1.0 - p_pool) = 0.0 THEN NULL
            ELSE round((CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE)
                - r_other_num / n_other)
              / sqrt(p_pool * (1.0 - p_pool)
                * (1.0 / CAST(n_users AS DOUBLE) + 1.0 / n_other)), 6)
            END AS z
        FROM t""")),

    // ---- Benford first-digit audit -----------------------------------------
    // The forensic data-quality primitive: naturally occurring monetary
    // amounts follow Benford's law (P(d) = log10(1 + 1/d)); synthetic,
    // fabricated, or truncated feeds don't. Per leading digit of
    // o_totalprice: observed count/share, the Benford share, and the
    // corpus-wide χ² against the Benford expectation — the single scalar
    // an ingest monitor alarms on (the fixture's uniform generator is
    // intentionally NOT Benford-ish, so the χ² is large and pinned by
    // the oracle, not asserted small).
    //
    // Scale shape: ONE fact scan folds map-side onto the 9-digit domain;
    // the χ² window runs on 9 rows. The q42/q52 fixed-domain envelope.
    //
    // Exactness: digit extraction is integer/string (floor of a 2-dp
    // double < 2^53 is exact); counts are exact int64; the Benford share
    // is rounded to 6 dp FIRST so every downstream term consumes the
    // same 6-dp value in both engines; per-digit χ² terms round to 6 dp
    // and sum as exact decimals before the final double cast.
    GraftQuery(
      "q54_benford_digits",
      (s, d) => {
        val w = Window.partitionBy(lit(1))
        // shared substrate (operators/Sketches): the SAME ≤9-row frame
        // StatefulOpsSpec maintains as a streaming aggregation. The
        // observed counts FULL-join the fixed 1-9 domain: a digit with
        // ZERO observations is the loudest Benford violation and must
        // contribute its (0−E)²/E term — dropping absent digits would
        // understate χ² exactly on the most anomalous feeds. (Degenerate
        // sub-1 amounts produce digit 0, NULL amounts a NULL digit —
        // both outside the law's domain: kept as rows, excluded from the
        // χ² terms AND from the total via the same digit ≥ 1 guard, so
        // observed and expected masses reconcile on dirty feeds.)
        val domain = s.range(1, 10).select(col("id").as("digit"))
        graft.operators.Sketches
          .benfordDigits(Tables.orders(s, d), "o_totalprice")
          .withColumnRenamed("n", "n_orders")
          .join(domain, Seq("digit"), "full_outer")
          .select(col("digit"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"))
          .withColumn("total",
            sum(when(col("digit") >= 1L, col("n_orders")).otherwise(0L))
              .over(w))
          .withColumn("benford_share",
            when(col("digit") >= 1L,
              round(log10(lit(1.0) + lit(1.0) / col("digit").cast("double")),
                6)))
          .withColumn("exp_n",
            when(col("total") > 0L,
              col("total").cast("double") * col("benford_share")))
          .withColumn("chi2_term",
            round((col("n_orders").cast("double") - col("exp_n"))
              * (col("n_orders").cast("double") - col("exp_n"))
              / col("exp_n"), 6))
          .withColumn("chi2",
            sum(col("chi2_term").cast("decimal(18,6)")).over(w)
              .cast("double"))
          .select(col("digit"), col("n_orders"),
            when(col("total") > 0L, round(col("n_orders").cast("double")
              / col("total").cast("double"), 6)).as("share"),
            col("benford_share"), col("chi2_term"), col("chi2"))
      },
      Some("""WITH dg AS (SELECT CAST(substr(CAST(CAST(floor(abs(o_totalprice))
              AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
          FROM orders),
        g0 AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_orders
          FROM dg GROUP BY 1),
        dom AS (SELECT CAST(unnest(range(1, 10)) AS BIGINT) AS digit),
        g AS (SELECT COALESCE(g0.digit, dom.digit) AS digit,
            COALESCE(g0.n_orders, 0) AS n_orders
          FROM g0 FULL OUTER JOIN dom ON g0.digit = dom.digit),
        t AS (SELECT *, CAST(SUM(CASE WHEN digit >= 1 THEN n_orders
              ELSE 0 END) OVER () AS BIGINT) AS total,
            CASE WHEN digit >= 1 THEN
              round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) END
              AS benford_share
          FROM g),
        c AS (SELECT *, CASE WHEN total > 0 THEN
            CAST(total AS DOUBLE) * benford_share END AS exp_n
          FROM t),
        x AS (SELECT *,
            round((CAST(n_orders AS DOUBLE) - exp_n)
              * (CAST(n_orders AS DOUBLE) - exp_n) / exp_n, 6)
              AS chi2_term
          FROM c)
        SELECT digit, n_orders,
          CASE WHEN total > 0 THEN
            round(CAST(n_orders AS DOUBLE) / CAST(total AS DOUBLE), 6) END
            AS share,
          benford_share, chi2_term,
          CAST(SUM(CAST(chi2_term AS DECIMAL(18,6))) OVER () AS DOUBLE)
            AS chi2
        FROM x""")),

    // ---- CUSUM changepoint scan over daily revenue ------------------------
    // The level-shift detector a revenue/ingest monitor runs: the
    // cumulative sum of (day_rev − grand mean) drifts near zero under a
    // stable level and turns into a tent whose PEAK sits at the
    // changepoint when the level shifts (classic offline CUSUM; the
    // argmax is the single most likely break day). Per day: revenue, the
    // centered CUSUM, and an is_peak flag at the maximum |CUSUM|.
    //
    // Scale shape: groupBy(day) collapses the fact table map-side onto
    // the calendar domain (~365×years rows) BEFORE the ordered windows
    // run — the q28 envelope: the unpartitioned window is bounded by the
    // calendar, never by the fact table.
    //
    // Exactness: daily revenue and its running sum are exact decimals
    // (order-free); the centered CUSUM subtracts rn × mean in ONE double
    // op order, 6-dp rounded; the peak flag compares two identically
    // rounded doubles. NULL order dates are filtered pre-window in BOTH
    // engines (Spark sorts NULLs first, DuckDB last — an unfiltered NULL
    // day would shift every rn and diverge the series); the +0.0 folds
    // DuckDB's signed-zero round(-ε, 6) = -0.0 onto Spark's BigDecimal
    // +0.0 so a near-zero CUSUM hashes identically.
    GraftQuery(
      "q55_cusum_changepoint",
      (s, d) => {
        val w = Window.partitionBy(lit(1))
        val wo = Window.partitionBy(lit(1)).orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.orders(s, d)
          .filter(col("o_orderdate").isNotNull)
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(sum(dec(col("o_totalprice"))).as("rev"))
          .withColumn("cum", sum(col("rev")).over(wo))
          .withColumn("rn", row_number().over(
            Window.partitionBy(lit(1)).orderBy(col("day"))))
          .withColumn("tot", sum(col("rev")).over(w))
          .withColumn("nd", count(lit(1)).over(w))
          .withColumn("cusum",
            round(col("cum").cast("double") - col("rn").cast("double")
              * (col("tot").cast("double") / col("nd").cast("double")), 6)
              + lit(0.0))
          .withColumn("peak_abs", max(abs(col("cusum"))).over(w))
          .select(date_format(col("day"), "yyyy-MM-dd").as("order_date"),
            col("rev").cast("double").as("day_rev"), col("cusum"),
            (abs(col("cusum")) === col("peak_abs")).cast("int")
              .as("is_peak"))
      },
      Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
            SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
          FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
        c AS (SELECT *,
            SUM(rev) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS cum,
            row_number() OVER (ORDER BY day) AS rn,
            CAST(SUM(rev) OVER () AS DECIMAL(38,2)) AS tot,
            CAST(COUNT(*) OVER () AS BIGINT) AS nd
          FROM daily),
        x AS (SELECT *,
            round(CAST(cum AS DOUBLE) - CAST(rn AS DOUBLE)
              * (CAST(tot AS DOUBLE) / CAST(nd AS DOUBLE)), 6) + 0.0
              AS cusum
          FROM c)
        SELECT strftime(day, '%Y-%m-%d') AS order_date,
          CAST(rev AS DOUBLE) AS day_rev, cusum,
          CAST(CASE WHEN abs(cusum) = MAX(abs(cusum)) OVER ()
            THEN 1 ELSE 0 END AS INT) AS is_peak
        FROM x""")),

    // ---- repeat-order survival curve (empirical Kaplan-Meier) -------------
    // The retention-analytics primitive q25's cohort triangle doesn't
    // give: the DISTRIBUTION of time-to-next-order. Every consecutive
    // order pair contributes one fully observed gap (no censoring), so
    // the Kaplan-Meier estimator collapses EXACTLY to the empirical
    // survival function: S(w) = (at_risk(w) − events(w)) / total — an
    // exact integer rational, no hazard products, no ln/exp. Per
    // gap-week bucket (clamped at 52): events, at-risk count (gaps ≥ w
    // weeks), the discrete hazard, and S(w).
    //
    // Scale shape: the per-customer lead() window shuffles on custkey
    // (Spark's required partitioning for the order sequence), then folds
    // map-side onto the ≤53-week grid; the at-risk reverse-cumulative
    // window runs on that bounded grid. The q25/q43 envelope.
    //
    // Exactness: gaps/buckets are pure integer date arithmetic; all
    // counts int64; hazard and survival divide exact int64s in one
    // double op, 6-dp rounded.
    GraftQuery(
      "q56_order_gap_survival",
      (s, d) => {
        val wc = Window.partitionBy(col("o_custkey"))
          .orderBy(col("day"), col("o_orderkey"))
        val wr = Window.partitionBy(lit(1)).orderBy(col("wk").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val w = Window.partitionBy(lit(1))
        // NULL dates are dropped BEFORE the lead() window: Spark sorts a
        // NULL day first in the partition, so lead() would hand it a real
        // nxt, datediff(nxt, NULL) = NULL, and least(52, NULL) = 52 —
        // fabricating a 52-week gap event DuckDB (NULLS LAST) never sees.
        Tables.orders(s, d)
          .filter(col("o_orderdate").isNotNull)
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_orderdate").cast("date").as("day"))
          .withColumn("nxt", lead(col("day"), 1).over(wc))
          .filter(col("nxt").isNotNull)
          .select(least(lit(52L),
            floorDiv(datediff(col("nxt"), col("day")).cast("long"), 7L))
            .as("wk"))
          .groupBy(col("wk"))
          .agg(count(lit(1)).as("n_events"))
          .withColumn("n_at_risk", sum(col("n_events")).over(wr))
          .withColumn("total", sum(col("n_events")).over(w))
          .select(col("wk"), col("n_events"), col("n_at_risk"),
            round(col("n_events").cast("double")
              / col("n_at_risk").cast("double"), 6).as("hazard"),
            round((col("n_at_risk") - col("n_events")).cast("double")
              / col("total").cast("double"), 6).as("survival"))
      },
      Some("""WITH o AS (SELECT o_custkey, o_orderkey,
            CAST(o_orderdate AS DATE) AS day FROM orders
          WHERE o_orderdate IS NOT NULL),
        g AS (SELECT o_custkey, day,
            lead(day) OVER (PARTITION BY o_custkey
              ORDER BY day, o_orderkey) AS nxt
          FROM o),
        wk AS (SELECT least(52, date_diff('day', day, nxt) // 7) AS wk
          FROM g WHERE nxt IS NOT NULL),
        e AS (SELECT CAST(wk AS BIGINT) AS wk,
            CAST(COUNT(*) AS BIGINT) AS n_events FROM wk GROUP BY 1),
        t AS (SELECT *,
            CAST(SUM(n_events) OVER (ORDER BY wk DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS n_at_risk,
            CAST(SUM(n_events) OVER () AS BIGINT) AS total
          FROM e)
        SELECT wk, n_events, n_at_risk,
          round(CAST(n_events AS DOUBLE) / CAST(n_at_risk AS DOUBLE), 6)
            AS hazard,
          round(CAST(n_at_risk - n_events AS DOUBLE)
            / CAST(total AS DOUBLE), 6) AS survival
        FROM t""")),

    // ---- Theil inequality index of customer spend, per nation -------------
    // The concentration diagnostic q49's Gini complements: Theil's T is
    // ADDITIVELY DECOMPOSABLE (within-group + between-group), which is
    // why mixture audits prefer it — T = mean((x/μ)·ln(x/μ)) over
    // customers with orders, per nation. 0 = perfect equality,
    // ln(n) = one customer holds everything.
    //
    // Scale shape: one shuffle folds orders onto the customer domain;
    // nation stats collapse to a 25-row broadcast joined back (no second
    // fact shuffle); the final fold is map-side onto 25 nations. The
    // q49 envelope with a broadcast join-back instead of a sort.
    //
    // Exactness: spend is exact decimal; each customer's Theil term is
    // computed in ONE double op order (ratio · ln(ratio)), 6-dp rounded,
    // and summed as exact decimals; ln matches bit-for-bit across
    // engines on identical doubles (the d32 precedent).
    GraftQuery(
      "q57_theil_index",
      (s, d) => {
        val spend = Tables.orders(s, d)
          .groupBy(col("o_custkey"))
          .agg(sum(dec(col("o_totalprice"))).as("sp"))
        val cn = Tables.customer(s, d)
          .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
        val j = spend.join(cn, Seq("o_custkey"))
        val stats = j.groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_customers"), sum(col("sp")).as("tot"))
        j.join(broadcast(stats), Seq("c_nationkey"))
          .withColumn("ratio", col("sp").cast("double")
            / (col("tot").cast("double") / col("n_customers").cast("double")))
          .withColumn("term",
            round(col("ratio") * log(col("ratio")), 6)
              .cast("decimal(18,6)"))
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_customers"),
            (max(col("tot")).cast("double")
              / count(lit(1)).cast("double")).as("mean_spend_raw"),
            sum(col("term")).as("term_sum"))
          .join(broadcast(Tables.nation(s, d)),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("n_name"), col("n_customers"),
            round(col("mean_spend_raw"), 6).as("mean_spend"),
            round(col("term_sum").cast("double")
              / col("n_customers").cast("double"), 6).as("theil"))
      },
      Some("""WITH sp AS (SELECT o_custkey,
            SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sp
          FROM orders GROUP BY 1),
        j AS (SELECT c.c_nationkey, sp.sp FROM sp
          JOIN customer c ON sp.o_custkey = c.c_custkey),
        st AS (SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_customers,
            CAST(SUM(sp) AS DECIMAL(38,2)) AS tot
          FROM j GROUP BY 1),
        t AS (SELECT j.c_nationkey,
            CAST(round(
              (CAST(j.sp AS DOUBLE) / (CAST(st.tot AS DOUBLE)
                / CAST(st.n_customers AS DOUBLE)))
              * ln(CAST(j.sp AS DOUBLE) / (CAST(st.tot AS DOUBLE)
                / CAST(st.n_customers AS DOUBLE))), 6)
              AS DECIMAL(18,6)) AS term
          FROM j JOIN st USING (c_nationkey)),
        g AS (SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_customers,
            CAST(SUM(term) AS DECIMAL(38,6)) AS term_sum
          FROM t GROUP BY 1)
        SELECT n.n_name, g.n_customers,
          round(CAST(st.tot AS DOUBLE) / CAST(g.n_customers AS DOUBLE), 6)
            AS mean_spend,
          round(CAST(g.term_sum AS DOUBLE)
            / CAST(g.n_customers AS DOUBLE), 6) AS theil
        FROM g JOIN st USING (c_nationkey)
        JOIN nation n ON g.c_nationkey = n.n_nationkey""")),

    // ---- new vs returning customers per month ------------------------------
    // The growth readout q25's cohort triangle doesn't surface directly:
    // per calendar month, how many active customers are in their FIRST
    // month vs returning — the new/returning split every revenue review
    // opens with. Month key is arithmetic (year·12 + month−1), never an
    // engine-specific truncation.
    //
    // Scale shape: one fold onto the (custkey, month) activity domain
    // (map-side combinable), a custkey-domain min for the first month,
    // one custkey-partitioned join back (no broadcast needed — both
    // sides already live on the custkey partitioning), then a fold onto
    // the calendar-month grid. The q47 envelope.
    //
    // Exactness: month arithmetic and counts are exact integers; the
    // share divides exact int64s, 6-dp rounded.
    GraftQuery(
      "q58_new_vs_returning",
      (s, d) => {
        val act = Tables.orders(s, d)
          .select(col("o_custkey"),
            (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
              .cast("bigint").as("month_idx"))
          .groupBy(col("o_custkey"), col("month_idx"))
          .agg(count(lit(1)).as("n_orders"))
        val first = act.groupBy(col("o_custkey"))
          .agg(min(col("month_idx")).as("first_m"))
        act.join(first, Seq("o_custkey"))
          .groupBy(col("month_idx"))
          .agg(count(lit(1)).as("n_active"),
            sum(when(col("month_idx") === col("first_m"), 1L)
              .otherwise(0L)).as("n_new"),
            sum(col("n_orders")).as("n_orders"))
          .select(col("month_idx"), col("n_active"), col("n_new"),
            (col("n_active") - col("n_new")).as("n_returning"),
            col("n_orders"),
            round(col("n_new").cast("double")
              / col("n_active").cast("double"), 6).as("new_share"))
      },
      Some("""WITH act AS (SELECT o_custkey,
            CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
              AS month_idx,
            CAST(COUNT(*) AS BIGINT) AS n_orders
          FROM orders GROUP BY 1, 2),
        f AS (SELECT o_custkey, MIN(month_idx) AS first_m
          FROM act GROUP BY 1)
        SELECT month_idx,
          CAST(COUNT(*) AS BIGINT) AS n_active,
          CAST(SUM(CASE WHEN month_idx = first_m THEN 1 ELSE 0 END)
            AS BIGINT) AS n_new,
          CAST(COUNT(*) - SUM(CASE WHEN month_idx = first_m
            THEN 1 ELSE 0 END) AS BIGINT) AS n_returning,
          CAST(SUM(n_orders) AS BIGINT) AS n_orders,
          round(CAST(SUM(CASE WHEN month_idx = first_m THEN 1 ELSE 0 END)
              AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS new_share
        FROM act JOIN f USING (o_custkey)
        GROUP BY 1""")),

    // ---- robust daily-revenue outlier flags (median + MAD) -----------------
    // q55's CUSUM finds LEVEL SHIFTS; this finds POINT anomalies — the
    // other half of a revenue monitor. Robust z per day against the
    // median/MAD of the daily series (mean/stddev would let one spike
    // inflate its own yardstick); |z| > 3.5 is the classic flag. q29
    // runs this per GROUP over values; this runs it over the CALENDAR.
    //
    // Scale shape: the fact table folds map-side onto the day domain
    // first; both median rank passes and the z arithmetic run on that
    // calendar-bounded grid (the q28/q55 envelope), with the two 1-row
    // medians broadcast back.
    //
    // Exactness: daily revenue is an exact decimal cast to double once;
    // medians average the two middle ranks in one double op order; z
    // computes in one shared op order, 6-dp rounded, NULL-guarded when
    // MAD = 0 (a constant series has no yardstick — both engines).
    GraftQuery(
      "q59_daily_robust_outliers",
      (s, d) => {
        val w = Window.partitionBy(lit(1))
        // Averaged median as a WINDOW COLUMN on the (single, calendar-
        // bounded) partition: rank rows, then (value@⌈n/2⌉ + value@⌊n/2⌋+1)
        // / 2 via two min(when(rn = target)) window terms — the q29
        // joinless-median move on the unpartitioned frame. Values are
        // bit-identical to the old filter + 1-row-broadcast form (the
        // filtered min/max WERE the rank-lo/rank-hi values; same + and /
        // op order). This makes the chain LINEAR — daily → med → dev →
        // mad → projection, one fact scan, zero joins — where the old
        // branches needed a Checkpoints.barrier to avoid four re-folds
        // (r21 plan audit); the barrier job and both crossJoins go with
        // it (isolated two-pass min at sf0.1: 1.31 → 0.85 s).
        def withMedian(df: DataFrame, v: String, tie: String,
            out: String): DataFrame =
          df.withColumn("rn", row_number().over(Window.partitionBy(lit(1))
              .orderBy(col(v).asc, col(tie).asc)))
            .withColumn("n", count(lit(1)).over(w))
            .withColumn(out,
              ((min(when(col("rn") === expr("(n + 1) div 2"), col(v)))
                .over(w)
                + min(when(col("rn") === expr("(n + 2) div 2"), col(v)))
                  .over(w)) / 2.0))
            .drop("rn", "n")
        // NULL dates filtered pre-fold: a NULL day row would order first
        // in Spark's rank windows but last in DuckDB's, shifting both
        // median ranks (q55's divergence, same fix).
        val daily = Tables.orders(s, d)
          .filter(col("o_orderdate").isNotNull)
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(sum(dec(col("o_totalprice"))).cast("double").as("rev"))
        val withDev = withMedian(daily, "rev", "day", "med")
          .withColumn("dev", abs(col("rev") - col("med")))
        withMedian(withDev, "dev", "day", "mad")
          .withColumn("robust_z",
            when(col("mad") === 0.0, lit(null).cast("double"))
              .otherwise(round((col("rev") - col("med"))
                / (lit(1.4826) * col("mad")), 6) + lit(0.0)))
          .select(date_format(col("day"), "yyyy-MM-dd").as("order_date"),
            col("rev").as("day_rev"), round(col("med"), 6).as("median_rev"),
            col("robust_z"),
            coalesce((abs(col("robust_z")) > 3.5).cast("int"), lit(0))
              .as("is_outlier"))
      },
      Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
          FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
        r1 AS (SELECT *, row_number() OVER (ORDER BY rev ASC, day ASC)
            AS rn, CAST(COUNT(*) OVER () AS BIGINT) AS n FROM daily),
        med AS (SELECT (MIN(rev) + MAX(rev)) / 2.0 AS med FROM r1
          WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2),
        dv AS (SELECT day, rev, med, abs(rev - med) AS dev
          FROM daily, med),
        r2 AS (SELECT *, row_number() OVER (ORDER BY dev ASC, day ASC)
            AS rn, CAST(COUNT(*) OVER () AS BIGINT) AS n FROM dv),
        mad AS (SELECT (MIN(dev) + MAX(dev)) / 2.0 AS mad FROM r2
          WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2)
        SELECT strftime(day, '%Y-%m-%d') AS order_date, rev AS day_rev,
          round(med, 6) AS median_rev,
          CASE WHEN mad = 0.0 THEN NULL
            ELSE round((rev - med) / (1.4826 * mad), 6) + 0.0 END
            AS robust_z,
          CAST(COALESCE(CASE WHEN mad = 0.0 THEN NULL
            ELSE abs(round((rev - med) / (1.4826 * mad), 6)) > 3.5 END,
            FALSE) AS INT) AS is_outlier
        FROM dv, mad""")),

    // ---- basket-size distribution + Poisson dispersion test ----------------
    // The order-composition diagnostic: lines-per-order histogram plus
    // the variance/mean dispersion index — under a Poisson arrival model
    // the index sits near 1, and a materially larger value (clumped
    // baskets) changes how inventory and co-purchase models (q51) should
    // be read. Per basket-size: order count and share; the dispersion
    // index and mean ride every row as corpus scalars.
    //
    // Scale shape: one lineitem fold onto the order domain (map-side
    // combinable count), then a fold onto the ≤|max basket| size grid;
    // scalar windows run on that bounded grid.
    //
    // Exactness: counts exact int64; mean/variance assemble from exact
    // integer sums (Σk·n, Σk²·n over the size grid) in ONE double op
    // order, 6-dp rounded; the index NULL-guards a zero-variance corpus.
    GraftQuery(
      "q60_basket_dispersion",
      (s, d) => {
        val w = Window.partitionBy(lit(1))
        Tables.lineitem(s, d)
          .groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("k"))
          .groupBy(col("k"))
          .agg(count(lit(1)).as("n_orders"))
          .withColumn("tot_orders", sum(col("n_orders")).over(w))
          .withColumn("s1", sum(col("k") * col("n_orders")).over(w))
          .withColumn("s2", sum(col("k") * col("k") * col("n_orders"))
            .over(w))
          .withColumn("mean_k",
            col("s1").cast("double") / col("tot_orders").cast("double"))
          .withColumn("var_k",
            col("s2").cast("double") / col("tot_orders").cast("double")
              - col("mean_k") * col("mean_k"))
          .select(col("k").as("basket_size"), col("n_orders"),
            round(col("n_orders").cast("double")
              / col("tot_orders").cast("double"), 6).as("share"),
            round(col("mean_k"), 6).as("mean_size"),
            when(col("mean_k") === 0.0, lit(null).cast("double"))
              .otherwise(round(col("var_k") / col("mean_k"), 6))
              .as("dispersion_index"))
      },
      Some("""WITH b AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS k
          FROM lineitem GROUP BY 1),
        g AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_orders
          FROM b GROUP BY 1),
        t AS (SELECT *,
            CAST(SUM(n_orders) OVER () AS BIGINT) AS tot_orders,
            CAST(SUM(k * n_orders) OVER () AS BIGINT) AS s1,
            CAST(SUM(k * k * n_orders) OVER () AS BIGINT) AS s2
          FROM g),
        m AS (SELECT *,
            CAST(s1 AS DOUBLE) / CAST(tot_orders AS DOUBLE) AS mean_k,
            CAST(s2 AS DOUBLE) / CAST(tot_orders AS DOUBLE)
              - (CAST(s1 AS DOUBLE) / CAST(tot_orders AS DOUBLE))
              * (CAST(s1 AS DOUBLE) / CAST(tot_orders AS DOUBLE)) AS var_k
          FROM t)
        SELECT k AS basket_size, n_orders,
          round(CAST(n_orders AS DOUBLE) / CAST(tot_orders AS DOUBLE), 6)
            AS share,
          round(mean_k, 6) AS mean_size,
          CASE WHEN mean_k = 0.0 THEN NULL
            ELSE round(var_k / mean_k, 6) END AS dispersion_index
        FROM m""")),

    // ---- truncated EWMA anomaly band over daily revenue --------------------
    // The online-monitor smoother next to q55's offline CUSUM: a
    // 30-term truncated EWMA (α = 0.25) of daily revenue, normalized by
    // the weight mass actually available in the warm-up, plus the
    // rev/EWMA ratio an alerting rule thresholds. Truncation is the
    // scale/exactness move: the infinite recurrence needs either a
    // sequential fold (non-parallel) or data-dependent pow() (libm
    // drift across engines); 30 terms cover 1 − 0.75³⁰ ≈ 99.98% of the
    // mass, and the weights become DRIVER-SIDE 6-dp literals inlined
    // into BOTH plans (the e16 rpSigns precedent) — no engine ever
    // calls pow().
    //
    // Scale shape: the fact table folds map-side onto the calendar
    // domain first; the 30 lag() terms share ONE ordered window over
    // that bounded grid (the q28/q55 envelope).
    //
    // Exactness: the whole EWMA is EXACT arithmetic until one final
    // identical double op. Each term is DECIMAL revenue × a 6-dp
    // DECIMAL weight literal — an exact 8-dp decimal, never rounded.
    // (round(·, 6) on these products is the ONE rounding shape that
    // splits the engines: 2-dp × 6-dp products land EXACTLY on the
    // 1e-6 half-boundary ~1% of the time, where Spark's BigDecimal
    // HALF_UP and DuckDB's scaled-nearbyint ties-to-even disagree —
    // measured 561/71535 terms on the sf0.01 fixture. Quotients and
    // logs have effectively-infinite expansions, so the 6-dp rounds
    // elsewhere in this file never tie; exact short decimals DO.)
    // The 6-dp EWMA is an exact half-up INTEGER division —
    // floor((2x+y)/(2y)) in decimal(38,0), pmod-floor in Spark, `//`
    // on HUGEINT in DuckDB — and the only double ops left (÷1e6
    // display scale, the rev/ewma ratio) run on bit-identical inputs.
    GraftQuery(
      "q61_ewma_anomaly",
      (s, d) => {
        val wo = Window.partitionBy(lit(1)).orderBy(col("day"))
        val zero0 = lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")
        // Integer terms from the start (cents × µweight) — a decimal(38,8)
        // × 1e12 multiply would trip Spark's precision-loss scale cut
        // (scale 8 → 6) and silently round; integer × integer never does.
        val terms = ewmaWeights.zipWithIndex.map { case (wk, k) =>
          val lagged = if (k == 0) col("rev") else lag(col("rev"), k).over(wo)
          val cents = (lagged * lit(100)).cast("decimal(38,0)")
          coalesce(cents * lit((wk * BigDecimal(1000000)).toLongExact), zero0)
        }
        // x = num·1e4 (exact 1e-12$·µweight), y = prefix-Σw·1e6;
        // ewma_µ$ = floor((2x+y)/(2y)) = half-up(num·1e6 / Σw).
        val x = (terms.reduce(_ + _) * lit(10000L)).cast("decimal(38,0)")
        val y = element_at(
          array(ewmaPrefix.map(p =>
            lit((p * BigDecimal(1000000)).toLongExact)): _*),
          least(col("rn"), lit(30L)).cast("int")).cast("decimal(38,0)")
        val t = x * lit(2L).cast("decimal(38,0)") + y
        val u = y * lit(2L).cast("decimal(38,0)")
        val ewmaMicro = ((t - pmod(t, u)) / u).cast("decimal(38,0)")
        Tables.orders(s, d)
          .filter(col("o_orderdate").isNotNull)
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(sum(dec(col("o_totalprice"))).as("rev"))
          .withColumn("revd", col("rev").cast("double"))
          .withColumn("rn", row_number().over(wo))
          .withColumn("ewma", ewmaMicro.cast("double") / lit(1000000.0))
          .select(date_format(col("day"), "yyyy-MM-dd").as("order_date"),
            col("revd").as("day_rev"), col("ewma"),
            round(col("revd") / col("ewma"), 6).as("ratio"),
            (col("revd") / col("ewma") > 2.0 ||
              col("revd") / col("ewma") < 0.5).cast("int").as("is_anomaly"))
      },
      Some {
        val terms = ewmaWeights.zipWithIndex.map { case (wk, k) =>
          val lagged = if (k == 0) "rev"
            else s"lag(rev, $k) OVER (ORDER BY day)"
          val wMicro = (wk * BigDecimal(1000000)).toLongExact
          s"COALESCE(CAST($lagged * 100 AS HUGEINT) * $wMicro, " +
            "CAST(0 AS HUGEINT))"
        }.mkString(" + ")
        val prefix = ewmaPrefix
          .map(p => (p * BigDecimal(1000000)).toLongExact)
          .mkString("[", ", ", "]")
        s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
              SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
            FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
          t AS (SELECT day, CAST(rev AS DOUBLE) AS revd,
              row_number() OVER (ORDER BY day) AS rn,
              $terms AS num
            FROM daily),
          i AS (SELECT *, num * 10000 AS x,
              CAST(($prefix)[CAST(least(rn, 30) AS INT)] AS HUGEINT) AS y
            FROM t),
          x AS (SELECT *,
              CAST((2 * x + y) // (2 * y) AS DOUBLE) / 1000000.0 AS ewma
            FROM i)
          SELECT strftime(day, '%Y-%m-%d') AS order_date, revd AS day_rev,
            ewma, round(revd / ewma, 6) AS ratio,
            CAST(CASE WHEN revd / ewma > 2.0 OR revd / ewma < 0.5
              THEN 1 ELSE 0 END AS INT) AS is_anomaly
          FROM x"""
      }),

    // ---- autocorrelation function of daily revenue (lags 0–14) ------------
    // The periodicity diagnostic behind q52's weekday indices: r_l =
    // Σ(x_t−μ)(x_{t−l}−μ) / Σ(x_t−μ)² over the INDEX-ordered daily
    // series — a weekly cycle shows as a spike at lag 7. Per lag:
    // pair count and the ACF value.
    //
    // Scale shape: one fact fold onto the calendar; the lag alignment
    // is an equi-join of the bounded day grid against itself through a
    // 15-row broadcast lag domain (grid × 15 rows total — never a
    // fact-table self-join); the final fold is onto the 15-lag domain.
    //
    // Exactness: the numerators are EXACT end to end — the floating
    // mean never appears. Multiplying the deviation through by n:
    // n²·r_l ∝ Σ(n·x_t − S)(n·x_{t−l} − S) over integer CENTS, all in
    // decimal(38,0) (DuckDB HUGEINT) — products ~1e23 on the fixture,
    // comfortably exact, and the n² factor cancels in the ratio. The
    // only double op is the final num/den division, whose operands are
    // identical exact integers in both engines and whose value lives
    // in [−1, 1] (6-dp rounding never ties on a quotient's
    // effectively-infinite expansion — see q61's tie note). NULL on a
    // constant series (den = 0).
    GraftQuery(
      "q62_daily_acf",
      (s, d) => {
        val wo = Window.partitionBy(lit(1)).orderBy(col("day"))
        val w = Window.partitionBy(lit(1))
        val t = Tables.orders(s, d)
          .filter(col("o_orderdate").isNotNull)
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(sum(dec(col("o_totalprice"))).as("rev"))
          .withColumn("cents", (col("rev") * lit(100)).cast("decimal(38,0)"))
          .withColumn("rn", row_number().over(wo))
          .withColumn("a",
            count(lit(1)).over(w).cast("decimal(38,0)") * col("cents")
              - sum(col("cents")).over(w).cast("decimal(38,0)"))
          .select(col("rn"), col("a"))
        val lags = s.range(0, 15).select(col("id").as("lag_d"))
        val wl = Window.partitionBy(lit(1))
        t.select(col("rn").as("arn"), col("a").as("adev"))
          .crossJoin(broadcast(lags))
          .withColumn("brn", col("arn") - col("lag_d"))
          .join(t.select(col("rn").as("brn"), col("a").as("bdev")),
            Seq("brn"))
          .groupBy(col("lag_d"))
          .agg(count(lit(1)).as("n_pairs"),
            sum((col("adev") * col("bdev")).cast("decimal(38,0)")).as("num"))
          .withColumn("den",
            max(when(col("lag_d") === 0L, col("num"))).over(wl))
          .select(col("lag_d"), col("n_pairs"),
            when(col("den") === 0, lit(null).cast("double"))
              .otherwise(round(col("num").cast("double")
                / col("den").cast("double"), 6)).as("acf"))
      },
      Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
            SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
          FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
        t AS (SELECT row_number() OVER (ORDER BY day) AS rn,
            CAST(COUNT(*) OVER () AS HUGEINT)
                * CAST(rev * 100 AS HUGEINT)
              - CAST(SUM(CAST(rev * 100 AS HUGEINT)) OVER () AS HUGEINT)
              AS a
          FROM daily),
        lags AS (SELECT CAST(unnest(range(0, 15)) AS BIGINT) AS lag_d),
        p AS (SELECT l.lag_d, x.a AS adev, b.a AS bdev
          FROM t x CROSS JOIN lags l JOIN t b ON b.rn = x.rn - l.lag_d),
        g AS (SELECT lag_d, CAST(COUNT(*) AS BIGINT) AS n_pairs,
            CAST(SUM(adev * bdev) AS HUGEINT) AS num
          FROM p GROUP BY 1),
        x AS (SELECT *, MAX(CASE WHEN lag_d = 0 THEN num END) OVER ()
            AS den FROM g)
        SELECT lag_d, n_pairs,
          CASE WHEN den = 0 THEN NULL
            ELSE round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) END
            AS acf
        FROM x""")),

    // ---- inter-order gap burstiness histogram ------------------------------
    // The arrival-process diagnostic q60 runs on basket SIZE, applied to
    // TIMING: per customer with ≥ 2 gaps, the burstiness index
    // B = (σ−μ)/(σ+μ) of inter-order gaps (Goh & Barabási) — −1 =
    // clockwork, 0 = Poisson, →1 = bursty — folded onto a fixed 10-bin
    // histogram. Bursty ordering changes how q56's survival curve and
    // retention alerts should be read.
    //
    // Scale shape: the per-customer lead() window shuffles on custkey
    // once (q56's envelope); moments fold map-side per customer; the
    // final fold is onto the 10-bin domain.
    //
    // Exactness: gaps are integer days; n·Σg² − (Σg)² is exact int64
    // (gaps ≤ ~2.4k days, ≤ ~10² per customer, far under 2⁶³); σ is
    // one IEEE sqrt (correctly rounded in both engines); B is one
    // shared op order, 6-dp; bin floors the shifted double.
    GraftQuery(
      "q63_gap_burstiness",
      (s, d) => {
        val wc = Window.partitionBy(col("o_custkey"))
          .orderBy(col("day"), col("o_orderkey"))
        val w = Window.partitionBy(lit(1))
        Tables.orders(s, d)
          .filter(col("o_orderdate").isNotNull)
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_orderdate").cast("date").as("day"))
          .withColumn("nxt", lead(col("day"), 1).over(wc))
          .filter(col("nxt").isNotNull)
          .select(col("o_custkey"),
            datediff(col("nxt"), col("day")).cast("long").as("g"))
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n"), sum(col("g")).as("s1"),
            sum(col("g") * col("g")).as("s2"))
          .filter(col("n") >= 2L)
          .withColumn("mu", col("s1").cast("double") / col("n").cast("double"))
          .withColumn("sigma",
            sqrt((col("n") * col("s2") - col("s1") * col("s1"))
              .cast("double")) / col("n").cast("double"))
          .filter(col("sigma") + col("mu") > 0.0)
          .withColumn("b", round((col("sigma") - col("mu"))
            / (col("sigma") + col("mu")), 6))
          .groupBy(least(lit(9L), greatest(lit(0L),
            floor((col("b") + 1.0) * 5.0).cast("long"))).as("bin"))
          .agg(count(lit(1)).as("n_customers"),
            sum(col("b").cast("decimal(18,6)")).as("b_sum"))
          .withColumn("share", round(col("n_customers").cast("double")
            / sum(col("n_customers")).over(w).cast("double"), 6))
          .select(col("bin"), col("n_customers"), col("share"),
            round(col("b_sum").cast("double")
              / col("n_customers").cast("double"), 6).as("mean_b"))
      },
      Some("""WITH o AS (SELECT o_custkey, o_orderkey,
            CAST(o_orderdate AS DATE) AS day FROM orders
          WHERE o_orderdate IS NOT NULL),
        gp AS (SELECT o_custkey, CAST(date_diff('day', day,
            lead(day) OVER (PARTITION BY o_custkey
              ORDER BY day, o_orderkey)) AS BIGINT) AS g
          FROM o),
        m AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(g) AS BIGINT) AS s1, CAST(SUM(g * g) AS BIGINT) AS s2
          FROM gp WHERE g IS NOT NULL GROUP BY 1 HAVING COUNT(*) >= 2),
        sg AS (SELECT *, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
            sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) / CAST(n AS DOUBLE)
              AS sigma
          FROM m),
        b AS (SELECT round((sigma - mu) / (sigma + mu), 6) AS b
          FROM sg WHERE sigma + mu > 0.0),
        g AS (SELECT least(9, greatest(0,
              CAST(floor((b + 1.0) * 5.0) AS BIGINT))) AS bin,
            CAST(COUNT(*) AS BIGINT) AS n_customers,
            CAST(SUM(CAST(b AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS b_sum
          FROM b GROUP BY 1)
        SELECT bin, n_customers,
          round(CAST(n_customers AS DOUBLE) / CAST(CAST(SUM(n_customers)
            OVER () AS BIGINT) AS DOUBLE), 6) AS share,
          round(CAST(b_sum AS DOUBLE) / CAST(n_customers AS DOUBLE), 6)
            AS mean_b
        FROM g""")),

    // ---- Lorenz curve decile points (q49's Gini, drawn) --------------------
    // The concentration CURVE under q49's scalar: customers ranked
    // ascending by spend, per-decile revenue share, the cumulative
    // Lorenz ordinate L(p), and the equality gap p − L(p) whose
    // integral is the Gini — the table a mixture/revenue audit plots.
    //
    // Scale shape: one fact fold onto the customer domain, then q27's
    // exact distributed ranking (GlobalRank range-sort + partition-
    // offset zip — never a single-partition window over customers);
    // everything after lives on the 10-row decile grid.
    //
    // Exactness: spends and all revenue sums stay exact decimals
    // through the cumulative window; shares divide as double once,
    // 6-dp; the gap subtracts two identically-derived doubles in one
    // shared op order.
    GraftQuery(
      "q64_lorenz_deciles",
      (s, d) => {
        val spend = Tables.orders(s, d)
          .groupBy(col("o_custkey"))
          .agg(sum(dec(col("o_totalprice"))).as("spend"))
        val n = math.max(spend.count(), 1L)
        val wo = Window.partitionBy(lit(1)).orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val w = Window.partitionBy(lit(1))
        graft.operators.GlobalRank.withRowNumber(spend,
            Seq(col("spend").asc, col("o_custkey").asc))
          .withColumn("decile",
            floorDiv((col("rn") - 1L) * 10L, n) + 1L)
          .groupBy(col("decile"))
          .agg(count(lit(1)).as("n_customers"), sum(col("spend")).as("rev"))
          .withColumn("cum_rev", sum(col("rev")).over(wo))
          .withColumn("cum_n", sum(col("n_customers")).over(wo))
          .withColumn("tot", sum(col("rev")).over(w))
          .withColumn("ntot", sum(col("n_customers")).over(w))
          .select(col("decile"), col("n_customers"),
            round(col("rev").cast("double") / col("tot").cast("double"), 6)
              .as("rev_share"),
            round(col("cum_rev").cast("double")
              / col("tot").cast("double"), 6).as("cum_rev_share"),
            round(col("cum_n").cast("double")
              / col("ntot").cast("double"), 6).as("cum_pop_share"),
            round(col("cum_n").cast("double") / col("ntot").cast("double")
              - col("cum_rev").cast("double") / col("tot").cast("double"), 6)
              .as("equality_gap"))
      },
      Some(s"""WITH spend AS (SELECT o_custkey,
            SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
          FROM orders GROUP BY 1),
        r AS (SELECT spend,
            row_number() OVER (ORDER BY spend ASC, o_custkey ASC) AS rn,
            COUNT(*) OVER () AS n FROM spend),
        g AS (SELECT ((rn - 1) * 10) // n + 1 AS decile,
            CAST(COUNT(*) AS BIGINT) AS n_customers,
            CAST(SUM(spend) AS DECIMAL(38,2)) AS rev
          FROM r GROUP BY 1),
        c AS (SELECT *,
            CAST(SUM(rev) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS DECIMAL(38,2)) AS cum_rev,
            CAST(SUM(n_customers) OVER (ORDER BY decile ROWS BETWEEN
              UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n,
            CAST(SUM(rev) OVER () AS DECIMAL(38,2)) AS tot,
            CAST(SUM(n_customers) OVER () AS BIGINT) AS ntot
          FROM g)
        SELECT decile, n_customers,
          round(CAST(rev AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS rev_share,
          round(CAST(cum_rev AS DOUBLE) / CAST(tot AS DOUBLE), 6)
            AS cum_rev_share,
          round(CAST(cum_n AS DOUBLE) / CAST(ntot AS DOUBLE), 6)
            AS cum_pop_share,
          round(CAST(cum_n AS DOUBLE) / CAST(ntot AS DOUBLE)
            - CAST(cum_rev AS DOUBLE) / CAST(tot AS DOUBLE), 6)
            AS equality_gap
        FROM c""")),

    // ---- month-over-month categorical mix drift (priority-share PSI) -------
    // d64 monitors a SCORE distribution between snapshots; this monitors
    // a CATEGORICAL mix along the time axis — the population-stability
    // index of the order-priority mix per month vs the prior month, the
    // alarm a feed monitor reads when an upstream enum mapping changes.
    // Laplace-smoothed shares ((n+1)/(tot+k)) keep absent categories
    // finite — a category VANISHING is exactly the event PSI must flag,
    // not divide by.
    //
    // Scale shape: one fact fold onto the (month × priority) domain; the
    // lag alignment needs the DENSE grid (a month missing a priority
    // would silently skip the lag), built by crossing the two bounded
    // domains — the q44 densify move; every window runs on that grid.
    //
    // Exactness: counts exact int64; shares are quotient doubles in one
    // shared op order; each PSI term rounds the ln (libm absorb) inside
    // one shared product order, 6-dp, and sums as exact decimals
    // (magnitudes ≤ ~1 — no tie exposure).
    GraftQuery(
      "q65_priority_mix_drift",
      (s, d) => {
        // shared substrate (operators/Sketches): the SAME bounded grid
        // StatefulOpsSpec maintains as the ninth streaming sketch.
        val counts = graft.operators.Sketches
          .categoryMonthCounts(Tables.orders(s, d), "o_orderdate",
            "o_orderpriority")
          .withColumnRenamed("category", "o_orderpriority")
        val months = counts.select(col("month_idx")).distinct()
        val prios = counts.select(col("o_orderpriority")).distinct()
        val wm = Window.partitionBy(col("month_idx"))
        val wp = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("month_idx"))
        months.crossJoin(broadcast(prios))
          .join(counts, Seq("month_idx", "o_orderpriority"), "left")
          .withColumn("n", coalesce(col("n"), lit(0L)))
          .withColumn("tot", sum(col("n")).over(wm))
          .withColumn("k", count(lit(1)).over(wm))
          .withColumn("p", (col("n") + 1L).cast("double")
            / (col("tot") + col("k")).cast("double"))
          .withColumn("q", lag(col("p"), 1).over(wp))
          .filter(col("q").isNotNull)
          .withColumn("term",
            round((col("p") - col("q"))
              * round(log(col("p") / col("q")), 6), 6)
              .cast("decimal(18,6)"))
          .groupBy(col("month_idx"))
          .agg(sum(col("n")).as("n_orders"),
            sum(col("term")).cast("double").as("psi"),
            max(round(abs(col("p") - col("q")), 6)).as("max_share_shift"))
      },
      Some("""WITH counts AS (SELECT
            CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
              AS month_idx,
            o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
          FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2),
        grid AS (SELECT m.month_idx, p.o_orderpriority
          FROM (SELECT DISTINCT month_idx FROM counts) m
          CROSS JOIN (SELECT DISTINCT o_orderpriority FROM counts) p),
        g AS (SELECT grid.month_idx, grid.o_orderpriority,
            COALESCE(counts.n, 0) AS n
          FROM grid LEFT JOIN counts USING (month_idx, o_orderpriority)),
        t AS (SELECT *,
            CAST(SUM(n) OVER (PARTITION BY month_idx) AS BIGINT) AS tot,
            CAST(COUNT(*) OVER (PARTITION BY month_idx) AS BIGINT) AS k
          FROM g),
        pq AS (SELECT *,
            CAST(n + 1 AS DOUBLE) / CAST(tot + k AS DOUBLE) AS p,
            lag(CAST(n + 1 AS DOUBLE) / CAST(tot + k AS DOUBLE))
              OVER (PARTITION BY o_orderpriority ORDER BY month_idx) AS q
          FROM t),
        x AS (SELECT *, CAST(round((p - q) * round(ln(p / q), 6), 6)
            AS DECIMAL(18,6)) AS term
          FROM pq WHERE q IS NOT NULL)
        SELECT month_idx, CAST(SUM(n) AS BIGINT) AS n_orders,
          CAST(SUM(term) AS DOUBLE) AS psi,
          MAX(round(abs(p - q), 6)) AS max_share_shift
        FROM x GROUP BY 1""")),

    // ---- month-over-month revenue bridge (growth accounting) ---------------
    // q58 splits CUSTOMERS into new/returning; this splits the REVENUE
    // DELTA — the SaaS bridge a finance review reads: per month, total
    // revenue and its decomposition into new (no prior-month revenue),
    // expansion (grew), contraction (shrank, negative), and churned
    // (prior-month revenue that went to zero, negative). The four
    // buckets sum EXACTLY to the month-over-month delta — the identity
    // the spec pins.
    //
    // Scale shape: one fact fold onto the (custkey, month) domain, then
    // a self full-outer join on (custkey, month+1) — co-partitioned on
    // the same keys, one exchange each side — and a fold onto the month
    // grid. Never a window over the customer domain.
    //
    // The month AFTER the last active month appears as an all-churn row
    // (total 0, churned = −last month's revenue) — deliberate: that IS
    // the bridge's statement about the horizon's end, and both engines
    // derive it from the same shifted join (spec-pinned).
    //
    // Exactness: every bucket is an exact-decimal conditional sum; the
    // delta adds the four exact decimals before ONE double cast.
    GraftQuery(
      "q66_revenue_bridge",
      (s, d) => {
        val zero2 = lit(java.math.BigDecimal.ZERO).cast("decimal(38,2)")
        val rev = Tables.orders(s, d)
          .filter(col("o_orderdate").isNotNull)
          .groupBy(col("o_custkey"),
            (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
              .cast("bigint").as("month_idx"))
          .agg(sum(dec(col("o_totalprice"))).as("rev"))
        val cur = rev.select(col("o_custkey"), col("month_idx"),
          col("rev").as("rev_cur"))
        val pri = rev.select(col("o_custkey"),
          (col("month_idx") + 1L).as("month_idx"),
          col("rev").as("rev_prior"))
        cur.join(pri, Seq("o_custkey", "month_idx"), "full_outer")
          .groupBy(col("month_idx"))
          .agg(
            sum(coalesce(col("rev_cur"), zero2)).as("tot_d"),
            sum(when(col("rev_prior").isNull,
              coalesce(col("rev_cur"), zero2)).otherwise(zero2)).as("new_d"),
            sum(when(col("rev_cur").isNotNull && col("rev_prior").isNotNull
                && col("rev_cur") > col("rev_prior"),
              col("rev_cur") - col("rev_prior")).otherwise(zero2))
              .as("exp_d"),
            sum(when(col("rev_cur").isNotNull && col("rev_prior").isNotNull
                && col("rev_cur") < col("rev_prior"),
              col("rev_cur") - col("rev_prior")).otherwise(zero2))
              .as("con_d"),
            sum(when(col("rev_cur").isNull, -col("rev_prior"))
              .otherwise(zero2)).as("chn_d"),
            sum(when(col("rev_prior").isNull && col("rev_cur").isNotNull,
              1L).otherwise(0L)).as("n_new"),
            sum(when(col("rev_cur").isNull, 1L).otherwise(0L))
              .as("n_churned"))
          .select(col("month_idx"), col("tot_d").cast("double")
              .as("total_rev"),
            col("new_d").cast("double").as("new_rev"),
            col("exp_d").cast("double").as("expansion_rev"),
            col("con_d").cast("double").as("contraction_rev"),
            col("chn_d").cast("double").as("churned_rev"),
            (col("new_d") + col("exp_d") + col("con_d") + col("chn_d"))
              .cast("double").as("mom_delta"),
            col("n_new"), col("n_churned"))
      },
      Some("""WITH rev AS (SELECT o_custkey,
            CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
              AS month_idx,
            SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
          FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2),
        j AS (SELECT COALESCE(c.month_idx, p.month_idx + 1) AS month_idx,
            c.rev AS rev_cur, p.rev AS rev_prior
          FROM rev c FULL OUTER JOIN rev p
            ON c.o_custkey = p.o_custkey AND c.month_idx = p.month_idx + 1),
        g AS (SELECT month_idx,
            SUM(COALESCE(rev_cur, 0)) AS tot_d,
            SUM(CASE WHEN rev_prior IS NULL THEN COALESCE(rev_cur, 0)
              ELSE 0 END) AS new_d,
            SUM(CASE WHEN rev_cur IS NOT NULL AND rev_prior IS NOT NULL
              AND rev_cur > rev_prior THEN rev_cur - rev_prior
              ELSE 0 END) AS exp_d,
            SUM(CASE WHEN rev_cur IS NOT NULL AND rev_prior IS NOT NULL
              AND rev_cur < rev_prior THEN rev_cur - rev_prior
              ELSE 0 END) AS con_d,
            SUM(CASE WHEN rev_cur IS NULL THEN -rev_prior ELSE 0 END)
              AS chn_d,
            CAST(SUM(CASE WHEN rev_prior IS NULL AND rev_cur IS NOT NULL
              THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
            CAST(SUM(CASE WHEN rev_cur IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_churned
          FROM j GROUP BY 1)
        SELECT month_idx, CAST(tot_d AS DOUBLE) AS total_rev,
          CAST(new_d AS DOUBLE) AS new_rev,
          CAST(exp_d AS DOUBLE) AS expansion_rev,
          CAST(con_d AS DOUBLE) AS contraction_rev,
          CAST(chn_d AS DOUBLE) AS churned_rev,
          CAST(new_d + exp_d + con_d + chn_d AS DOUBLE) AS mom_delta,
          n_new, n_churned
        FROM g""")),

    // ---- Pareto / ABC revenue classification -------------------------------
    // q64 draws the Lorenz CURVE; this cuts it into the inventory-
    // management classes: customers ranked by spend descending, class A
    // while cumulative revenue ≤ 80%, B to 95%, C after — per class,
    // customer counts/shares and revenue shares. The cumulative sum is
    // EXACT integer cents through GlobalRank.withRunningTotal (the
    // range-sort + partition-prefix scheme — a bare
    // sum().over(Window.orderBy(...)) would single-partition the
    // customer domain, the q27 anti-pattern).
    //
    // Exactness: cents are exact int64 end to end; the class boundary
    // compares one identical quotient double against the 0.80/0.95
    // literals; shares round quotients at ≤ 1 magnitude.
    GraftQuery(
      "q67_abc_classes",
      (s, d) => {
        val w = Window.partitionBy(lit(1))
        val spend = Tables.orders(s, d)
          .groupBy(col("o_custkey"))
          .agg((sum(dec(col("o_totalprice"))) * lit(100))
            .cast("decimal(38,0)").cast("long").as("cents"))
        graft.operators.GlobalRank.withRunningTotal(spend,
            Seq(col("cents").desc, col("o_custkey").asc), "cents")
          .withColumn("tot", sum(col("cents")).over(w))
          .withColumn("abc_class",
            when(col("cum").cast("double") / col("tot").cast("double")
              <= 0.80, lit("A"))
              .when(col("cum").cast("double") / col("tot").cast("double")
                <= 0.95, lit("B"))
              .otherwise(lit("C")))
          .groupBy(col("abc_class"))
          .agg(count(lit(1)).as("n_customers"),
            sum(col("cents")).as("cents_sum"), max(col("tot")).as("tot"))
          .withColumn("ntot", sum(col("n_customers")).over(w))
          .select(col("abc_class"), col("n_customers"),
            round(col("n_customers").cast("double")
              / col("ntot").cast("double"), 6).as("customer_share"),
            (col("cents_sum").cast("double") / lit(100.0)).as("class_rev"),
            round(col("cents_sum").cast("double")
              / col("tot").cast("double"), 6).as("rev_share"))
      },
      Some("""WITH spend AS (SELECT o_custkey,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
              AS cents
          FROM orders GROUP BY 1),
        r AS (SELECT *,
            CAST(SUM(cents) OVER (ORDER BY cents DESC, o_custkey ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS cum,
            CAST(SUM(cents) OVER () AS BIGINT) AS tot
          FROM spend),
        c AS (SELECT *,
            CASE WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.80
              THEN 'A'
              WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.95
              THEN 'B' ELSE 'C' END AS abc_class
          FROM r),
        g AS (SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_customers,
            CAST(SUM(cents) AS BIGINT) AS cents_sum,
            CAST(MIN(tot) AS BIGINT) AS tot
          FROM c GROUP BY 1)
        SELECT abc_class, n_customers,
          round(CAST(n_customers AS DOUBLE) / CAST(CAST(SUM(n_customers)
            OVER () AS BIGINT) AS DOUBLE), 6) AS customer_share,
          CAST(cents_sum AS DOUBLE) / 100.0 AS class_rev,
          round(CAST(cents_sum AS DOUBLE) / CAST(tot AS DOUBLE), 6)
            AS rev_share
        FROM g""")),

    // ---- referential-integrity audit (orders ⟂ lineitem) -------------------
    // The ingest contract check every star schema needs before any join
    // result can be trusted: childless orders (no lines — a dropped
    // lineitem file) and orphan lines (no parent order — a dropped
    // orders file), plus NULL keys on each side, which can never join
    // and are their own failure class. One summary row — the red/green
    // a load pipeline gates on.
    //
    // Scale shape: BOTH fact tables pre-fold onto their key domains
    // (map-side combinable counts) BEFORE the full-outer join — the
    // join compares key-domain row sets, never fact rows; the rollup is
    // a 1-row global fold. Never a fact×fact join.
    //
    // Exactness: pure exact counts; two ≤1 quotient rounds. NULL keys
    // are counted from the per-side folds (a NULL never matches in the
    // join, so both engines classify those rows identically).
    GraftQuery(
      "q68_referential_audit",
      (s, d) => {
        val ok = Tables.orders(s, d)
          .groupBy(col("o_orderkey").as("k"))
          .agg(count(lit(1)).as("n_o"))
        val lk = Tables.lineitem(s, d)
          .groupBy(col("l_orderkey").as("k"))
          .agg(count(lit(1)).as("n_l"))
        ok.join(lk, Seq("k"), "full_outer")
          .agg(
            sum(coalesce(col("n_o"), lit(0L))).as("n_orders"),
            sum(coalesce(col("n_l"), lit(0L))).as("n_lineitems"),
            sum(when(col("n_l").isNull, coalesce(col("n_o"), lit(0L)))
              .otherwise(0L)).as("n_childless_orders"),
            sum(when(col("n_o").isNull, coalesce(col("n_l"), lit(0L)))
              .otherwise(0L)).as("n_orphan_lines"),
            sum(when(col("n_o").isNull && col("n_l").isNotNull, 1L)
              .otherwise(0L)).as("n_orphan_orderkeys"),
            sum(when(col("k").isNull, coalesce(col("n_o"), lit(0L)))
              .otherwise(0L)).as("n_null_key_orders"),
            sum(when(col("k").isNull, coalesce(col("n_l"), lit(0L)))
              .otherwise(0L)).as("n_null_key_lines"))
          .select(col("n_orders"), col("n_lineitems"),
            col("n_childless_orders"), col("n_orphan_lines"),
            col("n_orphan_orderkeys"),
            col("n_null_key_orders"), col("n_null_key_lines"),
            when(col("n_orders") === 0L, lit(null).cast("double"))
              .otherwise(round(col("n_childless_orders").cast("double")
                / col("n_orders").cast("double"), 6)).as("childless_rate"),
            when(col("n_lineitems") === 0L, lit(null).cast("double"))
              .otherwise(round(col("n_orphan_lines").cast("double")
                / col("n_lineitems").cast("double"), 6)).as("orphan_rate"))
      },
      Some("""WITH ok AS (SELECT o_orderkey AS k,
            CAST(COUNT(*) AS BIGINT) AS n_o FROM orders GROUP BY 1),
        lk AS (SELECT l_orderkey AS k,
            CAST(COUNT(*) AS BIGINT) AS n_l FROM lineitem GROUP BY 1),
        j AS (SELECT COALESCE(ok.k, lk.k) AS k, n_o, n_l
          FROM ok FULL OUTER JOIN lk ON ok.k = lk.k),
        g AS (SELECT
            CAST(SUM(COALESCE(n_o, 0)) AS BIGINT) AS n_orders,
            CAST(SUM(COALESCE(n_l, 0)) AS BIGINT) AS n_lineitems,
            CAST(SUM(CASE WHEN n_l IS NULL THEN COALESCE(n_o, 0)
              ELSE 0 END) AS BIGINT) AS n_childless_orders,
            CAST(SUM(CASE WHEN n_o IS NULL THEN COALESCE(n_l, 0)
              ELSE 0 END) AS BIGINT) AS n_orphan_lines,
            CAST(SUM(CASE WHEN n_o IS NULL AND n_l IS NOT NULL THEN 1
              ELSE 0 END) AS BIGINT) AS n_orphan_orderkeys,
            CAST(SUM(CASE WHEN k IS NULL THEN COALESCE(n_o, 0)
              ELSE 0 END) AS BIGINT) AS n_null_key_orders,
            CAST(SUM(CASE WHEN k IS NULL THEN COALESCE(n_l, 0)
              ELSE 0 END) AS BIGINT) AS n_null_key_lines
          FROM j)
        SELECT n_orders, n_lineitems, n_childless_orders, n_orphan_lines,
          n_orphan_orderkeys, n_null_key_orders, n_null_key_lines,
          CASE WHEN n_orders = 0 THEN NULL
            ELSE round(CAST(n_childless_orders AS DOUBLE)
              / CAST(n_orders AS DOUBLE), 6) END AS childless_rate,
          CASE WHEN n_lineitems = 0 THEN NULL
            ELSE round(CAST(n_orphan_lines AS DOUBLE)
              / CAST(n_lineitems AS DOUBLE), 6) END AS orphan_rate
        FROM g""")),

    // ---- weekend-effect Mann–Whitney U over daily revenue -------------------
    // The nonparametric two-sample member closing the hypothesis-test
    // family (q53 z, q54/d69 χ², d71 Spearman, q56 KM, q38 OLS): does
    // weekend daily revenue come from the same distribution as weekday
    // revenue? Rank-based, so one spike day can't buy significance the
    // way it would in a t-test. MIDRANKS over ties (the textbook
    // statistic), normal approximation z.
    //
    // Scale shape: the fact table folds map-side onto the calendar
    // FIRST (the q55 envelope); both rank windows and every fold run on
    // the bounded day grid. Weekday classification is ARITHMETIC
    // epoch-day mod 7 (the q52 rule — never an engine dayofweek():
    // 1970-01-01 is Thursday, so Sat/Sun ≡ {2, 3}).
    //
    // Exactness: midranks are exact 0.5-multiples summed as
    // DECIMAL(18,1); U and its mean are exact int64-derived; z divides
    // in ONE shared op order with an IEEE sqrt, 6-dp rounded (≤ ~1e2
    // magnitude quotient — no tie exposure), NULL when either group is
    // empty or the variance is zero.
    GraftQuery(
      "q69_weekend_effect_u",
      (s, d) => {
        val wv = Window.partitionBy(lit(1)).orderBy(col("rev"))
        val wt = Window.partitionBy(col("rev"))
        val w = Window.partitionBy(lit(1))
        Tables.orders(s, d)
          .filter(col("o_orderdate").isNotNull)
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(sum(dec(col("o_totalprice"))).as("rev"))
          .withColumn("is_weekend",
            pmod(datediff(col("day"), lit("1970-01-01").cast("date")),
              lit(7)).isin(2, 3).cast("long"))
          .withColumn("midrank",
            (rank().over(wv).cast("double")
              + (count(lit(1)).over(wt).cast("double") - 1.0) / 2.0)
              .cast("decimal(18,1)"))
          .agg(sum(col("is_weekend")).as("n_weekend"),
            sum(lit(1L) - col("is_weekend")).as("n_weekday"),
            sum(when(col("is_weekend") === 1L, col("midrank"))
              .otherwise(lit(java.math.BigDecimal.ZERO)
                .cast("decimal(18,1)"))).as("r1"))
          .select(col("n_weekend"), col("n_weekday"),
            (col("r1").cast("double")
              - (col("n_weekend") * (col("n_weekend") + 1L))
                .cast("double") / 2.0).as("u_stat"),
            when(col("n_weekend") === 0L || col("n_weekday") === 0L,
              lit(null).cast("double"))
              .otherwise(round(
                ((col("r1").cast("double")
                  - (col("n_weekend") * (col("n_weekend") + 1L))
                    .cast("double") / 2.0)
                  - (col("n_weekend") * col("n_weekday")).cast("double")
                    / 2.0)
                / sqrt((col("n_weekend") * col("n_weekday")
                  * (col("n_weekend") + col("n_weekday") + 1L))
                  .cast("double") / 12.0), 6)).as("z"))
      },
      Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
            SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
          FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
        r AS (SELECT *,
            CASE WHEN ((day - DATE '1970-01-01') % 7 + 7) % 7 IN (2, 3)
              THEN 1 ELSE 0 END AS is_weekend,
            CAST(rank() OVER (ORDER BY rev) AS DOUBLE)
              + (CAST(COUNT(*) OVER (PARTITION BY rev) AS DOUBLE) - 1.0)
                / 2.0 AS mr
          FROM daily),
        g AS (SELECT CAST(SUM(is_weekend) AS BIGINT) AS n_weekend,
            CAST(SUM(1 - is_weekend) AS BIGINT) AS n_weekday,
            SUM(CASE WHEN is_weekend = 1
              THEN CAST(mr AS DECIMAL(18,1))
              ELSE CAST(0 AS DECIMAL(18,1)) END) AS r1
          FROM r)
        SELECT n_weekend, n_weekday,
          CAST(r1 AS DOUBLE)
            - CAST(n_weekend * (n_weekend + 1) AS DOUBLE) / 2.0 AS u_stat,
          CASE WHEN n_weekend = 0 OR n_weekday = 0 THEN NULL
            ELSE round(
              ((CAST(r1 AS DOUBLE)
                - CAST(n_weekend * (n_weekend + 1) AS DOUBLE) / 2.0)
                - CAST(n_weekend * n_weekday AS DOUBLE) / 2.0)
              / sqrt(CAST(n_weekend * n_weekday
                * (n_weekend + n_weekday + 1) AS DOUBLE) / 12.0), 6) END
            AS z
        FROM g""")),

    // ---- discount-lift table (treatment-level price response) -------------
    // The causal-pricing readout q38's continuous OLS doesn't surface:
    // discounts come in DISCRETE levels (TPC-H 0.00-0.10), and the
    // merchandising question is per-LEVEL — how much more quantity does
    // each discount level move vs full price (the lift), and what share
    // of revenue rides each level. Slope summaries hide a non-linear
    // response; the level table IS the response curve.
    //
    // Scale shape: ONE fact fold onto the ≤11-row discount domain
    // (map-side combinable count + two decimal sums); every window after
    // runs on the bounded grid. The q52/q60 fixed-domain envelope.
    //
    // Exactness: the level key is the exact DECIMAL(18,2) value (cast to
    // double only for output); quantity/revenue sums are exact decimals;
    // mean = decimal-sum / count as double in one op order, rounded;
    // lift divides two 6-dp-rounded means (deterministic); revenue share
    // guards the all-zero-revenue corpus.
    GraftQuery(
      "q70_discount_lift",
      (s, d) => {
        val w = Window.partitionBy(lit(1))
        Tables.lineitem(s, d)
          .groupBy(GraftQuery.dec(col("l_discount")).as("disc"))
          .agg(count(lit(1)).as("n_lines"),
            sum(GraftQuery.dec(col("l_quantity"))).as("qty"),
            sum(GraftQuery.dec(col("l_extendedprice"))
              * (lit(1).cast("decimal(18,2)")
                - GraftQuery.dec(col("l_discount")))).as("rev"))
          .withColumn("mean_qty", round(col("qty").cast("double")
            / col("n_lines").cast("double"), 6))
          .withColumn("base_mean",
            max(when(col("disc") === lit(0).cast("decimal(18,2)"),
              col("mean_qty"))).over(w))
          .withColumn("tot_rev", sum(col("rev")).over(w))
          .select(col("disc").cast("double").as("discount"),
            col("n_lines"), col("mean_qty"),
            when(col("base_mean") > 0.0,
              round(col("mean_qty") / col("base_mean"), 6)).as("qty_lift"),
            col("rev").cast("double").as("revenue"),
            when(col("tot_rev").cast("double") > 0.0,
              round(col("rev").cast("double")
                / col("tot_rev").cast("double"), 6)).as("revenue_share"))
      },
      Some("""WITH g AS (SELECT CAST(l_discount AS DECIMAL(18,2)) AS disc,
            CAST(COUNT(*) AS BIGINT) AS n_lines,
            SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty,
            SUM(CAST(l_extendedprice AS DECIMAL(18,2))
              * (CAST(1 AS DECIMAL(18,2))
                - CAST(l_discount AS DECIMAL(18,2)))) AS rev
          FROM lineitem GROUP BY 1),
        m AS (SELECT *,
            round(CAST(qty AS DOUBLE) / CAST(n_lines AS DOUBLE), 6)
              AS mean_qty FROM g),
        b AS (SELECT *,
            MAX(CASE WHEN disc = CAST(0 AS DECIMAL(18,2)) THEN mean_qty
              END) OVER () AS base_mean,
            SUM(rev) OVER () AS tot_rev
          FROM m)
        SELECT CAST(disc AS DOUBLE) AS discount, n_lines, mean_qty,
          CASE WHEN base_mean > 0.0
            THEN round(mean_qty / base_mean, 6) END AS qty_lift,
          CAST(rev AS DOUBLE) AS revenue,
          CASE WHEN CAST(tot_rev AS DOUBLE) > 0.0
            THEN round(CAST(rev AS DOUBLE) / CAST(tot_rev AS DOUBLE), 6)
          END AS revenue_share
        FROM b""")),
  )

  /** q61's truncated-EWMA weights w_k = round(α(1−α)^k, 6), α = 0.25,
    * k < 30 — computed ONCE driver-side in exact BigDecimal and inlined
    * into BOTH engines' plans as literals (the e16 rpSigns move), so no
    * engine ever evaluates pow() on data. */
  private lazy val ewmaWeights: IndexedSeq[BigDecimal] = {
    val alpha = BigDecimal("0.25")
    val decay = BigDecimal("0.75")
    (0 until 30).map { k =>
      (alpha * decay.pow(k)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }
  }

  /** Prefix sums of [[ewmaWeights]] (exact 6-dp multiples): entry i is the
    * warm-up normalizer when only i+1 terms exist. */
  private lazy val ewmaPrefix: IndexedSeq[BigDecimal] =
    ewmaWeights.scanLeft(BigDecimal(0))(_ + _).tail
}
