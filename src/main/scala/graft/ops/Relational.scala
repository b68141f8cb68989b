package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational operator suite over the TPC-H-ish test tables.
  *
  * Determinism discipline (needed for the DuckDB-oracle hash gate, and a
  * good idea at 100 TB anyway): every floating-point REDUCTION goes
  * through an exact decimal accumulator and is cast to double at the end
  * (per-row double arithmetic is deterministic; only reduction order
  * isn't), and every query ends in a total ORDER BY.
  *
  * Scale notes are per-query; the common ones: filters/projections sit
  * directly on the parquet scan (pushdown + pruning), dimension joins are
  * broadcast, and fact-fact work shuffles on the aggregation key only
  * once.
  */
object Relational {

  private def dec(c: Column, t: String = "decimal(18,2)"): Column = c.cast(t)

  /** SURVEY §2 A1-adjacent classic agg: TPC-H-Q1-shaped group-by over the
    * fact table. One shuffle on (returnflag, linestatus); partial
    * aggregation map-side keeps shuffle bytes ~ #groups, not #rows.
    */
  val q1Agg: Q = Q.sql(
    "q1_agg",
    "Full-scan group-by aggregate over lineitem (TPC-H Q1 shape).",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_disc_price,
      |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (spark, dir) =>
    // disc_price/charge sums are ROUNDed to cents BEFORE the double cast:
    // their scale-4/6 exact sums cross 2^53 in integer representation at
    // 100× gate scale, where DuckDB's decimal→double (int128 conversion +
    // scale division, two roundings) can differ from Spark's
    // correctly-rounded BigDecimal path by 1 ulp. At scale 2 the integer
    // part stays exact in double and both engines round once, identically.
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        round(sum(dec(col("l_extendedprice"), "decimal(12,2)") *
            (lit(1) - dec(col("l_discount"), "decimal(4,2)"))), 2)
          .cast("double").as("sum_disc_price"),
        round(sum(dec(col("l_extendedprice"), "decimal(12,2)") *
            (lit(1) - dec(col("l_discount"), "decimal(4,2)")) *
            (lit(1) + dec(col("l_tax"), "decimal(4,2)"))), 2)
          .cast("double").as("sum_charge"),
        (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Selective filter + narrow projection (TPC-H Q6 shape). The whole
    * predicate and the 2-column read schema reach the parquet scan
    * (PushedFilters / ReadSchema) — at 100 TB this is the difference
    * between scanning 2 columns of a year and the whole table.
    */
  val q2Filter: Q = Q.sql(
    "q2_filter_pushdown",
    "Selective scan with predicate pushdown (TPC-H Q6 shape).",
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
      |       COUNT(*) AS n
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin) { (spark, dir) =>
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
      .agg(
        sum(dec(col("l_extendedprice"), "decimal(12,2)") * dec(col("l_discount"), "decimal(4,2)"))
          .cast("double").as("revenue"),
        count(lit(1)).as("n"))
  }

  /** Fact⋈dim join with an explicit broadcast of the dimension — no
    * shuffle of the orders fact side at all; the only exchange is the
    * final group-by on 5 segments.
    */
  val q3Join: Q = Q.sql(
    "q3_broadcast_join",
    "orders ⋈ broadcast(customer), revenue per market segment.",
    """SELECT c.c_mktsegment,
      |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_orders
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin) { (spark, dir) =>
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        sum(dec(col("o_totalprice"))).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy("c_mktsegment")
  }

  /** 5-table snowflake join (TPC-H Q5 shape). region/nation/customer are
    * broadcast; lineitem⋈orders is the only shuffle join (on orderkey),
    * and AQE is free to turn it into a broadcast if the filtered orders
    * side is small enough at runtime.
    */
  val q4MultiJoin: Q = Q.sql(
    "q4_multi_join",
    "region ⋈ nation ⋈ customer ⋈ orders ⋈ lineitem revenue rollup (TPC-H Q5 shape).",
    """SELECT r.r_name, n.n_name,
      |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY r.r_name, n.n_name ORDER BY r.r_name, n.n_name""".stripMargin) { (spark, dir) =>
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum(dec(col("l_extendedprice"), "decimal(12,2)") *
            (lit(1) - dec(col("l_discount"), "decimal(4,2)")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  /** Top-k pattern: aggregate then `ORDER BY … LIMIT k`, which Spark
    * executes as TakeOrderedAndProject — each partition keeps only its
    * local top-k, so no global sort of the aggregate output happens.
    */
  val q5TopK: Q = Q.sql(
    "q5_topk",
    "Top-10 customers by order revenue (agg → TakeOrderedAndProject).",
    """SELECT o.o_custkey, c.c_name,
      |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_orders
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY o.o_custkey, c.c_name
      |ORDER BY revenue DESC, o_custkey LIMIT 10""".stripMargin) { (spark, dir) =>
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("o_custkey"), col("c_name"))
      .agg(
        sum(dec(col("o_totalprice"))).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("revenue").desc, col("o_custkey"))
      .limit(10)
  }

  /** Window functions: per-customer order sequence with row_number, a
    * running decimal-exact total, and lag. One shuffle on the partition
    * key; all three windows share a single sort.
    */
  val q6Window: Q = Q.sql(
    "q6_window",
    "row_number / running sum / lag over per-customer order history.",
    """SELECT o_orderkey, o_custkey,
      |  ROW_NUMBER() OVER w AS order_seq,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_spend,
      |  CAST(LAG(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS prev_price
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, order_seq""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey"), col("o_custkey"),
        row_number().over(w).as("order_seq"),
        sum(dec(col("o_totalprice"))).over(w).cast("double").as("running_spend"),
        lag(dec(col("o_totalprice")), 1).over(w).cast("double").as("prev_price"))
      .orderBy("o_custkey", "order_seq")
  }

  /** Exact distinct aggregation — Spark expands count(distinct) into a
    * two-phase aggregate (partial distinct per partition, then merge), so
    * the shuffle carries distinct (priority, custkey) pairs, not rows.
    */
  val q7Distinct: Q = Q.sql(
    "q7_distinct",
    "count + exact count(distinct) per order priority.",
    """SELECT o_orderpriority,
      |  COUNT(*) AS n_orders,
      |  COUNT(DISTINCT o_custkey) AS n_customers,
      |  CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
      |  CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (spark, dir) =>
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        min(col("o_totalprice")).cast("double").as("min_price"),
        max(col("o_totalprice")).cast("double").as("max_price"))
      .orderBy("o_orderpriority")
  }

  /** Set operations over two derived key sets: rich customers vs. recent
    * buyers. INTERSECT/EXCEPT both compile to aggregate-based plans (no
    * row-by-row driver logic), tagged and unioned into one result.
    */
  val q8SetOps: Q = Q.sql(
    "q8_setops",
    "INTERSECT / EXCEPT / UNION over two customer key sets.",
    """WITH rich AS (SELECT c_custkey FROM customer WHERE c_acctbal > 4000),
      |recent AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders
      |           WHERE o_orderdate >= TIMESTAMP '2000-01-01')
      |SELECT 'both' AS tag, c_custkey FROM (SELECT c_custkey FROM rich INTERSECT SELECT c_custkey FROM recent) t
      |UNION ALL
      |SELECT 'rich_only' AS tag, c_custkey FROM (SELECT c_custkey FROM rich EXCEPT SELECT c_custkey FROM recent) t
      |ORDER BY tag, c_custkey""".stripMargin) { (spark, dir) =>
    val rich = Tables.customer(spark, dir)
      .filter(col("c_acctbal") > 4000).select("c_custkey")
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select(col("o_custkey").as("c_custkey")).distinct()
    val both = rich.intersect(recent).select(lit("both").as("tag"), col("c_custkey"))
    val richOnly = rich.except(recent).select(lit("rich_only").as("tag"), col("c_custkey"))
    both.unionAll(richOnly).orderBy("tag", "c_custkey")
  }

  /** Semi/anti joins (EXISTS / NOT EXISTS). Both run as broadcast or
    * shuffled hash joins that never materialize the probe side's payload
    * — the classic way to express "has/has-no matching fact rows".
    */
  val q9SemiAnti: Q = Q.sql(
    "q9_anti_semi",
    "left_semi / left_anti joins: customers with vs. without urgent orders.",
    """SELECT 'has_urgent' AS tag, c_custkey FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      |              AND o.o_orderpriority = '1-URGENT')
      |UNION ALL
      |SELECT 'no_urgent' AS tag, c_custkey FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      |                  AND o.o_orderpriority = '1-URGENT')
      |ORDER BY tag, c_custkey""".stripMargin) { (spark, dir) =>
    val c = Tables.customer(spark, dir)
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("c_custkey"))
    val semi = c.join(urgent, Seq("c_custkey"), "left_semi")
      .select(lit("has_urgent").as("tag"), col("c_custkey"))
    val anti = c.join(urgent, Seq("c_custkey"), "left_anti")
      .select(lit("no_urgent").as("tag"), col("c_custkey"))
    semi.unionAll(anti).orderBy("tag", "c_custkey")
  }

  /** ROLLUP grouping sets; NULL subtotal markers are coalesced to 'ALL'
    * so the oracle compare is collation-independent.
    */
  val q10Rollup: Q = Q.sql(
    "q10_rollup",
    "ROLLUP(returnflag, linestatus) with subtotals and grand total.",
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |       COALESCE(l_linestatus, 'ALL') AS linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin) { (spark, dir) =>
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n"))
      .orderBy("returnflag", "linestatus")
  }

  /** Conditional aggregation (TPC-H Q12 shape): CASE WHEN inside SUM,
    * fully codegen'd — one pass, no extra shuffle beyond the group-by.
    */
  val q11CaseAgg: Q = Q.sql(
    "q11_case_agg",
    "CASE-WHEN conditional counts per linestatus (TPC-H Q12 shape).",
    """SELECT l.l_linestatus,
      |  CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY l.l_linestatus ORDER BY l.l_linestatus""".stripMargin) { (spark, dir) =>
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(high, 1).otherwise(0)).as("high_line_count"),
        sum(when(!high, 1).otherwise(0)).as("low_line_count"))
      .orderBy("l_linestatus")
  }

  /** Date bucketing + trend aggregation; `date_format` runs inside
    * whole-stage codegen, grouping key cardinality is #months.
    */
  val q12DateAgg: Q = Q.sql(
    "q12_date_agg",
    "Monthly order revenue trend (date_format bucketing).",
    """SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_orders
      |FROM orders GROUP BY 1 ORDER BY month""".stripMargin) { (spark, dir) =>
    Tables.orders(spark, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(sum(dec(col("o_totalprice"))).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy("month")
  }

  /** Scalar-subquery pattern (TPC-H Q17 shape): per-part average builds a
    * threshold the fact rows are filtered against. The per-part aggregate
    * is tiny (#parts rows) and broadcast back against lineitem.
    */
  val q13ScalarSubquery: Q = Q.sql(
    "q13_scalar_subquery",
    "Filter fact rows under a per-part avg-quantity threshold (TPC-H Q17 shape).",
    """WITH t AS (
      |  SELECT l_partkey,
      |    0.5 * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS thr
      |  FROM lineitem GROUP BY l_partkey)
      |SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS below_thr_revenue,
      |       COUNT(*) AS n
      |FROM lineitem l JOIN t ON l.l_partkey = t.l_partkey
      |WHERE l.l_quantity < t.thr""".stripMargin) { (spark, dir) =>
    val l = Tables.lineitem(spark, dir)
    val thr = l.groupBy(col("l_partkey").as("p_key"))
      .agg((lit(0.5) * sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("thr"))
    // no broadcast hint: the threshold frame is one row PER PART — tiny at
    // test scale (AQE broadcasts it), millions of rows at 100 TB (the
    // groupBy already partitioned it on the join key, so the sort-merge
    // join reuses that exchange)
    l.join(thr, l("l_partkey") === thr("p_key"))
      .filter(col("l_quantity") < col("thr"))
      .agg(sum(dec(col("l_extendedprice"))).cast("double").as("below_thr_revenue"),
        count(lit(1)).as("n"))
  }

  /** String-function pipeline: split/element_at/upper/substring/length,
    * all codegen'd row-local work before a small aggregate.
    */
  val q14Strings: Q = Q.sql(
    "q14_string_funcs",
    "String ops (split, substring, upper, length) + aggregate over part.",
    """SELECT string_split(p_type, ' ')[1] AS type_head,
      |       UPPER(SUBSTRING(p_brand, 1, 5)) AS brand_head,
      |  COUNT(*) AS n,
      |  CAST(SUM(LENGTH(p_name)) AS BIGINT) AS name_chars,
      |  CAST(MIN(p_retailprice) AS DOUBLE) AS min_price
      |FROM part GROUP BY 1, 2 ORDER BY type_head, brand_head""".stripMargin) { (spark, dir) =>
    Tables.part(spark, dir)
      .groupBy(
        split(col("p_type"), " ").getItem(0).as("type_head"),
        upper(substring(col("p_brand"), 1, 5)).as("brand_head"))
      .agg(
        count(lit(1)).as("n"),
        sum(length(col("p_name"))).as("name_chars"),
        min(col("p_retailprice")).cast("double").as("min_price"))
      .orderBy("type_head", "brand_head")
  }

  /** Conditional-aggregate funnel over the events stream table: per user,
    * first signup vs first purchase timestamp and the gap in micros.
    * min(CASE WHEN …) avoids a self-join — one shuffle on user_id.
    */
  val q15Funnel: Q = Q.sql(
    "q15_funnel",
    "signup→purchase funnel per user via filtered min() — no self-join.",
    """SELECT user_id,
      |  MIN(ts) FILTER (WHERE event_type = 'signup') AS first_signup,
      |  MIN(ts) FILTER (WHERE event_type = 'purchase') AS first_purchase,
      |  epoch_us(MIN(ts) FILTER (WHERE event_type = 'purchase'))
      |    - epoch_us(MIN(ts) FILTER (WHERE event_type = 'signup')) AS micros_between,
      |  COUNT(*) AS n_events
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (spark, dir) =>
    val firstSignup = min(when(col("event_type") === "signup", col("ts")))
    val firstPurchase = min(when(col("event_type") === "purchase", col("ts")))
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        firstSignup.as("first_signup"),
        firstPurchase.as("first_purchase"),
        (unix_micros(firstPurchase) - unix_micros(firstSignup)).as("micros_between"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  /** HLL++ approximate distinct. Sketch estimates are engine-specific, so
    * the oracle-checkable claim is the *accuracy contract*: the estimate
    * lands within 5% of the exact count (the sketch runs at rsd=0.01, so
    * the 5% bound holds with wide margin). The oracle emits the exact
    * values plus literal TRUE. At 100 TB this replaces the exact-distinct
    * shuffle with fixed-size mergeable sketches.
    */
  val q16ApproxDistinct: Q = Q.sql(
    "q16_approx_distinct",
    "approx_count_distinct (HLL++) per event_type, checked against its accuracy bound.",
    """SELECT event_type,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
      |  COUNT(*) AS n,
      |  TRUE AS within_5pct
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("exact_users"), col("n"),
        (abs(col("approx_users") - col("exact_users"))
          <= lit(0.05) * col("exact_users")).as("within_5pct"))
      .orderBy("event_type")
  }

  /** Skew-safe two-stage aggregation with explicit salting: events has
    * only 5 event_type keys, so a direct groupBy lands all 100k+ rows of
    * a hot key on one reducer. Stage 1 aggregates (key, salt) across 16
    * salted sub-keys (uniform spread); stage 2 merges the 5×16 partials.
    * Same result as the direct group-by — the oracle computes it that
    * way — at 1/16th the per-reducer skew. (AQE's skew handling covers
    * joins; salting is the aggregation-side counterpart.)
    */
  val q17SaltedAgg: Q = Q.sql(
    "q17_salted_agg",
    "Two-stage salted aggregation over a 5-key hot distribution.",
    """SELECT event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value,
      |  CAST(MIN(value) AS DOUBLE) AS min_value,
      |  CAST(MAX(value) AS DOUBLE) AS max_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (spark, dir) =>
    val salted = Tables.events(spark, dir)
      .withColumn("salt", pmod(col("event_id"), lit(16)))
      .groupBy(col("event_type"), col("salt"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(14,2)")).as("sv"),
        min(col("value")).as("mn"),
        max(col("value")).as("mx"))
    salted.groupBy(col("event_type"))
      .agg(
        sum(col("n")).as("n"),
        sum(col("sv")).cast("double").as("sum_value"),
        min(col("mn")).cast("double").as("min_value"),
        max(col("mx")).cast("double").as("max_value"))
      .orderBy("event_type")
  }

  /** As-of join — the canonical "operator Spark lacks" — composed from
    * built-ins (preference (a) in the extension ladder): tag both sides,
    * union, and carry the latest right-side row forward with a
    * `last(…, ignoreNulls)` running window per key; equal timestamps sort
    * the right side first to get the inclusive `p.ts >= s.ts` boundary.
    * One shuffle on the key, no range cross-join. The oracle is DuckDB's
    * *native* ASOF JOIN — a fully independent implementation agreeing
    * row-for-row. (Right side is deduped to one row per (key, ts) first,
    * which both formulations need for deterministic matches.)
    */
  val q18AsofJoin: Q = Q.sql(
    "q18_asof_join",
    "As-of join (purchase → latest prior signup) via union + carry-forward window.",
    """WITH s AS (
      |  SELECT user_id, ts, MAX(event_id) AS signup_id
      |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2),
      |p AS (
      |  SELECT event_id AS purchase_id, user_id, ts
      |  FROM events WHERE event_type = 'purchase')
      |SELECT p.purchase_id, p.user_id, p.ts AS purchase_ts,
      |       s.signup_id, s.ts AS signup_ts,
      |       epoch_us(p.ts) - epoch_us(s.ts) AS micros_since_signup
      |FROM p ASOF JOIN s ON p.user_id = s.user_id AND p.ts >= s.ts
      |ORDER BY purchase_id""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("signup_id"))
      .select(col("user_id"), col("ts"), lit(1).as("is_right"),
        col("signup_id"), lit(null).cast("long").as("purchase_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(0).as("is_right"),
        lit(null).cast("long").as("signup_id"), col("event_id").as("purchase_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_right").desc,
        coalesce(col("signup_id"), col("purchase_id")))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    signups.unionAll(purchases)
      .withColumn("m_signup_id", last(col("signup_id"), ignoreNulls = true).over(w))
      .withColumn("m_signup_ts",
        last(when(col("is_right") === 1, col("ts")), ignoreNulls = true).over(w))
      .filter(col("is_right") === 0 && col("m_signup_id").isNotNull)
      .select(col("purchase_id"), col("user_id"), col("ts").as("purchase_ts"),
        col("m_signup_id").as("signup_id"), col("m_signup_ts").as("signup_ts"),
        (unix_micros(col("ts")) - unix_micros(col("m_signup_ts"))).as("micros_since_signup"))
      .orderBy("purchase_id")
  }

  /** Exact interpolated percentiles (Spark `percentile` == ANSI
    * `percentile_cont`): median and p90 per priority. Exact percentile
    * needs the group sorted — at 100 TB swap to `approx_percentile`
    * (t-digest) unless exactness is contractual.
    */
  val q19Percentile: Q = Q.sql(
    "q19_percentile",
    "Exact median / p90 per order priority (percentile_cont).",
    """SELECT o_orderpriority,
      |  PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS median_price,
      |  PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY o_totalprice) AS p90_price,
      |  COUNT(*) AS n
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (spark, dir) =>
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        percentile(col("o_totalprice"), lit(0.5)).as("median_price"),
        percentile(col("o_totalprice"), lit(0.9)).as("p90_price"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  /** CUBE grouping sets — all 4 combinations of (returnflag, linestatus)
    * subtotals in one pass (Spark expands to a single aggregate over the
    * grouping-set union; still one shuffle).
    */
  val q20Cube: Q = Q.sql(
    "q20_cube",
    "CUBE(returnflag, linestatus): all subtotal combinations.",
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |       COALESCE(l_linestatus, 'ALL') AS linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin) { (spark, dir) =>
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n"))
      .orderBy("returnflag", "linestatus")
  }

  /** Pivot: returnflag values become columns (one conditional-aggregate
    * pass — exactly what the oracle spells out as CASE WHEN sums).
    */
  val q21Pivot: Q = Q.sql(
    "q21_pivot",
    "Pivot returnflag → columns of decimal-exact quantity sums.",
    """SELECT l_linestatus,
      |  CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS A,
      |  CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS N,
      |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS R
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin) { (spark, dir) =>
    Tables.lineitem(spark, dir)
      .groupBy(col("l_linestatus"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(sum(dec(col("l_quantity"))).cast("double"))
      .orderBy("l_linestatus")
  }

  /** Range join done scalably: clicks within the 10 minutes before each
    * purchase, per user. A naive formulation is a per-user cross join
    * with a range predicate; here both sides are bucketized into 10-min
    * epochs and the purchase probes (bucket, bucket−1), making it an
    * equi-join on (user, bucket) — each qualifying pair matches exactly
    * once since a click lives in one bucket. The range predicate then
    * only filters within tiny buckets. The oracle states the naive
    * inequality join directly — an independent formulation.
    */
  val q22RangeJoin: Q = Q.sql(
    "q22_range_join",
    "Banded range join: clicks in the 10 min before each purchase.",
    """SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
      |       COUNT(*) AS n_clicks,
      |       MIN(epoch_us(p.ts) - epoch_us(c.ts)) AS min_gap_us
      |FROM events p JOIN events c
      |  ON p.user_id = c.user_id
      | AND p.event_type = 'purchase' AND c.event_type = 'click'
      | AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts < p.ts
      |GROUP BY 1, 2, 3 ORDER BY purchase_id""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val bucketUs = 600L * 1000000
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"),
        (unix_micros(col("ts")) / bucketUs).cast("long").as("bucket"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"),
        explode(array((unix_micros(col("ts")) / bucketUs).cast("long"),
          (unix_micros(col("ts")) / bucketUs).cast("long") - 1)).as("bucket"))
    purchases.join(clicks, Seq("user_id", "bucket"))
      .filter(col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
        col("c_ts") < col("p_ts"))
      .groupBy(col("purchase_id"), col("user_id"), col("p_ts"))
      .agg(count(lit(1)).as("n_clicks"),
        min(unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("min_gap_us"))
      .select(col("purchase_id"), col("user_id"), col("p_ts").as("purchase_ts"),
        col("n_clicks"), col("min_gap_us"))
      .orderBy("purchase_id")
  }

  /** Ordered string aggregation (LISTAGG): names of each region's
    * nations, canonically sorted inside the aggregate so the result is a
    * deterministic scalar per group.
    */
  val q23StringAgg: Q = Q.sql(
    "q23_string_agg",
    "Ordered string_agg: nation names per region.",
    """SELECT r.r_name,
      |       string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
      |       COUNT(*) AS n
      |FROM region r JOIN nation n ON r.r_regionkey = n.n_regionkey
      |GROUP BY r.r_name ORDER BY r.r_name""".stripMargin) { (spark, dir) =>
    val r = Tables.region(spark, dir)
    val n = Tables.nation(spark, dir)
    r.join(n, r("r_regionkey") === n("n_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        concat_ws(",", sort_array(collect_list(col("n_name")))).as("nations"),
        count(lit(1)).as("n"))
      .orderBy("r_name")
  }

  /** JSON parsing functions over the events props payload — an extension
    * beyond the reference (which only serializes JSON): path extraction,
    * typed cast, and re-serialization, all per-row map work.
    */
  val q24JsonFuncs: Q = Q.sql(
    "q24_json_funcs",
    "JSON path extraction + typed aggregation over the props payload.",
    """SELECT event_type,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  COUNT(*) FILTER (WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 = 0) AS even_k,
      |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (spark, dir) =>
    val k = get_json_object(col("props"), "$.k").cast("long")
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        sum(k).as("sum_k"),
        count(when(k % 2 === 0, 1)).as("even_k"),
        min(k).as("min_k"),
        max(k).as("max_k"))
      .orderBy("event_type")
  }

  /** Approximate quantiles (the KLL/GK-style mergeable-sketch shape; at
    * 100 TB this replaces the exact-percentile global sort with
    * fixed-size per-partition sketches). Sketch outputs are
    * engine-specific, so — like q16 — the oracle-checkable claim is the
    * accuracy contract: at accuracy 10000 the rank error is ≤ 1e-4·n,
    * so each approximate quantile must land between the exact quantiles
    * one percentile point either side. The oracle emits the exact values
    * and literal TRUE flags.
    */
  val q25ApproxQuantiles: Q = Q.sql(
    "q25_approx_quantiles",
    "approx_percentile per event_type, checked against exact quantile brackets.",
    """SELECT event_type,
      |  ROUND(QUANTILE_CONT(value, 0.5), 6) AS p50,
      |  ROUND(QUANTILE_CONT(value, 0.9), 6) AS p90,
      |  ROUND(QUANTILE_CONT(value, 0.99), 6) AS p99,
      |  TRUE AS ok50, TRUE AS ok90, TRUE AS ok99,
      |  COUNT(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (spark, dir) =>
    // ONE exact-percentile buffer and TWO sketches per group (array-typed
    // quantile lists), not nine independent full-multiset aggregates.
    // The bracket bounds are DISCRETE order statistics (a max-accuracy
    // sketch returns actual data values with < 1-rank error below 1M
    // rows) — interpolated quantiles would be unsound for small groups,
    // where the sketch's data-value answer can sit outside the
    // interpolated band (e.g. 2 rows [0,100]: interpolated q49..q51 is
    // [49,51] but the sketch returns 0).
    val exactQs = array(Seq(0.5, 0.9, 0.99).map(lit): _*)
    val boundQs = array(
      Seq(0.49, 0.51, 0.89, 0.91, 0.98, 1.0).map(lit): _*)
    def ok(i: Int) = element_at(col("ap"), i)
      .between(element_at(col("bd"), 2 * i - 1), element_at(col("bd"), 2 * i))
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        percentile(col("value"), exactQs).as("ex"),
        approx_percentile(col("value"), boundQs, lit(1000000)).as("bd"),
        approx_percentile(col("value"), exactQs, lit(10000)).as("ap"),
        count(lit(1)).as("n"))
      .select(col("event_type"),
        // rounded: the linear-interpolation step ((1-f)·a + f·b) is the
        // one place the exact-percentile path leaves the decimal domain,
        // and the two engines' formulas disagree in the last 2 ulps at
        // interpolated ranks (seen at 10× scale: 236.27 vs
        // 236.26999999999998)
        round(element_at(col("ex"), 1), 6).as("p50"),
        round(element_at(col("ex"), 2), 6).as("p90"),
        round(element_at(col("ex"), 3), 6).as("p99"),
        ok(1).as("ok50"), ok(2).as("ok90"), ok(3).as("ok99"),
        col("n"))
      .orderBy("event_type")
  }

  /** Sliding window frames: 7-row moving sum/count and one-row lag delta
    * per user in event-time order. The frame sum goes through the exact
    * decimal accumulator (frame order is deterministic, but staying
    * decimal keeps the reduction engine-exact); the per-row delta is
    * plain double arithmetic. One shuffle on user_id; frames never leave
    * the partition.
    */
  val q26MovingWindow: Q = Q.sql(
    "q26_moving_window",
    "7-row moving sum + lag delta per user (ROWS BETWEEN frames).",
    """SELECT event_id, user_id,
      |  CAST(SUM(CAST(value AS DECIMAL(14,2))) OVER w7 AS DOUBLE) AS mov_sum7,
      |  COUNT(*) OVER w7 AS n7,
      |  CAST(value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE) AS delta,
      |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |FROM events
      |WINDOW w7 AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val w7 = byUser.rowsBetween(-6, 0)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        sum(dec(col("value"))).over(w7).cast("double").as("mov_sum7"),
        count(lit(1)).over(w7).as("n7"),
        (col("value") - lag(col("value"), 1).over(byUser)).cast("double").as("delta"),
        row_number().over(byUser).as("rn"))
      .orderBy("event_id")
  }

  /** Correlated LATERAL subquery — top-2 customers by balance per
    * nation. Spark plans the correlated limit as a lateral join
    * (DecorrelateInnerQuery rewrites it to a partitioned rank under the
    * hood), so per-key top-k stays a declarative SQL shape instead of a
    * hand-rolled window. Exercises the SQL surface directly
    * (`spark.sql`) over direct file references (`parquet.` paths) — no
    * temp views, so the query mutates no session catalog state and two
    * concurrent runs against different dirs cannot race.
    */
  val q27Lateral: Q = Q.sql(
    "q27_lateral",
    "Correlated LATERAL subquery: top-2 customers by balance per nation.",
    """SELECT n.n_name, t.c_name, CAST(t.c_acctbal AS DOUBLE) AS acctbal
      |FROM nation n,
      |  LATERAL (SELECT c_name, c_acctbal FROM customer c
      |           WHERE c.c_nationkey = n.n_nationkey
      |           ORDER BY c_acctbal DESC, c_name LIMIT 2) t
      |ORDER BY n_name, acctbal DESC, c_name""".stripMargin) { (spark, dir) =>
    val d = dir.stripSuffix("/")
    spark.sql(
      s"""SELECT n.n_name, t.c_name, CAST(t.c_acctbal AS DOUBLE) AS acctbal
         |FROM parquet.`$d/nation.parquet` n,
         |  LATERAL (SELECT c_name, c_acctbal FROM parquet.`$d/customer.parquet` c
         |           WHERE c.c_nationkey = n.n_nationkey
         |           ORDER BY c_acctbal DESC, c_name LIMIT 2) t
         |ORDER BY n_name, acctbal DESC, c_name""".stripMargin)
  }

  /** Arbitrary GROUPING SETS (rollup q10 and cube q20 are the fixed
    * shapes; this is the general form): totals by (priority, status),
    * by priority alone, and the grand total in ONE aggregation pass —
    * Spark expands the sets into a single Expand + hash aggregate, so
    * the fact table is scanned once, not once per set.
    */
  val q28GroupingSets: Q = Q.sql(
    "q28_grouping_sets",
    "GROUPING SETS ((priority,status),(priority),()) in one aggregation pass.",
    """SELECT o_orderpriority, o_orderstatus,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  GROUPING(o_orderpriority) + 2 * GROUPING(o_orderstatus) AS gid
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), ())
      |ORDER BY gid, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin) { (spark, dir) =>
    val d = dir.stripSuffix("/")
    spark.sql(
      s"""SELECT o_orderpriority, o_orderstatus,
         |  COUNT(*) AS n,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
         |  CAST(GROUPING(o_orderpriority) + 2 * GROUPING(o_orderstatus) AS BIGINT) AS gid
         |FROM parquet.`$d/orders.parquet`
         |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), ())
         |ORDER BY gid, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin)
  }

  /** Time-series gap fill: sparse per-(user, hour) aggregates densified
    * over the full hourly spine with last-observation-carried-forward.
    * The spine is generated per user from global bounds (a bounded
    * explode — hours × users, never rows × rows), the sparse aggregates
    * left-join it on (user, hour), and the carry-forward is
    * `last(value, ignoreNulls)` over an unbounded-preceding window per
    * user — one shuffle on user_id for join and window alike.
    */
  val q29GapFill: Q = Q.sql(
    "q29_gapfill",
    "Densify sparse hourly per-user sums over the full spine with carry-forward.",
    """WITH b AS (
      |  SELECT date_trunc('hour', MIN(ts)) AS t0, date_trunc('hour', MAX(ts)) AS t1 FROM events),
      |spine AS (
      |  SELECT u.user_id, g.h
      |  FROM (SELECT DISTINCT user_id FROM events WHERE user_id < 20) u
      |  CROSS JOIN (SELECT UNNEST(generate_series(t0, t1, INTERVAL 1 HOUR)) AS h FROM b) g),
      |agg AS (
      |  SELECT user_id, date_trunc('hour', ts) AS h,
      |         CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS v
      |  FROM events WHERE user_id < 20 GROUP BY 1, 2)
      |SELECT s.user_id, s.h AS hour,
      |       a.v IS NOT NULL AS observed,
      |       COALESCE(a.v, LAST_VALUE(a.v IGNORE NULLS) OVER (
      |         PARTITION BY s.user_id ORDER BY s.h
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS v_filled
      |FROM spine s LEFT JOIN agg a ON s.user_id = a.user_id AND s.h = a.h
      |ORDER BY s.user_id, s.h""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir).filter(col("user_id") < 20)
    val bounds = Tables.events(spark, dir)
      .agg(date_trunc("hour", min(col("ts"))).as("t0"),
        date_trunc("hour", max(col("ts"))).as("t1"))
    val spine = ev.select(col("user_id")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("user_id"),
        explode(sequence(col("t0"), col("t1"), expr("INTERVAL 1 HOUR"))).as("hour"))
    val agg = ev
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
      .agg(sum(col("value").cast("decimal(14,2)")).cast("double").as("v"))
    val carry = Window.partitionBy(col("user_id")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(agg, Seq("user_id", "hour"), "left")
      .select(col("user_id"), col("hour"),
        col("v").isNotNull.as("observed"),
        coalesce(col("v"), last(col("v"), ignoreNulls = true).over(carry)).as("v_filled"))
      .orderBy("user_id", "hour")
  }

  /** UNPIVOT (melt) — the inverse of q21's pivot and the reshape every
    * wide feature table goes through before per-feature aggregation:
    * part's numeric columns become (feature, value) rows, then a
    * per-feature summary. The melt is a zero-shuffle Expand (row count
    * × #features, no exchange); only the summary aggregates.
    */
  val q30Unpivot: Q = Q.sql(
    "q30_unpivot",
    "UNPIVOT part's numeric columns to (feature, value) rows + per-feature summary.",
    """WITH m AS (
      |  SELECT p_partkey, feature, CAST(value AS DOUBLE) AS value
      |  FROM (SELECT p_partkey, CAST(p_size AS DOUBLE) AS size_f, CAST(p_retailprice AS DOUBLE) AS price_f FROM part)
      |  UNPIVOT (value FOR feature IN (size_f, price_f)))
      |SELECT feature, COUNT(*) AS n,
      |       CAST(MIN(value) AS DOUBLE) AS min_v,
      |       CAST(MAX(value) AS DOUBLE) AS max_v,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
      |FROM m GROUP BY feature ORDER BY feature""".stripMargin) { (spark, dir) =>
    val d = dir.stripSuffix("/")
    spark.sql(
      s"""WITH m AS (
         |  SELECT p_partkey, feature, CAST(value AS DOUBLE) AS value
         |  FROM (SELECT p_partkey, CAST(p_size AS DOUBLE) AS size_f, CAST(p_retailprice AS DOUBLE) AS price_f
         |        FROM parquet.`$d/part.parquet`)
         |  UNPIVOT (value FOR feature IN (size_f, price_f)))
         |SELECT feature, COUNT(*) AS n,
         |       CAST(MIN(value) AS DOUBLE) AS min_v,
         |       CAST(MAX(value) AS DOUBLE) AS max_v,
         |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
         |FROM m GROUP BY feature ORDER BY feature""".stripMargin)
  }

  /** Salted SHUFFLE join under key skew — the join-side companion of
    * [[q17SaltedAgg]]: ~75% of events map to one hot nation key, which
    * in a plain shuffle join lands on one task. The fact side salts
    * each row into one of 16 sub-keys; the dimension side replicates
    * every row 16× (explode), so the hot key spreads over 16 tasks and
    * the join key becomes (key, salt). Here the dim is 25 rows (you'd
    * broadcast it in practice — `q3` shows that); the pattern is the
    * one that applies when BOTH sides are too big to broadcast and AQE
    * skew splitting isn't available/enough. The oracle is the plain
    * unsalted join — salting must be invisible in the result.
    */
  val q31SaltedJoin: Q = Q.sql(
    "q31_salted_join",
    "Skewed fact->dim shuffle join via 16-way salt replication (result equals the plain join).",
    """WITH f AS (
      |  SELECT CASE WHEN event_id % 4 < 3 THEN 0 ELSE event_id % 25 END AS nkey,
      |         value
      |  FROM events)
      |SELECT n.n_name AS nation, COUNT(*) AS n,
      |       CAST(SUM(CAST(f.value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
      |FROM f JOIN nation n ON f.nkey = n.n_nationkey
      |GROUP BY 1 ORDER BY nation""".stripMargin) { (spark, dir) =>
    val SALT = 16
    val fact = Tables.events(spark, dir)
      .select(when(col("event_id") % 4 < 3, lit(0L))
          .otherwise(col("event_id") % 25).as("nkey"),
        col("value"),
        pmod(col("event_id"), lit(SALT)).as("salt"))
    val dim = Tables.nation(spark, dir)
      .select(col("n_nationkey").cast("long").as("nkey"), col("n_name"),
        explode(sequence(lit(0), lit(SALT - 1))).as("salt"))
    // merge hint pins the shuffle join this pattern exists for (the
    // 25×16-row dim would otherwise auto-broadcast and hide the point)
    fact.hint("merge")
      .join(dim, Seq("nkey", "salt"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(14,2)")).cast("double").as("sum_value"))
      .orderBy("nation")
  }

  /** Latest row per key — the CDC/upsert compaction every incremental
    * ingest runs (also "dedupe by key, keep newest"). One window shuffle
    * on the key; ties break on event_id so the survivor is total-order
    * deterministic. At 100 TB the same plan applies per partition-date,
    * or `max_by` when only a couple of columns ride along.
    */
  val q32LatestPerKey: Q = Q.sql(
    "q32_latest_per_key",
    "Latest event per user (CDC-style keep-newest compaction).",
    """WITH r AS (
      |  SELECT user_id, event_id, ts, event_type, CAST(value AS DOUBLE) AS value,
      |         ROW_NUMBER() OVER (PARTITION BY user_id
      |           ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |SELECT user_id, event_id, ts, event_type, value
      |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        col("value").cast("double").as("value"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
      .orderBy("user_id")
  }

  /** The full ranking-function family in one window pass — rank,
    * dense_rank, percent_rank, cume_dist share an order-by-value window
    * (ties collapse identically in any engine: every ranking value is a
    * pure function of the tie-group's position counts), while ntile
    * needs a TOTAL order (its value depends on row position, not rank)
    * so its window adds the event_id tiebreak. percent_rank/cume_dist
    * are exact rationals of integer counts; rounded only at emission.
    * One shuffle on event_type; both windows share the partition sort.
    *
    * Scale honesty: event_type is LOW-cardinality (~5 keys), so at
    * 100 TB each key's whole partition funnels through one task — this
    * query pins the five ranking functions' SEMANTICS; a production
    * rank over a low-cardinality key gets the c6 two-phase treatment
    * (range-partition on the order key, local ranks, cumulative
    * offsets), which composes with every function here except ntile
    * (whose tile boundaries need the global counts — one extra
    * broadcast of per-partition totals).
    */
  val q33RankFamily: Q = Q.sql(
    "q33_rank_family",
    "rank / dense_rank / percent_rank / cume_dist / ntile(4) per event_type by value.",
    """SELECT event_type, event_id, CAST(value AS DOUBLE) AS value,
      |  RANK()         OVER wv AS rnk,
      |  DENSE_RANK()   OVER wv AS drnk,
      |  ROUND(PERCENT_RANK() OVER wv, 6) AS prnk,
      |  ROUND(CUME_DIST()    OVER wv, 6) AS cdist,
      |  NTILE(4) OVER (PARTITION BY event_type ORDER BY CAST(value AS DOUBLE), event_id) AS tile
      |FROM events
      |WINDOW wv AS (PARTITION BY event_type ORDER BY CAST(value AS DOUBLE))
      |ORDER BY event_type, value, event_id""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val wv = Window.partitionBy(col("event_type")).orderBy(col("value"))
    val wt = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"),
        col("value").cast("double").as("value"))
      .select(col("event_type"), col("event_id"), col("value"),
        rank().over(wv).cast("long").as("rnk"),
        dense_rank().over(wv).cast("long").as("drnk"),
        round(percent_rank().over(wv), 6).as("prnk"),
        round(cume_dist().over(wv), 6).as("cdist"),
        ntile(4).over(wt).cast("long").as("tile"))
      .orderBy("event_type", "value", "event_id")
  }

  /** CORRELATED scalar subquery through the real SQL surface — unlike
    * [[q13ScalarSubquery]] (hand-decorrelated join), this hands Catalyst
    * the correlated form and exercises its decorrelation rewrite
    * (subquery → aggregate + join on the correlation key). The
    * threshold is an exact decimal sum divided once — a boundary row
    * would otherwise flip membership between engines. Direct-path SQL
    * (q27/q28 pattern) keeps the catalog untouched.
    */
  val q34CorrelatedSubquery: Q = Q.sql(
    "q34_correlated_subquery",
    "Orders above 2x their customer's average price (correlated scalar subquery, decorrelated by Catalyst).",
    """SELECT o.o_orderkey, o.o_custkey, CAST(o.o_totalprice AS DOUBLE) AS totalprice
      |FROM orders o
      |WHERE CAST(o.o_totalprice AS DOUBLE) >
      |  2.0 * (SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
      |         FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin) { (spark, dir) =>
    spark.sql(
      s"""SELECT o.o_orderkey, o.o_custkey, CAST(o.o_totalprice AS DOUBLE) AS totalprice
         |FROM parquet.`$dir/orders.parquet` o
         |WHERE CAST(o.o_totalprice AS DOUBLE) >
         |  2.0 * (SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
         |         FROM parquet.`$dir/orders.parquet` o2 WHERE o2.o_custkey = o.o_custkey)
         |ORDER BY o_orderkey""".stripMargin)
  }

  /** SCD2 dimension build: each customer's order history becomes validity
    * intervals — row k is valid from its own date until the next order's
    * date (open-ended for the latest). The window is per-customer with a
    * deterministic (date, orderkey) tiebreak, the partition key is the
    * natural distribution key, and at 100 TB this is one shuffle on
    * o_custkey with no skew hazard (per-customer history is small).
    * The CDC complement of q32's latest-per-key.
    */
  val q35Scd2: Q = Q.sql(
    "q35_scd2",
    "SCD2 validity intervals per customer from order history (lead window, open-ended current row).",
    """SELECT o_custkey, o_orderkey, o_orderdate AS valid_from,
      |       LEAD(o_orderdate) OVER w AS valid_to,
      |       LEAD(o_orderdate) OVER w IS NULL AS is_current
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").as("valid_from"),
        lead(col("o_orderdate"), 1).over(w).as("valid_to"))
      .withColumn("is_current", col("valid_to").isNull)
      .orderBy("o_custkey", "valid_from", "o_orderkey")
  }

  /** Incremental aggregation — the batch half of the streaming-batch
    * unification story: a pre-aggregated STATE table (events before the
    * split point) is combined with a DELTA batch (events after it)
    * purely by merging partial aggregates — count adds, sum adds,
    * min/max take least/greatest — without ever re-reading the state's
    * raw rows. At 100 TB this is how daily aggregates actually run: the
    * state table is millions of rows, the raw history is petabytes, and
    * correctness rests on the aggregates being MERGEABLE (the same
    * property Spark's own partial aggregation uses per-partition). The
    * split point is the integer midpoint of the event-time range —
    * derived from the data, deterministic. Oracle: one direct aggregate
    * over all events; any merge error breaks the hash.
    */
  val q36IncrementalAgg: Q = Q.sql(
    "q36_incremental_agg",
    "State + delta partial-aggregate merge (count/sum/min/max) vs direct full aggregation.",
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value,
      |  CAST(MIN(value) AS DOUBLE) AS min_value,
      |  CAST(MAX(value) AS DOUBLE) AS max_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("value"), unix_micros(col("ts")).as("us"))
    val mid = ev.agg(((min(col("us")) + max(col("us"))) / 2).cast("long").as("mid"))
    def partial(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(14,2)")).as("psum"),
        min(col("value")).as("pmin"), max(col("value")).as("pmax"))
    val withMid = ev.crossJoin(broadcast(mid))
    val state = partial(withMid.filter(col("us") < col("mid")))
    val delta = partial(withMid.filter(col("us") >= col("mid")))
    // the merge: group the two partial frames on the key and COMBINE —
    // no raw state rows are touched
    state.union(delta)
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n"),
        sum(col("psum")).cast("double").as("sum_value"),
        min(col("pmin")).cast("double").as("min_value"),
        max(col("pmax")).cast("double").as("max_value"))
      .orderBy("event_type")
  }

  /** Column profiler — the ANALYZE-style data-quality sweep every
    * ingestion pipeline runs first: per column, row/null/distinct counts
    * and min/max rendered through a canonical string form. Numerics
    * round-trip through DECIMAL(18,2) so both engines format identically
    * (raw double→string formatting differs between engines); timestamps
    * through DATE. One wide aggregate computes every metric in a single
    * scan (Spark plans multi-distinct aggregates with one Expand), then a
    * literal unpivot shapes the row-per-column report.
    */
  val dp1Profile: Q = Q.sql(
    "dp1_profile",
    "Single-scan per-column profile of lineitem: counts, nulls, distincts, canonical min/max.",
    """WITH m AS (
      |  SELECT COUNT(*) AS n,
      |    COUNT(l_quantity) AS c1, COUNT(DISTINCT l_quantity) AS d1,
      |      CAST(CAST(MIN(l_quantity) AS DECIMAL(18,2)) AS VARCHAR) AS mn1,
      |      CAST(CAST(MAX(l_quantity) AS DECIMAL(18,2)) AS VARCHAR) AS mx1,
      |    COUNT(l_extendedprice) AS c2, COUNT(DISTINCT l_extendedprice) AS d2,
      |      CAST(CAST(MIN(l_extendedprice) AS DECIMAL(18,2)) AS VARCHAR) AS mn2,
      |      CAST(CAST(MAX(l_extendedprice) AS DECIMAL(18,2)) AS VARCHAR) AS mx2,
      |    COUNT(l_returnflag) AS c3, COUNT(DISTINCT l_returnflag) AS d3,
      |      MIN(l_returnflag) AS mn3, MAX(l_returnflag) AS mx3,
      |    COUNT(l_shipdate) AS c4, COUNT(DISTINCT l_shipdate) AS d4,
      |      CAST(CAST(MIN(l_shipdate) AS DATE) AS VARCHAR) AS mn4,
      |      CAST(CAST(MAX(l_shipdate) AS DATE) AS VARCHAR) AS mx4
      |  FROM lineitem)
      |SELECT col_name, n AS n_rows, n - c AS n_nulls, d AS n_distinct,
      |       mn AS min_str, mx AS max_str
      |FROM (
      |  SELECT n, 'l_quantity' AS col_name, c1 AS c, d1 AS d, mn1 AS mn, mx1 AS mx FROM m
      |  UNION ALL SELECT n, 'l_extendedprice', c2, d2, mn2, mx2 FROM m
      |  UNION ALL SELECT n, 'l_returnflag', c3, d3, mn3, mx3 FROM m
      |  UNION ALL SELECT n, 'l_shipdate', c4, d4, mn4, mx4 FROM m)
      |ORDER BY col_name""".stripMargin) { (spark, dir) =>
    val li = Tables.lineitem(spark, dir)
    // row metrics in ONE scan; the four distinct counts as SEPARATE
    // single-distinct aggregates — a lone count(distinct) plans as a
    // plain two-phase distinct aggregate (shuffle only the distinct
    // values), whereas 4 distinct columns in one aggregate force an
    // Expand that replicates every row 5× before the shuffle (measured
    // 6-8s vs ~2s at sf0.1). Each extra scan is a column-pruned parquet
    // pass — at 100 TB, 4 narrow scans beat one 5× row explosion.
    val base = li.agg(
      count(lit(1)).as("n"),
      count(col("l_quantity")).as("c1"),
      min(col("l_quantity")).cast("decimal(18,2)").cast("string").as("mn1"),
      max(col("l_quantity")).cast("decimal(18,2)").cast("string").as("mx1"),
      count(col("l_extendedprice")).as("c2"),
      min(col("l_extendedprice")).cast("decimal(18,2)").cast("string").as("mn2"),
      max(col("l_extendedprice")).cast("decimal(18,2)").cast("string").as("mx2"),
      count(col("l_returnflag")).as("c3"),
      min(col("l_returnflag")).as("mn3"),
      max(col("l_returnflag")).as("mx3"),
      count(col("l_shipdate")).as("c4"),
      min(col("l_shipdate")).cast("date").cast("string").as("mn4"),
      max(col("l_shipdate")).cast("date").cast("string").as("mx4"))
    val m = Seq("l_quantity" -> "d1", "l_extendedprice" -> "d2",
      "l_returnflag" -> "d3", "l_shipdate" -> "d4")
      .map { case (c, alias) => li.agg(countDistinct(col(c)).as(alias)) }
      .foldLeft(base)((acc, d) => acc.crossJoin(broadcast(d)))
    // literal unpivot via stack() so the whole report stays ONE scan —
    // a union of per-column selects would re-run the aggregate per branch
    m.select(expr(
      """stack(4,
        |  'l_quantity',      n, n - c1, d1, mn1, mx1,
        |  'l_extendedprice', n, n - c2, d2, mn2, mx2,
        |  'l_returnflag',    n, n - c3, d3, mn3, mx3,
        |  'l_shipdate',      n, n - c4, d4, mn4, mx4
        |) AS (col_name, n_rows, n_nulls, n_distinct, min_str, max_str)""".stripMargin))
      .orderBy("col_name")
  }

  /** Runtime-filter join: a selective dim predicate (top ~4% of orders
    * by price) reaches the FACT scan as an injected bloom filter —
    * Catalyst's InjectRuntimeFilter plants a `might_contain` probe on
    * `l_orderkey` built from the filtered orders side, so lineitem rows
    * with no chance of joining die at the scan instead of riding the
    * shuffle. The 100 TB point of the pattern: the fact-side shuffle —
    * the dominant cost of a selective fact⋈dim join — shrinks by the
    * dim predicate's selectivity before a single row moves.
    *
    * Runs on a child session (shared SparkContext, own SQL conf):
    * injection is gated by `applicationSideScanSizeThreshold` = 10 GB by
    * default, sized for real clusters — the child session lowers it so
    * the plan DEMONSTRABLY carries the filter at gate scale (asserted in
    * `RelationalSpec`) without perturbing any other query's planning.
    * The merge hint keeps the join a shuffle join — broadcast would hide
    * the pattern (a broadcast join semi-filters for free; q3 shows it).
    * The filter is a pure optimization: the oracle is the plain join.
    */
  val q37BloomJoin: Q = Q.sql(
    "q37_bloom_join",
    "Selective dim predicate pushed to the fact scan as an injected runtime bloom filter.",
    """SELECT o.o_orderpriority, COUNT(*) AS n_lines,
      |       CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |WHERE o.o_totalprice > 480000
      |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin) { (spark, dir) =>
    bloomJoinFrame(spark, dir)
  }

  /** q37's frame on its bloom-enabled child session — factored out so the
    * plan spec asserts on exactly what the gate runs.
    */
  def bloomJoinFrame(spark: SparkSession, dir: String): DataFrame = {
    val s = bloomSessions(spark, ()) {
      val child = spark.newSession()
      child.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      child
    }
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_quantity")).hint("merge")
      .join(Tables.orders(s, dir)
          .filter(col("o_totalprice") > 480000)
          .select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"))
      .orderBy("o_orderpriority")
  }

  /** One bloom-enabled child session per parent session. */
  private val bloomSessions = Pin.Shared.memo[Unit, SparkSession]

  private val HIST_BUCKETS = 16

  /** Equi-width histograms for three lineitem numeric columns — the
    * second half of a column profiler (dp1 gives the moments, this gives
    * the shape). Two narrow scans total: one tiny min/max aggregate
    * (broadcast back as a single row), one pass that buckets all three
    * columns via a literal `stack` unpivot and counts (col, bucket)
    * groups with map-side partials — the 3× row replication carries two
    * doubles per row into an aggregate of ≤ 3·[[HIST_BUCKETS]] groups, so
    * the combine collapses it before the shuffle. At 100 TB this is the
    * standard histogram-build: no per-column repeat scans, no driver-side
    * bound collection (the bounds row rides a broadcast join).
    *
    * Determinism: bucket edges are pure double arithmetic from the
    * min/max — both engines evaluate the IDENTICAL expression tree
    * left-to-right in IEEE doubles, so edges and bucket ids match
    * bit-for-bit (same reasoning as the fixed-point graph family, but
    * division is exact per-op here, no reduction-order term).
    */
  val dp3Histogram: Q = Q.sql(
    "dp3_histogram",
    s"Single-pass equi-width $HIST_BUCKETS-bucket histograms of three lineitem columns.",
    s"""WITH b AS (
       |  SELECT CAST(l_quantity AS DOUBLE) AS q,
       |         CAST(l_extendedprice AS DOUBLE) AS p,
       |         CAST(l_discount AS DOUBLE) AS d
       |  FROM lineitem),
       |m AS (
       |  SELECT MIN(q) AS mnq, MAX(q) AS mxq, MIN(p) AS mnp, MAX(p) AS mxp,
       |         MIN(d) AS mnd, MAX(d) AS mxd
       |  FROM b),
       |s AS (
       |  SELECT 'l_quantity' AS col_name, q AS x, mnq AS mn, mxq AS mx FROM b, m
       |  UNION ALL SELECT 'l_extendedprice', p, mnp, mxp FROM b, m
       |  UNION ALL SELECT 'l_discount', d, mnd, mxd FROM b, m),
       |g AS (
       |  SELECT col_name,
       |         LEAST(${HIST_BUCKETS - 1},
       |               CAST(FLOOR((x - mn) * $HIST_BUCKETS / (mx - mn)) AS BIGINT)) AS bucket,
       |         mn, mx, COUNT(*) AS n_rows
       |  FROM s GROUP BY 1, 2, 3, 4)
       |SELECT col_name, bucket,
       |       mn + bucket * ((mx - mn) / $HIST_BUCKETS) AS bucket_lo,
       |       mn + (bucket + 1) * ((mx - mn) / $HIST_BUCKETS) AS bucket_hi,
       |       n_rows
       |FROM g ORDER BY col_name, bucket""".stripMargin) { (spark, dir) =>
    val li = Tables.lineitem(spark, dir)
      .select(col("l_quantity").cast("double").as("q"),
        col("l_extendedprice").cast("double").as("p"),
        col("l_discount").cast("double").as("d"))
    val bounds = li.agg(
      min(col("q")).as("mnq"), max(col("q")).as("mxq"),
      min(col("p")).as("mnp"), max(col("p")).as("mxp"),
      min(col("d")).as("mnd"), max(col("d")).as("mxd"))
    li.crossJoin(broadcast(bounds))
      .select(expr(
        """stack(3,
          |  'l_quantity',      q, mnq, mxq,
          |  'l_extendedprice', p, mnp, mxp,
          |  'l_discount',      d, mnd, mxd
          |) AS (col_name, x, mn, mx)""".stripMargin))
      .select(col("col_name"),
        least(lit(HIST_BUCKETS - 1),
          floor((col("x") - col("mn")) * HIST_BUCKETS / (col("mx") - col("mn")))
            .cast("bigint")).as("bucket"),
        col("mn"), col("mx"))
      .groupBy(col("col_name"), col("bucket"), col("mn"), col("mx"))
      .agg(count(lit(1)).as("n_rows"))
      .select(col("col_name"), col("bucket"),
        (col("mn") + col("bucket") * ((col("mx") - col("mn")) / HIST_BUCKETS)).as("bucket_lo"),
        (col("mn") + (col("bucket") + 1) * ((col("mx") - col("mn")) / HIST_BUCKETS)).as("bucket_hi"),
        col("n_rows"))
      .orderBy("col_name", "bucket")
  }

  /** Peak session concurrency per hour — the interval/sweep-line
    * operator: how many 30-minute-gap user sessions are simultaneously
    * open. The naive formulation is an interval self-join (every session
    * × every overlapping session — O(n²) on busy hours); the sweep line
    * reduces it to boundary events (+1 at session start, −1 at end) and
    * ONE running sum in global (t, delta) order.
    *
    * The running sum is the scale hazard: a bare `Window.orderBy` funnels
    * every boundary through one task. Same cure as c6 — two-phase:
    * range-partition on the sweep key, partition-local running sums, then
    * add per-partition offsets (the offsets frame is #partitions rows).
    * Determinism under ties: equal (t, delta) rows may order arbitrarily,
    * but a tie group's prefix sums form the same value MULTISET in any
    * order (ends sort before starts at equal t via delta asc, so the
    * "free before claim" convention is fixed), and the hourly MAX/COUNT
    * read only that multiset — bit-stable on both engines.
    */
  val q38PeakConcurrency: Q = Q.sql(
    "q38_peak_concurrency",
    "Peak concurrent 30-min-gap sessions per hour via two-phase sweep line.",
    """WITH flagged AS (
      |  SELECT user_id, ts,
      |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS brk
      |  FROM events),
      |numbered AS (
      |  SELECT user_id, ts,
      |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged),
      |sess AS (
      |  SELECT MIN(ts) AS ss, MAX(ts) + INTERVAL 30 MINUTE AS se
      |  FROM numbered GROUP BY user_id, sid),
      |b AS (
      |  SELECT ss AS t, 1 AS delta FROM sess
      |  UNION ALL SELECT se, -1 FROM sess),
      |r AS (
      |  SELECT t, CAST(SUM(delta) OVER (ORDER BY t, delta ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running
      |  FROM b)
      |SELECT date_trunc('hour', t) AS hour, MAX(running) AS peak_concurrent,
      |       COUNT(*) AS n_boundaries
      |FROM r GROUP BY 1 ORDER BY hour""".stripMargin) { (spark, dir) =>
    val sess = Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("ss"),
        col("session_window.end").as("se"))
    // both boundary kinds via map-side explode, NOT union(starts, ends):
    // the union's branches would each recompute the session aggregate
    val b = sess
      .select(explode(array(
        struct(col("ss").as("t"), lit(1).as("delta")),
        struct(col("se").as("t"), lit(-1).as("delta")))).as("e"))
      .select(col("e.t").as("t"), col("e.delta").as("delta"))
    // Phase 1: range partitioning makes partition i's keys precede
    // partition i+1's, so local running sums + a per-partition base offset
    // reconstruct the global sweep without a single-task sort.
    val local = b.repartitionByRange(col("t"), col("delta"))
      .withColumn("pid", spark_partition_id())
      .withColumn("run_local", sum(col("delta")).over(
        Window.partitionBy("pid").orderBy("t", "delta")
          .rowsBetween(Window.unboundedPreceding, 0)))
      // pinned against double materialization of the sampled range
      // exchange (see Caliper.c6AttemptSeq)
      .localCheckpoint()
    // Phase 2: offsets frame has #partitions rows — the only ordered
    // window left is O(#partitions), data-volume-independent.
    val offsets = local.groupBy("pid")
      .agg(sum(col("delta")).as("tot"))
      .withColumn("offset",
        coalesce(sum("tot").over(
          Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("pid", "offset")
    local.join(broadcast(offsets), "pid")
      .select(col("t"),
        (col("offset") + col("run_local")).cast("bigint").as("running"))
      .groupBy(date_trunc("hour", col("t")).as("hour"))
      .agg(max(col("running")).as("peak_concurrent"),
        count(lit(1)).as("n_boundaries"))
      .orderBy("hour")
  }

  /** Single-scan exact Pearson correlation for the three lineitem
    * measure columns — the dependence half of the column profiler (dp1
    * moments, dp3 shapes, dp4 relationships). All accumulation is
    * integer-exact: values become ×100 fixed-point BIGINTs at the scan
    * (2-decimal money-shaped inputs, so ROUND(x·100) is lossless), the
    * ten sufficient statistics (n, Σx, Σx², Σxy per pair) accumulate in
    * one aggregate over one scan, and the correlation numerators
    * n·Σxy − Σx·Σy are formed in 38-digit exact arithmetic (DECIMAL on
    * Spark, HUGEINT on DuckDB) before ONE final cast to double — so
    * reduction order cannot perturb the result on either engine. Scale:
    * this is a map-side-combined aggregate to a single row (the classic
    * sufficient-statistics pattern); adding columns grows the row, never
    * the pass count. Σ(p²) at ×100 scale tops 2⁶³ around 1 B rows —
    * hence the DECIMAL(38,0)/HUGEINT accumulators, good to ~10²⁴ rows.
    */
  val dp4Correlation: Q = Q.sql(
    "dp4_correlation",
    "Exact-arithmetic Pearson correlation matrix of three lineitem columns in one scan.",
    """WITH f AS (
      |  SELECT CAST(ROUND(l_quantity * 100) AS BIGINT) AS q,
      |         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS p,
      |         CAST(ROUND(l_discount * 100) AS BIGINT) AS d
      |  FROM lineitem),
      |s AS (
      |  SELECT COUNT(*) AS n,
      |         SUM(q) AS sq, SUM(p) AS sp, SUM(d) AS sd,
      |         SUM(q*q) AS sqq, SUM(p*p) AS spp, SUM(d*d) AS sdd,
      |         SUM(q*p) AS sqp, SUM(q*d) AS sqd, SUM(p*d) AS spd
      |  FROM f),
      |pairs AS (
      |  SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y, n,
      |         n*sqp - sq*sp AS cov_num, n*sqq - sq*sq AS varx, n*spp - sp*sp AS vary
      |  FROM s
      |  UNION ALL
      |  SELECT 'l_quantity', 'l_discount', n, n*sqd - sq*sd, n*sqq - sq*sq, n*sdd - sd*sd
      |  FROM s
      |  UNION ALL
      |  SELECT 'l_extendedprice', 'l_discount', n, n*spd - sp*sd, n*spp - sp*sp, n*sdd - sd*sd
      |  FROM s)
      |SELECT col_x, col_y, CAST(n AS BIGINT) AS n,
      |       ROUND(CAST(cov_num AS DOUBLE) / SQRT(CAST(varx AS DOUBLE) * CAST(vary AS DOUBLE)), 6) AS corr
      |FROM pairs ORDER BY col_x, col_y""".stripMargin) { (spark, dir) =>
    val f = Tables.lineitem(spark, dir).select(
      round(col("l_quantity") * 100, 0).cast("bigint").as("q"),
      round(col("l_extendedprice") * 100, 0).cast("bigint").as("p"),
      round(col("l_discount") * 100, 0).cast("bigint").as("d"))
    // BIGINT per-row products (max ~1e14, no overflow) summed in
    // DECIMAL(38,0) (Σp² passes 2^63 well inside the gate sfs)
    def sdec(c: Column): Column = sum(c.cast("decimal(38,0)"))
    val s = f.agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sdec(col("q")).as("sq"), sdec(col("p")).as("sp"), sdec(col("d")).as("sd"),
      sdec(col("q") * col("q")).as("sqq"), sdec(col("p") * col("p")).as("spp"),
      sdec(col("d") * col("d")).as("sdd"), sdec(col("q") * col("p")).as("sqp"),
      sdec(col("q") * col("d")).as("sqd"), sdec(col("p") * col("d")).as("spd"))
    s.select(expr(
        """stack(3,
          |  'l_quantity', 'l_extendedprice', n, n*sqp - sq*sp, n*sqq - sq*sq, n*spp - sp*sp,
          |  'l_quantity', 'l_discount',      n, n*sqd - sq*sd, n*sqq - sq*sq, n*sdd - sd*sd,
          |  'l_extendedprice', 'l_discount', n, n*spd - sp*sd, n*spp - sp*sp, n*sdd - sd*sd
          |) AS (col_x, col_y, n0, cov_num, varx, vary)""".stripMargin))
      .select(col("col_x"), col("col_y"), col("n0").cast("bigint").as("n"),
        round(col("cov_num").cast("double") /
          sqrt(col("varx").cast("double") * col("vary").cast("double")), 6)
          .as("corr"))
      .orderBy("col_x", "col_y")
  }

  /** The distribution window family — NTILE / PERCENT_RANK / CUME_DIST —
    * over customer balances per market segment. The order key includes
    * c_custkey as a tiebreak: NTILE assigns by row POSITION, so without a
    * total order tied balances would land in engine-dependent tiles.
    *
    * Scale shape: one window partitioned by segment (hash shuffle on the
    * partition key, per-partition sort — no global sort); the trailing
    * orderBy exists only for oracle hash determinism.
    */
  val q39Distribution: Q = Q.sql(
    "q39_distribution_windows",
    "NTILE(4) / PERCENT_RANK / CUME_DIST over customer balances per market segment.",
    """SELECT c_custkey, c_mktsegment AS segment,
      |       CAST(c_acctbal AS DOUBLE) AS acctbal,
      |       CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
      |       ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
      |       ROUND(CUME_DIST() OVER w, 6) AS cume
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
      |ORDER BY c_custkey""".stripMargin) { (spark, dir) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment").as("segment"),
        col("c_acctbal").cast("double").as("acctbal"),
        ntile(4).over(w).cast("bigint").as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
      .orderBy("c_custkey")
  }

  /** 3σ outlier detection per event_type in EXACT arithmetic: values are
    * fixed-pointed (×100 → BIGINT), so per-group n/Σv/Σv² are exact
    * integers and the outlier test |n·v − Σv| > 3·√(n·Σv² − (Σv)²) is an
    * integer comparison against one deterministic double sqrt — the dp4
    * trick applied to anomaly detection, where a floating-point mean
    * would make boundary rows flip between engines by reduction order.
    *
    * Scale shape: one scan → per-type partial-aggregated stats (5 rows)
    * broadcast back onto the stream for the per-row test — the classic
    * two-pass z-score at any scale, no window, no global sort except the
    * oracle-determinism orderBy.
    */
  val dp5Outliers: Q = Q.sql(
    "dp5_outliers",
    "Exact-arithmetic 3-sigma outliers per event_type (fixed-point z-scores).",
    """WITH f AS (
      |  SELECT event_id, event_type,
      |         CAST(value AS DOUBLE) AS value,
      |         CAST(ROUND(value * 100) AS BIGINT) AS v
      |  FROM events),
      |s AS (
      |  SELECT event_type, COUNT(*) AS n, SUM(v) AS sv, SUM(v*v) AS svv
      |  FROM f GROUP BY event_type)
      |SELECT f.event_id, f.event_type, f.value,
      |       ROUND(CAST(s.n * f.v - s.sv AS DOUBLE)
      |             / SQRT(CAST(s.n * s.svv - s.sv * s.sv AS DOUBLE)), 6) AS z
      |FROM f JOIN s ON f.event_type = s.event_type
      |WHERE CAST(ABS(s.n * f.v - s.sv) AS DOUBLE)
      |      > 3 * SQRT(CAST(s.n * s.svv - s.sv * s.sv AS DOUBLE))
      |ORDER BY event_id""".stripMargin) { (spark, dir) =>
    val f = Tables.events(spark, dir).select(
      col("event_id"), col("event_type"),
      col("value").cast("double").as("value"),
      round(col("value") * 100, 0).cast("bigint").as("v"))
    // BIGINT per-row squares summed in DECIMAL(38,0) (Σv² can pass 2^63);
    // n·Σv² − (Σv)² stays decimal-exact, same as dp4
    val s = f.groupBy(col("event_type").as("et")).agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(col("v").cast("decimal(38,0)")).as("sv"),
      sum((col("v") * col("v")).cast("decimal(38,0)")).as("svv"))
    val dev = col("n") * col("v") - col("sv")
    val varn = col("n") * col("svv") - col("sv") * col("sv")
    f.join(broadcast(s), col("event_type") === col("et"))
      .filter(abs(dev).cast("double") > lit(3) * sqrt(varn.cast("double")))
      .select(col("event_id"), col("event_type"), col("value"),
        round(dev.cast("double") / sqrt(varn.cast("double")), 6).as("z"))
      .orderBy("event_id")
  }

  /** Two-sample Kolmogorov–Smirnov statistic between the value
    * distributions of click and purchase events, in EXACT arithmetic:
    * values are fixed-pointed (×100 → BIGINT), the empirical CDF gap at
    * each observed value is the INTEGER cross-product |cum₁·n₂ − cum₂·n₁|
    * (so the max is found over exact integers — a floating CDF would
    * make near-tie argmax engine-dependent), and only the final
    * normalization divides. The distribution-drift test a data pipeline
    * runs between snapshots, exact enough to gate on.
    *
    * Scale shape: one scan → per-value counts (one shuffle), then the
    * running CDFs via the c6 two-phase pattern (range-partition on the
    * value, partition-local cumsums, O(#partitions) offsets) — no
    * single-task window over the value domain — and a final scalar max.
    */
  val dp6KsTest: Q = Q.sql(
    "dp6_ks_test",
    "Exact two-sample Kolmogorov-Smirnov statistic: click vs purchase value distributions.",
    """WITH f AS (
      |  SELECT CAST(ROUND(value * 100) AS BIGINT) AS v,
      |         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      |pv AS (
      |  SELECT v, SUM(is_a) AS c1, SUM(1 - is_a) AS c2
      |  FROM f GROUP BY v),
      |cum AS (
      |  SELECT v,
      |         SUM(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum1,
      |         SUM(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum2
      |  FROM pv),
      |n AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM pv)
      |SELECT CAST(n.n1 AS BIGINT) AS n1, CAST(n.n2 AS BIGINT) AS n2,
      |       CAST(MAX(ABS(cum1 * n.n2 - cum2 * n.n1)) AS BIGINT) AS ks_num,
      |       ROUND(CAST(MAX(ABS(cum1 * n.n2 - cum2 * n.n1)) AS DOUBLE)
      |             / (n.n1 * n.n2), 6) AS ks
      |FROM cum CROSS JOIN n
      |GROUP BY n.n1, n.n2""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val f = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(round(col("value") * 100, 0).cast("bigint").as("v"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("is_a"))
    val pv = f.groupBy(col("v"))
      .agg(sum(col("is_a")).as("c1"), sum(lit(1L) - col("is_a")).as("c2"))
    // two-phase running CDFs (see c6): partition-local cumsums + offsets
    val local = pv
      .repartitionByRange(col("v"))
      .withColumn("pid", spark_partition_id())
      .withColumn("l1", sum("c1").over(
        Window.partitionBy("pid").orderBy("v").rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("l2", sum("c2").over(
        Window.partitionBy("pid").orderBy("v").rowsBetween(Window.unboundedPreceding, 0)))
      // pinned against double materialization of the sampled range
      // exchange (see Caliper.c6AttemptSeq)
      .localCheckpoint()
    val offsets = local.groupBy("pid")
      .agg(max("l1").as("t1"), max("l2").as("t2"))
      .withColumn("o1",
        coalesce(sum("t1").over(
          Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("o2",
        coalesce(sum("t2").over(
          Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("pid", "o1", "o2")
    val n = pv.agg(sum("c1").as("n1"), sum("c2").as("n2"))
    local.join(broadcast(offsets), "pid")
      .select((col("o1") + col("l1")).as("cum1"), (col("o2") + col("l2")).as("cum2"))
      .crossJoin(broadcast(n))
      .groupBy(col("n1"), col("n2"))
      .agg(max(abs(col("cum1") * col("n2") - col("cum2") * col("n1"))).as("ks_num"))
      .select(col("n1"), col("n2"), col("ks_num"),
        round(col("ks_num").cast("double") / (col("n1") * col("n2")), 6).as("ks"))
  }

  /** Cohort retention matrix — the product-analytics staple: users are
    * cohorted by the ISO week of their FIRST signup, and each later week
    * of activity increments that cohort's retention cell. Offsets are
    * integer week counts between Monday-truncated weeks (both engines
    * truncate weeks to Monday), so every output component except the
    * final rate is integer-exact; the rate is one double division +
    * round(6) per row.
    *
    * Distributed shape: cohort assignment is a groupBy(user) min — one
    * shuffle on user_id; activity is a (user, week) distinct — a shuffle
    * whose key includes user_id, so the cohort⋈activity join re-uses the
    * user hash layout; the final aggregate shuffles only (cohort_week,
    * offset) cells. Per-week cohort sizes are a tiny frame, broadcast
    * into the rate join. Nothing in the plan scales worse than the
    * distinct — at 100 TB the (user, week) distinct is the cost, exactly
    * as it should be.
    */
  val q40Retention: Q = Q.sql(
    "q40_retention",
    "Weekly cohort retention: signup-week cohorts x week offset, active users and retention rate.",
    """WITH cohort AS (
      |  SELECT user_id, date_trunc('week', MIN(ts)) AS cw
      |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
      |activity AS (
      |  SELECT DISTINCT user_id, date_trunc('week', ts) AS aw FROM events),
      |joined AS (
      |  SELECT c.cw, date_diff('day', c.cw, a.aw) // 7 AS week_offset
      |  FROM cohort c JOIN activity a ON c.user_id = a.user_id
      |  WHERE a.aw >= c.cw),
      |sizes AS (SELECT cw, COUNT(*) AS cohort_size FROM cohort GROUP BY cw)
      |SELECT j.cw AS cohort_week, j.week_offset, COUNT(*) AS n_active,
      |       s.cohort_size,
      |       ROUND(CAST(COUNT(*) AS DOUBLE) / s.cohort_size, 6) AS retention
      |FROM joined j JOIN sizes s ON j.cw = s.cw
      |GROUP BY j.cw, j.week_offset, s.cohort_size
      |ORDER BY cohort_week, week_offset""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val cohort = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cw"))
    val activity = ev
      .select(col("user_id"), date_trunc("week", col("ts")).as("aw"))
      .distinct()
    val joined = cohort.join(activity, Seq("user_id"))
      .filter(col("aw") >= col("cw"))
      .select(col("cw"),
        expr("datediff(aw, cw) div 7").cast("bigint").as("week_offset"))
    val sizes = cohort.groupBy(col("cw")).agg(count(lit(1)).as("cohort_size"))
    joined.groupBy(col("cw"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), Seq("cw"))
      // DuckDB's date_trunc('week', ts) yields DATE; match the type
      .select(col("cw").cast("date").as("cohort_week"), col("week_offset"), col("n_active"),
        col("cohort_size"),
        round(col("n_active").cast("double") / col("cohort_size"), 6).as("retention"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Chi-square independence profile of event_type × hour-of-day — the
    * data-profiling test for "is this categorical feature independent of
    * time", emitted as the full contingency grid (zero-observed cells
    * included — they still carry expected mass). Marginals and the
    * (o·N − r·c) deviation are integer-exact; the per-cell contribution
    * (o·N − r·c)²/(N·r·c) is per-row double arithmetic with one
    * round(6) — no cross-cell float reduction, so no order sensitivity.
    *
    * Distributed shape: ONE scan + one shuffle builds the observed cell
    * counts; marginals re-aggregate the tiny cell frame (never the fact
    * table); the grid is a broadcast cross of two marginal frames
    * (|types| × 24 rows). At 100 TB only the first aggregate touches
    * data volume.
    */
  val dp7ChiSquare: Q = Q.sql(
    "dp7_chi_square",
    "Chi-square independence grid: event_type x hour-of-day, integer-exact deviations + per-cell contribution.",
    """WITH obs AS (
      |  SELECT event_type, hour(ts) AS hr, COUNT(*) AS o
      |  FROM events GROUP BY 1, 2),
      |rowm AS (SELECT event_type, SUM(o) AS r FROM obs GROUP BY 1),
      |colm AS (SELECT hr, SUM(o) AS c FROM obs GROUP BY 1),
      |tot AS (SELECT SUM(o) AS n FROM obs),
      |grid AS (
      |  SELECT rm.event_type, cm.hr,
      |         CAST(rm.r AS BIGINT) AS r, CAST(cm.c AS BIGINT) AS c,
      |         CAST(t.n AS BIGINT) AS n,
      |         CAST(COALESCE(ob.o, 0) AS BIGINT) AS o
      |  FROM rowm rm CROSS JOIN colm cm CROSS JOIN tot t
      |  LEFT JOIN obs ob ON ob.event_type = rm.event_type AND ob.hr = cm.hr)
      |SELECT event_type, hr, o, r, c, n,
      |       CAST(o * n - r * c AS BIGINT) AS dev,
      |       ROUND((CAST(o * n - r * c AS DOUBLE) * CAST(o * n - r * c AS DOUBLE))
      |             / (CAST(n AS DOUBLE) * r * c), 6) AS contrib
      |FROM grid ORDER BY event_type, hr""".stripMargin) { (spark, dir) =>
    val obs = Tables.events(spark, dir)
      .groupBy(col("event_type"), hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("o"))
      .localCheckpoint() // tiny cell frame; marginals below re-aggregate it
    val rowm = obs.groupBy(col("event_type")).agg(sum(col("o")).as("r"))
    val colm = obs.groupBy(col("hr")).agg(sum(col("o")).as("c"))
    val tot = obs.agg(sum(col("o")).as("n"))
    val dev = col("o") * col("n") - col("r") * col("c")
    rowm.crossJoin(broadcast(colm)).crossJoin(broadcast(tot))
      .join(obs.withColumnRenamed("event_type", "ot").withColumnRenamed("hr", "oh"),
        col("event_type") === col("ot") && col("hr") === col("oh"), "left")
      .select(col("event_type"), col("hr"),
        coalesce(col("o"), lit(0L)).as("o"), col("r"), col("c"), col("n"))
      .select(col("event_type"), col("hr"), col("o"), col("r"), col("c"), col("n"),
        dev.as("dev"),
        round((dev.cast("double") * dev.cast("double"))
          / (col("n").cast("double") * col("r") * col("c")), 6).as("contrib"))
      .orderBy("event_type", "hr")
  }

  /** Last-touch attribution — the marketing-analytics staple the as-of
    * join (q18) exists for, completed with the lookback window and the
    * unattributed fallback a real attribution model needs: each purchase
    * is credited to the user's latest click at-or-before it, but only if
    * that click is within 7 days; otherwise the purchase is `organic`
    * (click columns null). The oracle is DuckDB's native ASOF LEFT JOIN —
    * an independent implementation of the same semantics.
    *
    * Distributed shape: same as q18 — tag both sides, union, and carry
    * the latest click forward with a running `last(…, ignoreNulls)`
    * window per user; equal timestamps sort the click first (inclusive
    * boundary). ONE shuffle on user_id, no range cross-join, and the
    * 7-day cutoff is a post-window per-row predicate, so the lookback
    * never inflates the join. Clicks are deduped to one per (user, ts)
    * first — both formulations need that for deterministic matches.
    */
  val q41Attribution: Q = Q.sql(
    "q41_attribution",
    "Last-touch attribution: purchase -> latest prior click within 7 days, else organic.",
    """WITH c AS (
      |  SELECT user_id, ts, MAX(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |p AS (
      |  SELECT event_id AS purchase_id, user_id, ts, value
      |  FROM events WHERE event_type = 'purchase')
      |SELECT p.purchase_id, p.user_id, p.ts AS purchase_ts,
      |       CASE WHEN c.ts IS NOT NULL
      |                 AND epoch_us(p.ts) - epoch_us(c.ts) <= 604800000000
      |            THEN 'last_click' ELSE 'organic' END AS channel,
      |       CASE WHEN c.ts IS NOT NULL
      |                 AND epoch_us(p.ts) - epoch_us(c.ts) <= 604800000000
      |            THEN c.click_id END AS click_id,
      |       CASE WHEN c.ts IS NOT NULL
      |                 AND epoch_us(p.ts) - epoch_us(c.ts) <= 604800000000
      |            THEN epoch_us(p.ts) - epoch_us(c.ts) END AS micros_since_click,
      |       CAST(p.value AS DOUBLE) AS revenue
      |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY purchase_id""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val lookbackUs = 7L * 86400L * 1000000L
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("click_id"))
      .select(col("user_id"), col("ts"), lit(1).as("is_right"),
        col("click_id"), lit(null).cast("long").as("purchase_id"),
        lit(null).cast("double").as("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(0).as("is_right"),
        lit(null).cast("long").as("click_id"),
        col("event_id").as("purchase_id"), col("value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_right").desc,
        coalesce(col("click_id"), col("purchase_id")))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val attributed = clicks.unionAll(purchases)
      .withColumn("m_click_id", last(col("click_id"), ignoreNulls = true).over(w))
      .withColumn("m_click_ts",
        last(when(col("is_right") === 1, col("ts")), ignoreNulls = true).over(w))
      .filter(col("is_right") === 0)
      .withColumn("age_us", unix_micros(col("ts")) - unix_micros(col("m_click_ts")))
      .withColumn("in_window",
        col("m_click_id").isNotNull && col("age_us") <= lookbackUs)
    attributed.select(
      col("purchase_id"), col("user_id"), col("ts").as("purchase_ts"),
      when(col("in_window"), "last_click").otherwise("organic").as("channel"),
      when(col("in_window"), col("m_click_id")).as("click_id"),
      when(col("in_window"), col("age_us")).as("micros_since_click"),
      col("value").cast("double").as("revenue"))
      .orderBy("purchase_id")
  }

  /** Per-user event-type transition matrix (the order-1 Markov model of
    * user behavior): LAG over each user's timeline pairs every event
    * with its predecessor, and the (prev, next) cells aggregate to
    * counts + row-conditional probabilities. Counts and row totals are
    * integer-exact; the probability is one double division + round(6)
    * per output row — no float reductions anywhere.
    *
    * Distributed shape: ONE shuffle on user_id drives the LAG window
    * (each user's timeline sorts within its partition — key cardinality
    * = users, no skew); the cell aggregate shuffles |types|² ≈ 25 rows,
    * and row totals re-aggregate the tiny cell frame, never the fact
    * table, riding a broadcast back onto the cells. Event-time ties
    * break on event_id, so the matrix is deterministic on both engines.
    */
  val q42Transitions: Q = Q.sql(
    "q42_transitions",
    "Per-user event-type Markov transitions: LAG pairs, cell counts, row-conditional probability.",
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM events),
      |c AS (SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      |      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
      |r AS (SELECT prev_type, SUM(n) AS row_total FROM c GROUP BY 1)
      |SELECT c.prev_type, c.next_type, c.n,
      |       CAST(r.row_total AS BIGINT) AS row_total,
      |       ROUND(CAST(c.n AS DOUBLE) / r.row_total, 6) AS p
      |FROM c JOIN r ON c.prev_type = r.prev_type
      |ORDER BY c.prev_type, next_type""".stripMargin) { (spark, dir) =>
    val seq = Tables.events(spark, dir)
      .withColumn("prev_type", lag(col("event_type"), 1).over(
        Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))))
      .filter(col("prev_type").isNotNull)
    val cells = seq.groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val rowTotals = cells.groupBy(col("prev_type")).agg(sum(col("n")).as("row_total"))
    cells.join(broadcast(rowTotals), Seq("prev_type"))
      .select(col("prev_type"), col("next_type"), col("n"), col("row_total"),
        round(col("n").cast("double") / col("row_total"), 6).as("p"))
      .orderBy("prev_type", "next_type")
  }

  /** Benford first-significant-digit profile — the fraud/data-quality
    * screen: observed first-digit distribution of order totals against
    * the Benford expectation log10(1 + 1/d). The digit comes from the
    * integer part's decimal string (never from floating log10, whose
    * boundary error could misbucket a power of ten); counts are
    * integer-exact and the two shares are per-row doubles with one
    * round(6) each.
    *
    * Distributed shape: one scan, one aggregate whose key space is 9
    * cells (map-side combine collapses everything before the exchange);
    * the total rides a broadcast nested-loop of a 1-row frame. At 100 TB
    * the scan is the entire cost.
    */
  val dp8Benford: Q = Q.sql(
    "dp8_benford",
    "Benford first-digit profile of order totals: observed share vs log10(1+1/d) expectation.",
    """WITH d AS (
      |  SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
      |  FROM orders WHERE o_totalprice >= 1),
      |c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
      |t AS (SELECT SUM(n) AS total FROM c)
      |SELECT c.digit, c.n, CAST(t.total AS BIGINT) AS total,
      |       ROUND(CAST(c.n AS DOUBLE) / t.total, 6) AS observed,
      |       ROUND(LOG10(1.0 + 1.0 / c.digit), 6) AS expected
      |FROM c CROSS JOIN t ORDER BY digit""".stripMargin) { (spark, dir) =>
    val digits = Tables.orders(spark, dir)
      .filter(col("o_totalprice") >= 1)
      .select(substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
        .cast("long").as("digit"))
    val counts = digits.groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("total"))
    counts.crossJoin(broadcast(total))
      .select(col("digit"), col("n"), col("total"),
        round(col("n").cast("double") / col("total"), 6).as("observed"),
        round(log10(lit(1.0) + lit(1.0) / col("digit")), 6).as("expected"))
      .orderBy("digit")
  }

  /** Data-quality expectations — the "Great Expectations"-style audit a
    * training pipeline runs before ingesting a drop: range, domain,
    * non-null, and uniqueness rules, ALL evaluated in one
    * conditional-aggregate scan per table (never a scan per rule — at
    * 100 TB the audit must cost one pass, which is why each table's
    * rules fold into a single groupBy-less agg). Violations carry a
    * deterministic witness (max violating key), so a failing drop is
    * diagnosable from the audit row alone.
    */
  val dp9Expectations: Q = Q.sql(
    "dp9_expectations",
    "One-scan-per-table data-quality audit: range/domain/null/uniqueness rules with violation counts + witness keys.",
    """WITH li AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |         CAST(COUNT(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT) AS v_qty,
      |         CAST(COALESCE(MAX(l_orderkey) FILTER (WHERE l_quantity < 1 OR l_quantity > 50), -1) AS BIGINT) AS w_qty,
      |         CAST(COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.1) AS BIGINT) AS v_disc,
      |         CAST(COALESCE(MAX(l_orderkey) FILTER (WHERE l_discount < 0 OR l_discount > 0.1), -1) AS BIGINT) AS w_disc,
      |         CAST(COUNT(*) FILTER (WHERE l_shipdate IS NULL) AS BIGINT) AS v_ship,
      |         CAST(COALESCE(MAX(l_orderkey) FILTER (WHERE l_shipdate IS NULL), -1) AS BIGINT) AS w_ship
      |  FROM lineitem),
      |ord AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |         CAST(COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F', 'P')) AS BIGINT) AS v_status,
      |         CAST(COALESCE(MAX(o_orderkey) FILTER (WHERE o_orderstatus NOT IN ('O', 'F', 'P')), -1) AS BIGINT) AS w_status,
      |         CAST(COUNT(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT) AS v_price,
      |         CAST(COALESCE(MAX(o_orderkey) FILTER (WHERE o_totalprice <= 0), -1) AS BIGINT) AS w_price
      |  FROM orders),
      |ev AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |         CAST(COUNT(*) FILTER (WHERE value < 0) AS BIGINT) AS v_value,
      |         CAST(COALESCE(MAX(event_id) FILTER (WHERE value < 0), -1) AS BIGINT) AS w_value,
      |         CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT) AS v_unique
      |  FROM events),
      |cu AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |         CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT) AS v_unique
      |  FROM customer),
      |rules AS (
      |  SELECT 'lineitem' AS tbl, 'quantity_in_1_50' AS rule, n_rows, v_qty AS n_violations, w_qty AS witness FROM li
      |  UNION ALL SELECT 'lineitem', 'discount_in_0_0.1', n_rows, v_disc, w_disc FROM li
      |  UNION ALL SELECT 'lineitem', 'shipdate_not_null', n_rows, v_ship, w_ship FROM li
      |  UNION ALL SELECT 'orders', 'status_in_domain', n_rows, v_status, w_status FROM ord
      |  UNION ALL SELECT 'orders', 'totalprice_positive', n_rows, v_price, w_price FROM ord
      |  UNION ALL SELECT 'events', 'value_non_negative', n_rows, v_value, w_value FROM ev
      |  UNION ALL SELECT 'events', 'event_id_unique', n_rows, v_unique, CAST(-1 AS BIGINT) FROM ev
      |  UNION ALL SELECT 'customer', 'custkey_unique', n_rows, v_unique, CAST(-1 AS BIGINT) FROM cu)
      |SELECT tbl, rule, n_rows, n_violations, witness,
      |       ROUND(1.0 - CAST(n_violations AS DOUBLE) / n_rows, 6) AS pass_rate
      |FROM rules ORDER BY tbl, rule""".stripMargin) { (spark, dir) =>
    def vw(cond: Column, key: Column): (Column, Column) =
      (count(when(cond, 1)).as("v"),
        coalesce(max(when(cond, key)), lit(-1L)).as("w"))
    val (vQty, wQty) = vw(col("l_quantity") < 1 || col("l_quantity") > 50, col("l_orderkey"))
    val (vDisc, wDisc) = vw(col("l_discount") < 0 || col("l_discount") > 0.1, col("l_orderkey"))
    val (vShip, wShip) = vw(col("l_shipdate").isNull, col("l_orderkey"))
    val li = Tables.lineitem(spark, dir).agg(count(lit(1)).as("n_rows"),
      vQty.as("v_qty"), wQty.as("w_qty"), vDisc.as("v_disc"), wDisc.as("w_disc"),
      vShip.as("v_ship"), wShip.as("w_ship"))
      .localCheckpoint() // 1-row audit frame, read by 3 union branches: ONE lineitem scan
    val (vStatus, wStatus) = vw(!col("o_orderstatus").isin("O", "F", "P"), col("o_orderkey"))
    val (vPrice, wPrice) = vw(col("o_totalprice") <= 0, col("o_orderkey"))
    val ord = Tables.orders(spark, dir).agg(count(lit(1)).as("n_rows"),
      vStatus.as("v_status"), wStatus.as("w_status"),
      vPrice.as("v_price"), wPrice.as("w_price"))
      .localCheckpoint()
    val (vValue, wValue) = vw(col("value") < 0, col("event_id"))
    val ev = Tables.events(spark, dir).agg(count(lit(1)).as("n_rows"),
      vValue.as("v_value"), wValue.as("w_value"),
      (count(lit(1)) - countDistinct(col("event_id"))).as("v_unique"))
      .localCheckpoint()
    val cu = Tables.customer(spark, dir).agg(count(lit(1)).as("n_rows"),
      (count(lit(1)) - countDistinct(col("c_custkey"))).as("v_unique"))
      .localCheckpoint()
    def rule(src: org.apache.spark.sql.DataFrame, tbl: String, name: String,
        v: String, w: Option[String]): org.apache.spark.sql.DataFrame =
      src.select(lit(tbl).as("tbl"), lit(name).as("rule"), col("n_rows"),
        col(v).as("n_violations"),
        w.map(col).getOrElse(lit(-1L)).as("witness"))
    val rules = Seq(
      rule(li, "lineitem", "quantity_in_1_50", "v_qty", Some("w_qty")),
      rule(li, "lineitem", "discount_in_0_0.1", "v_disc", Some("w_disc")),
      rule(li, "lineitem", "shipdate_not_null", "v_ship", Some("w_ship")),
      rule(ord, "orders", "status_in_domain", "v_status", Some("w_status")),
      rule(ord, "orders", "totalprice_positive", "v_price", Some("w_price")),
      rule(ev, "events", "value_non_negative", "v_value", Some("w_value")),
      rule(ev, "events", "event_id_unique", "v_unique", None),
      rule(cu, "customer", "custkey_unique", "v_unique", None)
    ).reduce(_.union(_))
    rules
      .select(col("tbl"), col("rule"), col("n_rows"), col("n_violations"),
        col("witness"),
        round(lit(1.0) - col("n_violations").cast("double") / col("n_rows"), 6)
          .as("pass_rate"))
      .orderBy("tbl", "rule")
  }

  /** Per-group exact top-k via the custom [[graft.functions.TopKPairs]]
    * TypedImperativeAggregate — one pass, k-bounded buffers, MAP-SIDE
    * partial top-k before the shuffle. The window formulation this
    * replaces (`row_number() OVER (PARTITION BY supplier ORDER BY …)`)
    * shuffles and sorts every lineitem row; the aggregate's shuffle
    * carries at most k pairs per (partition, supplier) — the 100 TB
    * difference between moving the fact table and moving kilobytes. The
    * oracle IS the window formulation, so the aggregate's exact
    * (score DESC, id ASC) total order is pinned against the classic
    * shape. Scores quantize to cents via FLOOR(x·100 + 0.5) — an
    * IEEE-identical op chain in both engines (ROUND's half-case
    * convention is not).
    */
  val q43GroupedTopK: Q = Q.sql(
    "q43_grouped_topk",
    "Per-supplier exact top-3 lineitems by price (custom map-side top-k aggregate vs window oracle).",
    """WITH scored AS (
      |  SELECT l_suppkey,
      |         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS score_cents,
      |         l_orderkey * 10 + l_linenumber AS line_id
      |  FROM lineitem),
      |ranked AS (
      |  SELECT l_suppkey, score_cents, line_id,
      |         ROW_NUMBER() OVER (PARTITION BY l_suppkey
      |           ORDER BY score_cents DESC, line_id) AS rank
      |  FROM scored)
      |SELECT l_suppkey, CAST(rank AS BIGINT) AS rank, line_id, score_cents
      |FROM ranked WHERE rank <= 3 ORDER BY l_suppkey, rank""".stripMargin) { (spark, dir) =>
    graft.functions.GraftExpressions.register(spark)
    Tables.lineitem(spark, dir)
      .select(col("l_suppkey"),
        floor(col("l_extendedprice") * lit(100) + lit(0.5)).as("score_cents"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("line_id"))
      .groupBy(col("l_suppkey"))
      .agg(graft.functions.GraftExpressions
        .topk(col("score_cents"), col("line_id"), 3).as("top"))
      .select(col("l_suppkey"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("l_suppkey"), (col("pos") + 1).cast("bigint").as("rank"),
        col("p.id").as("line_id"), col("p.score").as("score_cents"))
      .orderBy("l_suppkey", "rank")
  }

  /** The join-key columns dp10 profiles — every key a 100 TB run would
    * shuffle on for this schema's canonical joins.
    */
  private val dp10Cols: Seq[(String, String)] = Seq(
    ("events", "user_id"), ("lineitem", "l_orderkey"),
    ("lineitem", "l_partkey"), ("lineitem", "l_suppkey"),
    ("orders", "o_custkey"))

  private def dp10ColSql(tbl: String, key: String): String =
    s"""(WITH c AS (
       |  SELECT $key AS k, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM $tbl WHERE $key IS NOT NULL GROUP BY 1),
       |h AS (
       |  SELECT cnt, CAST(COUNT(*) AS BIGINT) AS freq,
       |         MIN(k) AS min_key
       |  FROM c GROUP BY 1),
       |x AS (
       |  SELECT cnt, min_key,
       |         CAST(SUM(freq) OVER (ORDER BY cnt) AS BIGINT) AS cum,
       |         CAST(SUM(freq) OVER () AS BIGINT) AS n_keys,
       |         CAST(SUM(cnt * freq) OVER () AS BIGINT) AS n_rows,
       |         CAST(MAX(cnt) OVER () AS BIGINT) AS max_cnt
       |  FROM h)
       |SELECT '$tbl' AS tbl, '$key' AS col_name,
       |       MAX(n_rows) AS n_rows, MAX(n_keys) AS n_keys,
       |       MAX(max_cnt) AS max_cnt,
       |       ROUND(CAST(MAX(n_rows) AS DOUBLE) / MAX(n_keys), 6) AS avg_cnt,
       |       ROUND(CAST(MAX(max_cnt) AS DOUBLE) * MAX(n_keys) / MAX(n_rows), 6) AS skew_ratio,
       |       MIN(CASE WHEN cum >= CEIL(n_keys * 0.5) THEN cnt END) AS p50_cnt,
       |       MIN(CASE WHEN cum >= CEIL(n_keys * 0.99) THEN cnt END) AS p99_cnt,
       |       CAST(MIN(CASE WHEN cnt = max_cnt THEN min_key END) AS BIGINT) AS top_key
       |FROM x)""".stripMargin

  /** Shuffle-key skew audit — the report a 100 TB pipeline reads before
    * deciding which joins need salting ([[q31SaltedJoin]]) or AQE skew
    * handling: per join-key column, the key-count distribution's head
    * (max, argmax key) and shape (avg, p50/p99 discrete percentiles,
    * skew ratio = max/avg).
    *
    * Scale shape, per column: one column-pruned scan → per-key hash count
    * (map-side partials; the only data-sized shuffle) → a count-of-counts
    * histogram (tiny: one row per DISTINCT multiplicity, tens-to-hundreds
    * of rows at any corpus size) carrying `min(key)` per multiplicity so
    * the heavy-hitter witness and both percentiles fall out of the
    * histogram alone — no global sort of per-key counts, no second scan
    * of the facts. The histogram is localCheckpoint-pinned (dp9's
    * pattern) because the final stats read it through a window + an
    * aggregate. Percentile positions use `ceil(q·n_keys)` on an exact
    * (< 2^53) integer — IEEE-identical in both engines; the ratios are
    * single double divisions of exact integers.
    */
  val dp10SkewAudit: Q = Q.sql(
    "dp10_skew_audit",
    "Join-key skew audit: per-key count distribution (max/avg/p50/p99/skew ratio + heavy-hitter witness) per shuffle key.",
    dp10Cols.map { case (t, k) => dp10ColSql(t, k) }
      .mkString("", "\nUNION ALL\n", "\nORDER BY tbl, col_name")) { (spark, dir) =>
    val perCol = dp10Cols.map { case (tbl, key) =>
      val counts = Tables.table(spark, dir, tbl)
        .filter(col(key).isNotNull)
        .groupBy(col(key).as("k")).agg(count(lit(1)).as("cnt"))
      val hist = counts.groupBy(col("cnt"))
        .agg(count(lit(1)).as("freq"), min(col("k")).as("min_key"))
        .localCheckpoint() // tiny count-of-counts frame; pins the fact scan to ONE pass
      val wCum = org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt")).rowsBetween(Long.MinValue, 0)
      val wAll = org.apache.spark.sql.expressions.Window
        .rowsBetween(Long.MinValue, Long.MaxValue)
      hist
        .withColumn("cum", sum(col("freq")).over(wCum))
        .withColumn("n_keys", sum(col("freq")).over(wAll))
        .withColumn("n_rows", sum(col("cnt") * col("freq")).over(wAll))
        .withColumn("max_cnt", max(col("cnt")).over(wAll))
        .agg(
          max(col("n_rows")).as("n_rows"), max(col("n_keys")).as("n_keys"),
          max(col("max_cnt")).as("max_cnt"),
          min(when(col("cum") >= ceil(col("n_keys") * 0.5), col("cnt"))).as("p50_cnt"),
          min(when(col("cum") >= ceil(col("n_keys") * 0.99), col("cnt"))).as("p99_cnt"),
          min(when(col("cnt") === col("max_cnt"), col("min_key"))).as("top_key"))
        .select(lit(tbl).as("tbl"), lit(key).as("col_name"),
          col("n_rows"), col("n_keys"), col("max_cnt"),
          round(col("n_rows").cast("double") / col("n_keys"), 6).as("avg_cnt"),
          round(col("max_cnt").cast("double") * col("n_keys") / col("n_rows"), 6)
            .as("skew_ratio"),
          col("p50_cnt"), col("p99_cnt"), col("top_key").cast("long").as("top_key"))
    }
    perCol.reduce(_.union(_)).orderBy("tbl", "col_name")
  }

  /** (table, column) pairs profiled by the KMV sketch. */
  private val dp11Cols = Seq(
    "orders" -> "o_custkey", "orders" -> "o_orderkey",
    "lineitem" -> "l_partkey", "lineitem" -> "l_suppkey")

  private val Kmv = 256
  /** 2^60 — the hash universe size of [[graft.functions.DetHash.md5Long60]]. */
  private val KmvUniverse = "1152921504606846976.0"

  private def dp11ColSql(tbl: String, key: String): String =
    s"""(WITH dh AS (
       |  SELECT DISTINCT ('0x' || substring(md5(CAST($key AS VARCHAR)), 1, 15))::BIGINT AS h
       |  FROM $tbl WHERE $key IS NOT NULL),
       |topk AS (SELECT h FROM dh ORDER BY h LIMIT $Kmv)
       |SELECT '$tbl' AS tbl, '$key' AS col_name,
       |       (SELECT COUNT(*) FROM dh) AS exact_distinct,
       |       (SELECT COUNT(*) FROM topk) AS k_eff,
       |       (SELECT MAX(h) FROM topk) AS kth_hash,
       |       CASE WHEN (SELECT COUNT(*) FROM topk) < $Kmv
       |            THEN CAST((SELECT COUNT(*) FROM dh) AS DOUBLE)
       |            ELSE ${Kmv - 1}.0 * $KmvUniverse
       |                 / CAST((SELECT MAX(h) FROM topk) AS DOUBLE) END AS est_distinct)""".stripMargin

  /** KMV (k-minimum-values) distinct-count sketch — the mergeable
    * cardinality estimator a 100 TB profiler runs INSTEAD of
    * `COUNT(DISTINCT)`: keep the k smallest values of a uniform hash;
    * the k-th minimum U(k), as a fraction of the hash universe,
    * estimates the cardinality as (k-1)/U(k) (Bar-Yossef et al. 2002).
    * The estimate here is exactly that: `255 · 2^60 / kth_hash`, one
    * double division of exact integers — bit-identical cross-engine.
    * When fewer than k distinct hashes exist the sketch IS the exact
    * answer and reports it.
    *
    * Scale shape, per column: the k smallest hashes come from Spark's
    * `orderBy().limit(k)` = TakeOrderedAndProject — a per-partition
    * partial top-k whose shuffle carries ≤ k rows per partition, never a
    * global sort. That partial-then-merge structure is precisely the
    * sketch's mergeability, which is what lets 1000 executors each keep
    * 256 longs and combine. The exact count (the oracle surface the
    * estimate is judged against) needs a real distinct — that frame is
    * localCheckpoint-pinned so its shuffle runs once for both consumers;
    * a production profiler at 100 TB would skip it and keep only the
    * sketch.
    */
  val dp11KmvSketch: Q = Q.sql(
    "dp11_kmv_sketch",
    "KMV distinct-count sketch (k=256 minimum md5 hashes) vs exact cardinality, per join-key column.",
    dp11Cols.map { case (t, k) => dp11ColSql(t, k) }
      .mkString("", "\nUNION ALL\n", "\nORDER BY tbl, col_name")) { (spark, dir) =>
    val perCol = dp11Cols.map { case (tbl, key) =>
      val dh = Tables.table(spark, dir, tbl)
        .filter(col(key).isNotNull)
        .select(graft.functions.DetHash.md5Long60(col(key).cast("string")).as("h"))
        .distinct()
        .localCheckpoint() // one distinct shuffle feeds both the count and the top-k
      val exact = dh.agg(count(lit(1)).as("exact_distinct"))
      val topk = dh.orderBy("h").limit(Kmv)
        .agg(count(lit(1)).as("k_eff"), max(col("h")).as("kth_hash"))
      exact.crossJoin(topk).select(
        lit(tbl).as("tbl"), lit(key).as("col_name"),
        col("exact_distinct"), col("k_eff"), col("kth_hash"),
        when(col("k_eff") < Kmv, col("exact_distinct").cast("double"))
          .otherwise(lit((Kmv - 1).toDouble) * lit(1152921504606846976.0)
            / col("kth_hash").cast("double")).as("est_distinct"))
    }
    perCol.reduce(_.union(_)).orderBy("tbl", "col_name")
  }

  /** Engine-portable Bloom filter — the sketch 100 TB joins actually ship
    * across the wire (q37 exercises Spark's runtime-injected bloom; this
    * one builds the filter FROM FIRST PRINCIPLES with md5-derived bit
    * positions, so every bit is reproducible in any engine). k=4 hash
    * functions into m = 16·n bits (m derived from the corpus count, the
    * s5/d5 adaptive-control pattern — a fixed m saturates to all-ones one
    * decade up and the filter stops filtering; 16 bits/key holds the
    * false-positive rate near (1−e^(−1/4))^4 ≈ 0.24% at EVERY scale).
    *
    * Scale shape: the bit set is explode(4 positions) → distinct — one
    * hash shuffle; the set is pinned (count + probe join both read it).
    * Mergeability is the point: per-partition bitmaps OR together, which
    * is why a 1000-executor build is one treeked OR, not a shuffle of
    * keys. The probe side (1000 keys from the disjoint negative space,
    * so every hit is a FALSE positive by construction) broadcasts its
    * 4000 bit rows against the set; a probe passes only if all 4 bits
    * are present — the measured fpp lands in the output next to its
    * design bound.
    */
  val dp12BloomProfile: Q = Q.sql(
    "dp12_bloom_profile",
    "First-principles Bloom filter over the order keys (k=4, m=16n md5 bits): fill ratio + measured false-positive rate on disjoint probes.",
    """WITH ks AS MATERIALIZED (SELECT DISTINCT o_orderkey AS key FROM orders),
      |st AS MATERIALIZED (SELECT 16 * COUNT(*) AS m FROM ks),
      |bits AS MATERIALIZED (
      |  SELECT DISTINCT ('0x' || substring(md5('bf' || CAST(i AS VARCHAR) || ':' ||
      |    CAST(key AS VARCHAR)), 1, 15))::BIGINT % (SELECT m FROM st) AS bit
      |  FROM ks, UNNEST([0, 1, 2, 3]) AS t(i)),
      |pbits AS (
      |  SELECT -g.pid AS key,
      |         ('0x' || substring(md5('bf' || CAST(i AS VARCHAR) || ':' ||
      |           CAST(-g.pid AS VARCHAR)), 1, 15))::BIGINT % (SELECT m FROM st) AS bit
      |  FROM UNNEST(generate_series(1, 1000)) AS g(pid), UNNEST([0, 1, 2, 3]) AS t(i)),
      |hits AS (
      |  SELECT pb.key FROM pbits pb JOIN bits b ON pb.bit = b.bit
      |  GROUP BY pb.key HAVING COUNT(*) = 4)
      |SELECT (SELECT COUNT(*) FROM ks) AS n_keys,
      |       (SELECT m FROM st) AS m_bits,
      |       (SELECT COUNT(*) FROM bits) AS n_bits_set,
      |       CAST((SELECT COUNT(*) FROM bits) AS DOUBLE) / (SELECT m FROM st) AS fill_ratio,
      |       (SELECT COUNT(*) FROM hits) AS fp_count""".stripMargin) { (spark, dir) =>
    val keys = Tables.orders(spark, dir).select(col("o_orderkey").as("key"))
    // m is driver-side control derived from one count (d5-stride
    // precedent) — over the DISTINCT key multiset, exactly as the
    // oracle's SELECT DISTINCT, so a duplicate key can never change m
    // on one side only (o_orderkey is a PK today; don't depend on it)
    val nKeys = keys.distinct().count()
    val m = 16L * nKeys
    def bitCol(k: Column, i: Column): Column =
      pmod(graft.functions.DetHash.md5Long60(
        concat(lit("bf"), i.cast("string"), lit(":"), k.cast("string"))), lit(m))
    val is = explode(array((0 to 3).map(lit(_)): _*)).as("i")
    val bits = keys.select(col("key"), is)
      .select(bitCol(col("key"), col("i")).as("bit"))
      .distinct()
      .localCheckpoint() // pinned: the fill count and the probe join both read it
    val probes = spark.range(1, 1001).select((-col("id")).as("key"))
    val pbits = probes.select(col("key"), is)
      .select(col("key"), bitCol(col("key"), col("i")).as("bit"))
    val fp = broadcast(pbits).join(bits, "bit")
      .groupBy(col("key")).agg(count(lit(1)).as("nb"))
      .filter(col("nb") === 4)
      .agg(count(lit(1)).as("fp_count"))
    bits.agg(count(lit(1)).as("n_bits_set"))
      .crossJoin(fp)
      .select(lit(nKeys).as("n_keys"), lit(m).as("m_bits"),
        col("n_bits_set"),
        (col("n_bits_set").cast("double") / lit(m.toDouble)).as("fill_ratio"),
        col("fp_count"))
  }

  /** Higher-moment distribution profile per event_type — mean, σ,
    * skewness, excess kurtosis — the shape statistics a drift monitor
    * tracks beyond dp1's min/max and dp5's z-scores. Exactness strategy:
    * values fix-point to ×100 BIGINTs, pass 1 takes (n, Σq) and the
    * INTEGER mean ⌊Σq/n⌋ (true floor in both engines: DuckDB's `//`
    * floors natively; Spark's truncating `div` is floor-adjusted for
    * negative sums),
    * pass 2 accumulates the centered power sums Σd², Σd³, Σd⁴ about that
    * integer mean in DECIMAL(38,0)/HUGEINT — so every statistic derives
    * from exact integers with ONE fixed-order double combination at the
    * end. Centering is what keeps this 2-pass: the 1-pass raw-moment
    * identity needs n³·Σq⁴ ≈ 10⁴⁶ at 10M rows — past any 128-bit
    * accumulator — while centered rows are |d| ≤ 3.3e4, d⁴ ≤ 1.2e18,
    * safely BIGINT per row at any corpus size. Skew/kurtosis are
    * scale-free in n: g₁ = Σd³·√n / (Σd²)^{3/2}, g₂ = Σd⁴·n / (Σd²)² − 3
    * (the √x·x form, not pow(x,1.5) — pow is a libm seam, sqrt is IEEE
    * correctly rounded).
    *
    * Scale shape: two linear scans (stats then centered sums), the 5-row
    * stats frame broadcast back (dp5's pattern) — no window, no sort;
    * both aggregates map-side partial. At 100 TB the second pass is the
    * price of 128-bit-safe exactness; a 256-bit accumulator would fold
    * it to one pass.
    */
  val dp13Moments: Q = Q.sql(
    "dp13_moments",
    "Exact-arithmetic higher moments per event_type: mean, std, skewness, excess kurtosis from centered integer power sums.",
    """WITH f AS (
      |  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS q FROM events),
      |st AS (
      |  SELECT event_type, COUNT(*) AS n, SUM(q) AS s1,
      |         CAST(SUM(q) // COUNT(*) AS BIGINT) AS muq
      |  FROM f GROUP BY 1),
      |c AS (
      |  SELECT f.event_type, f.q - st.muq AS d
      |  FROM f JOIN st ON f.event_type = st.event_type),
      |m AS (
      |  SELECT event_type, SUM(d*d) AS d2, SUM(d*d*d) AS d3, SUM(d*d*d*d) AS d4
      |  FROM c GROUP BY 1)
      |SELECT st.event_type, st.n,
      |       ROUND(CAST(st.s1 AS DOUBLE) / CAST(st.n AS DOUBLE) / 100.0, 6) AS mean_value,
      |       ROUND(SQRT(CAST(m.d2 AS DOUBLE) / CAST(st.n AS DOUBLE)) / 100.0, 6) AS std_value,
      |       ROUND(CAST(m.d3 AS DOUBLE) * SQRT(CAST(st.n AS DOUBLE))
      |             / (CAST(m.d2 AS DOUBLE) * SQRT(CAST(m.d2 AS DOUBLE))), 6) AS skewness,
      |       ROUND(CAST(m.d4 AS DOUBLE) * CAST(st.n AS DOUBLE)
      |             / (CAST(m.d2 AS DOUBLE) * CAST(m.d2 AS DOUBLE)) - 3.0, 6) AS kurtosis_x
      |FROM st JOIN m ON st.event_type = m.event_type
      |ORDER BY st.event_type""".stripMargin) { (spark, dir) =>
    val f = Tables.events(spark, dir).select(col("event_type"),
      round(col("value") * 100, 0).cast("bigint").as("q"))
    // FLOOR division to mirror DuckDB's `//`: Spark's `div` truncates
    // toward zero, which diverges by 1 whenever a group's sum is
    // negative — the fixture is all-positive today, but the seam must
    // not depend on that. n = COUNT(*) > 0 always, so floor(s1/n) =
    // trunc(s1/n) − 1 exactly when s1 < 0 and n ∤ s1. Pure integer
    // arithmetic — no decimal-division precision seam.
    val st = f.groupBy(col("event_type").as("et")).agg(
        count(lit(1)).as("n"),
        sum(col("q").cast("decimal(38,0)")).as("s1"))
      .withColumn("muq",
        expr("s1 div n") -
          when(col("s1") < 0 && expr("s1 % n") =!= 0, 1).otherwise(0))
    def sdec(c: Column) = sum(c.cast("decimal(38,0)"))
    val m = f.join(broadcast(st), col("event_type") === col("et"))
      .select(col("event_type"), (col("q") - col("muq")).as("d"))
      .groupBy(col("event_type"))
      .agg(sdec(col("d") * col("d")).as("d2"),
        sdec(col("d") * col("d") * col("d")).as("d3"),
        sdec(col("d") * col("d") * col("d") * col("d")).as("d4"))
    m.join(broadcast(st), col("event_type") === col("et"))
      .select(col("event_type"), col("n"),
        round(col("s1").cast("double") / col("n").cast("double") / 100.0, 6)
          .as("mean_value"),
        round(sqrt(col("d2").cast("double") / col("n").cast("double")) / 100.0, 6)
          .as("std_value"),
        round(col("d3").cast("double") * sqrt(col("n").cast("double"))
          / (col("d2").cast("double") * sqrt(col("d2").cast("double"))), 6)
          .as("skewness"),
        round(col("d4").cast("double") * col("n").cast("double")
          / (col("d2").cast("double") * col("d2").cast("double")) - 3.0, 6)
          .as("kurtosis_x"))
      .orderBy("event_type")
  }

  private val Dp14K = 256
  private val dp14Ps = Seq(("p50", 0.5), ("p90", 0.9), ("p99", 0.99))

  /** Mergeable QUANTILE sketch by deterministic bottom-k sampling — the
    * third first-principles sketch next to dp11 (cardinality) and dp12
    * (membership): keep the [[Dp14K]] rows with the smallest md5 hashes
    * per group (a uniform deterministic sample — the hash plays the
    * random tape, so both engines draw the SAME sample), estimate
    * p50/p90/p99 as the sample's type-1 quantiles, and report them next
    * to the exact quantiles computed from the full data. Bottom-k
    * sampling is mergeable exactly like dp11's KMV: 1000 executors each
    * keep their 256 smallest (hash, value) pairs and the union's bottom
    * 256 is the global sample — per-partition partial top-k, ≤ k rows
    * shuffled per partition. The sample here comes from the SAME
    * map-side [[graft.functions.TopKPairs]] aggregate q43 pins (score
    * −hash: top-k by −h ASC = bottom-k by hash), reused as a SAMPLER.
    *
    * The exact side it is judged against: per-(group, value) counts
    * (values fix-point to ×100 cents, so the domain is ≤ 33k distinct
    * cells), running CDF over that count-of-values histogram, quantile =
    * min value with cum ≥ ⌈p·n⌉. The windows run over the tiny histogram
    * — bounded by the VALUE DOMAIN, not the row count (dp10's trick) — a
    * 100 TB profiler would keep only the sketch and skip that pass.
    * Rank arithmetic (⌈p·k⌉, ⌈p·n⌉) is the same IEEE multiply + ceil in
    * both engines; ties inside the sample collapse to the same value at
    * any rank, so the compare is hash-exact.
    */
  val dp14QuantileSketch: Q = Q.sql(
    "dp14_quantile_sketch",
    s"Bottom-k (k=$Dp14K md5) sampled quantile sketch per event_type: p50/p90/p99 estimates vs exact type-1 quantiles.",
    s"""WITH f AS (
       |  SELECT event_type, event_id, CAST(ROUND(value * 100) AS BIGINT) AS q
       |  FROM events),
       |h AS (
       |  SELECT event_type, q,
       |         ('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT AS h
       |  FROM f),
       |samp AS (
       |  SELECT event_type, q,
       |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h, q) AS rn
       |  FROM h),
       |sk AS (
       |  SELECT event_type, q,
       |         COUNT(*) OVER (PARTITION BY event_type) AS k_eff,
       |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY q) AS vr
       |  FROM samp WHERE rn <= $Dp14K),
       |est AS (
       |  SELECT event_type, k_eff,
       |${dp14Ps.map { case (nm, p) =>
            s"         CAST(MAX(CASE WHEN vr = CAST(CEIL($p * k_eff) AS BIGINT) THEN q END) AS DOUBLE) / 100.0 AS est_$nm"
          }.mkString(",\n")}
       |  FROM sk GROUP BY 1, 2),
       |cnt AS (SELECT event_type, q, COUNT(*) AS c FROM f GROUP BY 1, 2),
       |cum AS (
       |  SELECT event_type, q,
       |         SUM(c) OVER (PARTITION BY event_type ORDER BY q) AS cum,
       |         SUM(c) OVER (PARTITION BY event_type) AS n
       |  FROM cnt),
       |ex AS (
       |  SELECT event_type, n,
       |${dp14Ps.map { case (nm, p) =>
            s"         CAST(MIN(CASE WHEN cum >= CAST(CEIL($p * n) AS BIGINT) THEN q END) AS DOUBLE) / 100.0 AS exact_$nm"
          }.mkString(",\n")}
       |  FROM cum GROUP BY 1, 2)
       |SELECT e.event_type, CAST(x.n AS BIGINT) AS n, e.k_eff,
       |       e.est_p50, e.est_p90, e.est_p99,
       |       x.exact_p50, x.exact_p90, x.exact_p99
       |FROM est e JOIN ex x ON e.event_type = x.event_type
       |ORDER BY e.event_type""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftExpressions.register(spark)
    val f = Tables.events(spark, dir).select(col("event_type"), col("event_id"),
      round(col("value") * 100, 0).cast("bigint").as("q"))
    val withH = f.select(col("event_type"), col("q"),
      graft.functions.DetHash.md5Long60(col("event_id").cast("string")).as("h"))
    val samp = withH.groupBy(col("event_type"))
      .agg(graft.functions.GraftExpressions
        .topk(-col("h"), col("q"), Dp14K).as("top"))
      .select(col("event_type"), size(col("top")).cast("bigint").as("k_eff"),
        explode(col("top")).as("e"))
      .select(col("event_type"), col("k_eff"), col("e.id").as("sq"))
    val vrW = Window.partitionBy(col("event_type")).orderBy(col("sq"))
    val estCols = dp14Ps.map { case (nm, p) =>
      (max(when(col("vr") === ceil(lit(p) * col("k_eff")), col("sq")))
        .cast("double") / 100.0).as(s"est_$nm")
    }
    val est = samp.withColumn("vr", row_number().over(vrW))
      .groupBy(col("event_type"), col("k_eff"))
      .agg(estCols.head, estCols.tail: _*)
    val cnt = f.groupBy(col("event_type"), col("q")).agg(count(lit(1)).as("c"))
    val cum = cnt
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("event_type")).orderBy(col("q"))))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("event_type"))))
    val exCols = dp14Ps.map { case (nm, p) =>
      (min(when(col("cum") >= ceil(lit(p) * col("n")), col("q")))
        .cast("double") / 100.0).as(s"exact_$nm")
    }
    val ex = cum.groupBy(col("event_type"), col("n"))
      .agg(exCols.head, exCols.tail: _*)
    est.join(ex, "event_type")
      .select(col("event_type"), col("n"), col("k_eff"),
        col("est_p50"), col("est_p90"), col("est_p99"),
        col("exact_p50"), col("exact_p90"), col("exact_p99"))
      .orderBy("event_type")
  }

  /** Mutual information between event_type and hour-of-day — the
    * dependence measure dp7's chi-square grid reports as a test
    * statistic, here as the information-theoretic quantity a feature
    * audit ranks columns by. Exactness: every log goes through t18's
    * integer micro-nat quantization — L(k) = floor(ln(k)·1e6) as BIGINT
    * — so each observed cell contributes the exact integer
    * o·(L(o)+L(n)−L(r)−L(c)) and the total MI is an integer sum (zero
    * cells contribute zero by the 0·log 0 convention, so only observed
    * cells carry terms). One double division at the end converts to
    * nats-per-row. Last-ulp ln() disagreement only matters when
    * ln(k)·1e6 sits within one ulp of an integer — the t18-documented
    * seam class, not hit by any gate scale.
    *
    * Scale shape: dp7's exactly — one scan to the cell frame (map-side
    * partials), marginals re-aggregate the pinned ~120-row grid,
    * everything downstream is broadcast arithmetic on that grid.
    */
  val dp15MutualInfo: Q = Q.sql(
    "dp15_mutual_information",
    "Integer micro-nat mutual information between event_type and hour-of-day: per-cell PMI terms + total MI.",
    """WITH obs AS (
      |  SELECT event_type, hour(ts) AS hr, COUNT(*) AS o
      |  FROM events GROUP BY 1, 2),
      |rowm AS (SELECT event_type, SUM(o) AS r FROM obs GROUP BY 1),
      |colm AS (SELECT hr, SUM(o) AS c FROM obs GROUP BY 1),
      |tot AS (SELECT SUM(o) AS n FROM obs),
      |cells AS (
      |  SELECT ob.event_type, ob.hr, CAST(ob.o AS BIGINT) AS o,
      |         CAST(t.n AS BIGINT) AS n,
      |         ob.o * (CAST(FLOOR(ln(ob.o) * 1000000.0) AS BIGINT)
      |               + CAST(FLOOR(ln(t.n) * 1000000.0) AS BIGINT)
      |               - CAST(FLOOR(ln(rm.r) * 1000000.0) AS BIGINT)
      |               - CAST(FLOOR(ln(cm.c) * 1000000.0) AS BIGINT)) AS pmi_q
      |  FROM obs ob
      |  JOIN rowm rm ON ob.event_type = rm.event_type
      |  JOIN colm cm ON ob.hr = cm.hr
      |  CROSS JOIN tot t),
      |mi AS (SELECT SUM(pmi_q) AS mi_q FROM cells)
      |SELECT c.event_type, c.hr, c.o, CAST(c.pmi_q AS BIGINT) AS pmi_q,
      |       CAST(m.mi_q AS BIGINT) AS mi_q,
      |       ROUND(CAST(m.mi_q AS DOUBLE) / 1000000.0 / CAST(c.n AS DOUBLE), 6)
      |         AS mi_nats_per_row
      |FROM cells c CROSS JOIN mi m
      |ORDER BY c.event_type, c.hr""".stripMargin) { (spark, dir) =>
    def lq(c: Column): Column =
      floor(log(c.cast("double")) * lit(1.0e6))
    val obs = Tables.events(spark, dir)
      .groupBy(col("event_type"), hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("o"))
      .localCheckpoint() // tiny cell frame; marginals re-aggregate it
    val rowm = obs.groupBy(col("event_type").as("et")).agg(sum(col("o")).as("r"))
    val colm = obs.groupBy(col("hr").as("ch")).agg(sum(col("o")).as("c"))
    val tot = obs.agg(sum(col("o")).as("n"))
    val cells = obs
      .join(broadcast(rowm), col("event_type") === col("et"))
      .join(broadcast(colm), col("hr") === col("ch"))
      .crossJoin(broadcast(tot))
      .select(col("event_type"), col("hr"), col("o").cast("bigint").as("o"),
        col("n").cast("bigint").as("n"),
        (col("o") * (lq(col("o")) + lq(col("n")) - lq(col("r")) - lq(col("c"))))
          .as("pmi_q"))
      .localCheckpoint() // two consumers: the total and the output rows
    val mi = cells.agg(sum(col("pmi_q")).as("mi_q"))
    cells.crossJoin(broadcast(mi))
      .select(col("event_type"), col("hr"), col("o"),
        col("pmi_q").cast("bigint").as("pmi_q"),
        col("mi_q").cast("bigint").as("mi_q"),
        round(col("mi_q").cast("double") / 1.0e6 / col("n").cast("double"), 6)
          .as("mi_nats_per_row"))
      .orderBy("event_type", "hr")
  }

  /** (table, column) pairs audited by the HLL sketch — dp11's four join
    * keys plus one tiny-cardinality column (nation) so the small-range
    * linear-counting branch is exercised at every scale.
    */
  private val dp16Cols = dp11Cols :+ ("nation" -> "n_nationkey")

  /** HLL registers (m). */
  private val HllM = 256

  private def dp16ColSql(tbl: String, key: String): String =
    s"""(WITH h AS (
       |  SELECT ('0x' || substring(md5(CAST($key AS VARCHAR)), 1, 15))::BIGINT AS h
       |  FROM $tbl WHERE $key IS NOT NULL),
       |jw AS (SELECT h % $HllM AS j, h // $HllM AS w FROM h),
       |mns AS (SELECT j, MIN(w) AS mn FROM jw GROUP BY 1),
       |pows AS (SELECT i AS p, CAST(power(2, i) AS BIGINT) AS pv FROM range(53) t(i)),
       |touched AS (
       |  SELECT m.j, COALESCE(52 - MAX(p.p), 53) AS reg
       |  FROM mns m LEFT JOIN pows p ON p.pv <= m.mn
       |  GROUP BY m.j, m.mn),
       |regs AS (
       |  SELECT COALESCE(t.reg, 0) AS reg
       |  FROM range($HllM) r(j) LEFT JOIN touched t ON r.j = t.j),
       |agg AS (
       |  SELECT SUM(CAST(power(2, 53 - reg) AS BIGINT)) AS s_denom,
       |         SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS v_zero
       |  FROM regs),
       |ex AS (SELECT COUNT(DISTINCT $key) AS exact_distinct
       |       FROM $tbl WHERE $key IS NOT NULL),
       |est AS (
       |  SELECT a.s_denom, a.v_zero, x.exact_distinct,
       |         0.7213/(1.0+1.079/$HllM.0)*${HllM * HllM}.0*9007199254740992.0
       |           / CAST(a.s_denom AS DOUBLE) AS raw
       |  FROM agg a CROSS JOIN ex x),
       |fin AS (
       |  SELECT *,
       |    CASE WHEN raw <= ${HllM * 5 / 2}.0 AND v_zero > 0
       |         THEN $HllM.0 * CAST(CAST(FLOOR(ln($HllM.0)*1000000.0) AS BIGINT)
       |              - CAST(FLOOR(ln(CAST(v_zero AS DOUBLE))*1000000.0) AS BIGINT) AS DOUBLE)
       |              / 1000000.0
       |         ELSE raw END AS est
       |  FROM est)
       |SELECT '$tbl' AS tbl, '$key' AS col_name, exact_distinct,
       |       CAST(v_zero AS BIGINT) AS v_zero, CAST(s_denom AS BIGINT) AS s_denom,
       |       ROUND(raw, 4) AS raw_est, ROUND(est, 4) AS est_distinct,
       |       ROUND((est - exact_distinct) / exact_distinct, 4) AS rel_err
       |FROM fin)""".stripMargin

  /** HyperLogLog distinct-count sketch from first principles — the OTHER
    * mergeable cardinality estimator next to dp11's KMV, and the one a
    * 100 TB profiler actually ships (fixed 256-register state vs KMV's
    * k values; registers merge by per-slot MAX, so a 1000-executor build
    * is one tiny combine). Flajolet et al. 2007 layout: the md5-60bit
    * hash splits into a register index (low 8 bits) and a 52-bit value
    * whose leading-zero run sets the register via rho = 52 − msb.
    *
    * Engine-exactness, the design problem: rho must NOT come from
    * floating log2 (exact powers of two sit on the rounding seam), so
    * msb is computed by an exact integer join against a 53-row
    * powers-of-two frame — and because msb is monotone in the value,
    * the per-register aggregate is just MIN(w) over RAW ROWS (insert
    * idempotence for free: no distinct shuffle anywhere in the sketch
    * path — the whole point vs COUNT(DISTINCT)). The harmonic-mean
    * denominator Σ 2^−reg is held exact by scaling to the integer
    * Σ 2^(53−reg) (≤ 256·2^53 < 2^62), one double division at the end;
    * the small-range linear-counting branch (raw ≤ 2.5m, zeros present
    * — nation's 25 keys trigger it) uses t18's integer micro-nat logs,
    * so the correction is integer arithmetic too. The exact
    * COUNT(DISTINCT) alongside is the judge surface a production run
    * would skip.
    */
  val dp16HllSketch: Q = Q.sql(
    "dp16_hll_sketch",
    s"First-principles HyperLogLog ($HllM registers, exact-integer rho + harmonic denominator) vs exact cardinality, per join-key column.",
    dp16Cols.map { case (t, k) => dp16ColSql(t, k) }
      .mkString("", "\nUNION ALL\n", "\nORDER BY tbl, col_name")) { (spark, dir) =>
    val perCol = dp16Cols.map { case (tbl, key) =>
      val jw = Tables.table(spark, dir, tbl)
        .filter(col(key).isNotNull)
        .select(graft.functions.DetHash.md5Long60(col(key).cast("string")).as("h"))
        .select((col("h") % HllM).as("j"), expr(s"h div $HllM").as("w"))
      // ONE fact scan to ≤256 rows, map-side partials — the sketch build
      val mns = jw.groupBy(col("j")).agg(min(col("w")).as("mn"))
      val pows = spark.range(53).select(col("id").as("p"),
        expr("CAST(power(2, id) AS BIGINT)").as("pv"))
      val touched = mns.join(pows, col("pv") <= col("mn"), "left")
        .groupBy(col("j"), col("mn")).agg(max(col("p")).as("msb"))
        .select(col("j"), coalesce(lit(52) - col("msb"), lit(53)).as("reg"))
      val regs = spark.range(HllM).select(col("id").as("rj"))
        .join(touched, col("rj") === col("j"), "left")
        .select(coalesce(col("reg"), lit(0)).as("reg"))
      val agg = regs.agg(
        sum(expr("CAST(power(2, 53 - reg) AS BIGINT)")).as("s_denom"),
        sum(when(col("reg") === 0, 1L).otherwise(0L)).as("v_zero"))
      val ex = Tables.table(spark, dir, tbl)
        .filter(col(key).isNotNull)
        .agg(count_distinct(col(key)).as("exact_distinct"))
      val withRaw = agg.crossJoin(ex).withColumn("raw",
        lit(0.7213) / (lit(1.0) + lit(1.079) / lit(HllM.toDouble))
          * lit((HllM * HllM).toDouble) * lit(9007199254740992.0)
          / col("s_denom").cast("double"))
      val lnq = (c: Column) => floor(log(c) * lit(1.0e6)).cast("bigint")
      val withEst = withRaw.withColumn("est",
        when(col("raw") <= lit((HllM * 5 / 2).toDouble) && col("v_zero") > 0,
          lit(HllM.toDouble)
            * (lnq(lit(HllM.toDouble)) - lnq(col("v_zero").cast("double")))
              .cast("double") / lit(1.0e6))
          .otherwise(col("raw")))
      withEst.select(lit(tbl).as("tbl"), lit(key).as("col_name"),
        col("exact_distinct"),
        col("v_zero").cast("bigint").as("v_zero"),
        col("s_denom").cast("bigint").as("s_denom"),
        round(col("raw"), 4).as("raw_est"),
        round(col("est"), 4).as("est_distinct"),
        round((col("est") - col("exact_distinct")) / col("exact_distinct"), 4)
          .as("rel_err"))
    }
    perCol.reduce(_.union(_)).orderBy("tbl", "col_name")
  }

  /** Count-Min rows (d) — 4 independent md5 hash functions. */
  private val CmD = 4

  /** Count-Min frequency sketch over the lineitem part key — the
    * mergeable FREQUENCY estimator (Cormode & Muthukrishnan 2005) that
    * completes the sketch quartet: dp11/dp16 cardinality, dp12
    * membership, dp14 quantiles, dp17 frequencies. d=4 hash rows of w
    * counters; a key's estimate is the MIN over its 4 counters, so
    * estimates only ever OVERSHOOT (collision mass adds) — `overest`
    * in the output is the measured bias, guaranteed ≥ 0.
    *
    * The width is NOT fixed: w = smallest power of two with 8·w ≥ N,
    * derived from one COUNT(*) by an exact integer join against a
    * powers table (the s5/d5/dp12 adaptive-control pattern — a fixed
    * width saturates a decade up; ~8 rows/bucket pins expected
    * per-counter collision mass at every scale; no float log2 anywhere
    * near the width decision). Build shape: explode ×4 → ONE hash
    * aggregate with map-side partials, ≤ 4w cells total state; counters
    * merge by addition, which is why 1000 executors each build a local
    * 4×w grid and sum them — nothing keyed ever shuffles. The probes
    * are the exact top-10 keys (TakeOrderedAndProject — per-partition
    * partial top-k), which is also the judge surface.
    */
  val dp17CountMin: Q = Q.sql(
    "dp17_countmin",
    s"Count-Min sketch (d=$CmD md5 rows, adaptive power-of-two width) over l_partkey: exact vs estimated counts for the top-10 keys.",
    s"""WITH st AS (SELECT COUNT(*) AS n FROM lineitem),
       |pows AS (SELECT CAST(power(2, i) AS BIGINT) AS pv FROM range(61) t(i)),
       |wsel AS MATERIALIZED (SELECT MIN(pv) AS w FROM pows, st WHERE pv >= (n + 7) // 8),
       |cells AS MATERIALIZED (
       |  SELECT u.i,
       |         ('0x' || substring(md5('cm' || CAST(u.i AS VARCHAR) || ':' ||
       |            CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT
       |           % (SELECT w FROM wsel) AS bucket,
       |         COUNT(*) AS c
       |  FROM lineitem, UNNEST([${(0 until CmD).mkString(", ")}]) AS u(i)
       |  GROUP BY 1, 2),
       |ex AS MATERIALIZED (
       |  SELECT l_partkey AS key, COUNT(*) AS cnt FROM lineitem
       |  GROUP BY 1 ORDER BY cnt DESC, key LIMIT 10),
       |pr AS (
       |  SELECT e.key, e.cnt, u.i,
       |         ('0x' || substring(md5('cm' || CAST(u.i AS VARCHAR) || ':' ||
       |            CAST(e.key AS VARCHAR)), 1, 15))::BIGINT
       |           % (SELECT w FROM wsel) AS bucket
       |  FROM ex e, UNNEST([${(0 until CmD).mkString(", ")}]) AS u(i)),
       |est AS (
       |  SELECT p.key, p.cnt, MIN(c.c) AS est_cnt
       |  FROM pr p JOIN cells c ON p.i = c.i AND p.bucket = c.bucket
       |  GROUP BY 1, 2)
       |SELECT key AS part_key, cnt AS exact_cnt, est_cnt,
       |       est_cnt - cnt AS overest, (SELECT w FROM wsel) AS w_buckets
       |FROM est ORDER BY part_key""".stripMargin) { (spark, dir) =>
    val li = Tables.table(spark, dir, "lineitem")
    val st = li.agg(count(lit(1)).as("n"))
    val pows = spark.range(61).select(expr("CAST(power(2, id) AS BIGINT)").as("pv"))
    // tiny but derived from a fact count — pin so the two consumers
    // (cell build + probe hash) don't each re-run the count
    val wsel = pows.crossJoin(st).filter(col("pv") >= expr("(n + 7) div 8"))
      .agg(min(col("pv")).as("w"))
      .localCheckpoint()
    def hashed(k: Column, w: Column): Column = array((0 until CmD).map { i =>
      struct(lit(i).as("i"),
        (graft.functions.DetHash.md5Long60(
          concat(lit(s"cm$i:"), k.cast("string"))) % w).as("bucket"))
    }: _*)
    // one fact pass to per-key counts FIRST (the same rollup the exact
    // top-10 needs anyway), THEN fan the d hash rows out over KEYS, not
    // fact rows: the sketch-cell aggregate's input shrinks from |fact|·d
    // to |keys|·d and its per-cell count becomes a sum of key counts —
    // identical values (the oracle is unchanged), ~3× less explode/agg
    // work at sf10, and the giant (i, bucket) hash map stops being
    // memory-pressure-sensitive (dp17 swung 23–48s across runs on it)
    val keyCounts = li.groupBy(col("l_partkey").as("k"))
      .agg(count(lit(1)).as("kc"))
      .crossJoin(broadcast(wsel))
      .localCheckpoint() // feeds the cell build AND the exact top-10
    val cells = keyCounts
      .select(col("kc"), explode(hashed(col("k"), col("w"))).as("e"))
      .groupBy(col("e.i").as("i"), col("e.bucket").as("bucket"))
      .agg(sum(col("kc")).as("c"))
    // exact top-10 = the probe set AND the judge surface
    val ex = keyCounts
      .orderBy(col("kc").desc, col("k")).limit(10)
      .select(col("k").as("key"), col("kc").as("cnt"), col("w"))
      .localCheckpoint()
    val pr = ex.select(col("key"), col("cnt"),
      explode(hashed(col("key"), col("w"))).as("e"))
      .select(col("key"), col("cnt"), col("e.i").as("pi"), col("e.bucket").as("pb"))
    val est = broadcast(pr).join(cells,
        col("pi") === col("i") && col("pb") === col("bucket"))
      .groupBy(col("key"), col("cnt")).agg(min(col("c")).as("est_cnt"))
    est.join(broadcast(ex.select(col("key").as("k2"), col("w"))),
        col("key") === col("k2"))
      .select(col("key").as("part_key"), col("cnt").as("exact_cnt"),
        col("est_cnt"), (col("est_cnt") - col("cnt")).as("overest"),
        col("w").as("w_buckets"))
      .orderBy("part_key")
  }

  private val Q44_FANOUT = 4
  /** Pointer-doubling rounds: after R rounds every pointer has advanced
    * min(2^R, depth) steps, so R=6 flattens any hierarchy to depth 64 —
    * i.e. key spaces to 4^64. Fixed (not data-derived) so the plan shape
    * is scale-independent.
    */
  private val Q44_ROUNDS = 6

  /** Hierarchy flatten by POINTER DOUBLING — the dimension-table
    * operation SQL engines express as a recursive CTE (org charts,
    * category trees, thread ancestry) and a distributed engine must NOT
    * run as depth-many dependent joins: each doubling round joins the
    * state against itself (j ← state[j].j, d ← d + state[j].d, path
    * concat), so a depth-D tree flattens in ⌈log₂ D⌉ co-partitionable
    * self equi-joins instead of D — d6's pointer-jumping applied to a
    * hierarchy. The tree is synthetic but fully keyed to the part table:
    * parent(k) = (k−1) div [[Q44_FANOUT]], root 0 — every parent exists
    * by key contiguity at every scale.
    *
    * The oracle IS the textbook recursive CTE (DuckDB WITH RECURSIVE
    * walking parents up to the root), so the compare pins the doubling
    * algebra — root, exact depth, and the full ancestor PATH STRING
    * (nearest parent → root; the concat order is where a doubling bug
    * shows first) — against sequential semantics, plus a per-root
    * subtree rollup.
    *
    * Scale shape: [[Q44_ROUNDS]] self-joins of one narrow row per node,
    * both sides hash-partitioned on the join key, run through [[Rounds]]
    * (checkpointed rounds, AQE on as the session has it); the rollup is
    * one tiny aggregate. At 1e9 nodes the recursive-CTE formulation is
    * 30+ dependent scans; this is 6.
    */
  val q44HierarchyFlatten: Q = Q.sql(
    "q44_hierarchy_flatten",
    s"Hierarchy flatten by pointer doubling ($Q44_ROUNDS rounds, fan-out $Q44_FANOUT tree over part keys): root, depth, ancestor path vs recursive-CTE oracle.",
    s"""WITH RECURSIVE anc AS (
       |  SELECT p_partkey AS node, p_partkey AS cur, 0 AS depth,
       |         CAST('' AS VARCHAR) AS path
       |  FROM part
       |  UNION ALL
       |  SELECT node, (cur - 1) // $Q44_FANOUT AS cur, depth + 1,
       |         CASE WHEN path = '' THEN CAST((cur - 1) // $Q44_FANOUT AS VARCHAR)
       |              ELSE path || '/' || CAST((cur - 1) // $Q44_FANOUT AS VARCHAR) END
       |  FROM anc WHERE cur >= 1),
       |fin AS (SELECT node, cur AS root, depth, path FROM anc WHERE cur = 0),
       |rs AS (SELECT root, COUNT(*) AS root_size FROM fin GROUP BY root)
       |SELECT f.node, f.root, CAST(f.depth AS BIGINT) AS depth, f.path,
       |       rs.root_size
       |FROM fin f JOIN rs ON f.root = rs.root
       |ORDER BY f.node""".stripMargin) { (spark, dir) =>
    val base = Tables.part(spark, dir)
      .select(col("p_partkey").as("node"))
      .select(col("node"),
        when(col("node") === 0, 0L).otherwise(expr(s"(node - 1) div $Q44_FANOUT")).as("j"),
        when(col("node") === 0, 0L).otherwise(1L).as("d"),
        when(col("node") === 0, lit(""))
          .otherwise(expr(s"cast((node - 1) div $Q44_FANOUT as string)")).as("p"))
    val st = Rounds(spark, base, Q44_ROUNDS, aqe = true)((cur, _) =>
      cur.as("a")
        .join(cur.as("b").hint("shuffle_hash"), col("a.j") === col("b.node"))
        .select(col("a.node").as("node"), col("b.j").as("j"),
          (col("a.d") + col("b.d")).as("d"),
          when(col("b.d") === 0, col("a.p"))
            .otherwise(concat(col("a.p"), lit("/"), col("b.p"))).as("p")))
    val rs = st.groupBy(col("j").as("rroot")).agg(count(lit(1)).as("root_size"))
    st.join(broadcast(rs), col("j") === col("rroot"))
      .select(col("node"), col("j").as("root"), col("d").as("depth"),
        col("p").as("path"), col("root_size"))
      .orderBy("node")
  }

  private val PSI_BINS = 10

  /** Population Stability Index between the first and second time half
    * of the event stream, per event_type — THE drift score a production
    * model/data monitor alarms on (PSI > 0.2 = retrain). Cohorts split
    * at the midpoint timestamp (min+max)/2 — exact integer micros, both
    * engines floor the same division — and values land in [[PSI_BINS]]
    * equal-width bins over the global ×100 fixed-point value range
    * (integer bin arithmetic; a fixed reference binning is what real
    * monitors use, so bin edges are NOT per-cohort). Add-one smoothing
    * over the full bin spine keeps empty bins finite (the classic PSI
    * zero-cell fix), deterministically.
    *
    * Exactness: with smoothed counts a,b and totals na,nb, each bin's
    * term is (a/na − b/nb)·ln((a·nb)/(b·na)). The difference and the
    * log argument are exact integers; the log goes through t18/dp15's
    * micro-nat quantization L(k) = floor(ln(k)·1e6), so the per-bin
    * numerator (a·nb − b·na)·(L(a·nb) − L(b·na)) is an EXACT integer
    * (decimal-128 — the factors reach ~1e14·3e7 past BIGINT at 10M
    * rows), monotonicity of floor∘ln keeps it ≥ 0 like true PSI, and
    * the bin PSI and total PSI each convert with ONE double division by
    * na·nb·1e6 — no float reduction anywhere.
    *
    * Scale shape: one scan for the global bounds (4-value aggregate),
    * one scan to the (event_type, cohort, bin) cell frame with map-side
    * partials, then pure broadcast arithmetic on the ~types×[[PSI_BINS]]
    * grid (dp15's shape). The spine cross join is types×10 rows.
    */
  val dp18PsiDrift: Q = Q.sql(
    "dp18_psi_drift",
    s"Population Stability Index (add-one smoothed, $PSI_BINS fixed bins, integer micro-nat logs) between time halves, per event_type.",
    s"""WITH f AS (
       |  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS q,
       |         epoch_us(ts) AS us
       |  FROM events),
       |bd AS (SELECT MIN(us) AS lo, MAX(us) AS hi,
       |              MIN(q) AS qlo, MAX(q) AS qhi FROM f),
       |g AS (
       |  SELECT f.event_type,
       |         CASE WHEN f.us <= (bd.lo + bd.hi) // 2 THEN 0 ELSE 1 END AS cohort,
       |         ((f.q - bd.qlo) * $PSI_BINS) // (bd.qhi - bd.qlo + 1) AS bin
       |  FROM f CROSS JOIN bd),
       |cnt AS (
       |  SELECT event_type, bin,
       |         COUNT(*) FILTER (WHERE cohort = 0) AS ca0,
       |         COUNT(*) FILTER (WHERE cohort = 1) AS cb0
       |  FROM g GROUP BY 1, 2),
       |spine AS (
       |  SELECT et.event_type, b.bin
       |  FROM (SELECT DISTINCT event_type FROM f) et,
       |       (SELECT UNNEST(range($PSI_BINS)) AS bin) b),
       |sm AS (
       |  SELECT s.event_type, s.bin,
       |         COALESCE(c.ca0, 0) + 1 AS a, COALESCE(c.cb0, 0) + 1 AS b
       |  FROM spine s LEFT JOIN cnt c
       |    ON s.event_type = c.event_type AND s.bin = c.bin),
       |tt AS (SELECT event_type, SUM(a) AS na, SUM(b) AS nb FROM sm GROUP BY 1),
       |terms AS (
       |  SELECT sm.event_type, sm.bin, sm.a, sm.b, tt.na, tt.nb,
       |         (CAST(sm.a AS HUGEINT) * tt.nb - CAST(sm.b AS HUGEINT) * tt.na)
       |         * (CAST(FLOOR(ln(CAST(sm.a AS DOUBLE) * tt.nb) * 1000000.0) AS HUGEINT)
       |          - CAST(FLOOR(ln(CAST(sm.b AS DOUBLE) * tt.na) * 1000000.0) AS HUGEINT)) AS t_q
       |  FROM sm JOIN tt ON sm.event_type = tt.event_type),
       |tot AS (SELECT event_type, SUM(t_q) AS psi_q FROM terms GROUP BY 1)
       |SELECT t.event_type, t.bin,
       |       CAST(t.a - 1 AS BIGINT) AS n_ref, CAST(t.b - 1 AS BIGINT) AS n_cur,
       |       ROUND(CAST(t.t_q AS DOUBLE)
       |             / (CAST(t.na AS DOUBLE) * CAST(t.nb AS DOUBLE)) / 1000000.0, 9)
       |         AS psi_bin,
       |       ROUND(CAST(x.psi_q AS DOUBLE)
       |             / (CAST(t.na AS DOUBLE) * CAST(t.nb AS DOUBLE)) / 1000000.0, 9)
       |         AS psi_total
       |FROM terms t JOIN tot x ON t.event_type = x.event_type
       |ORDER BY t.event_type, t.bin""".stripMargin) { (spark, dir) =>
    val f = Tables.events(spark, dir).select(col("event_type"),
      round(col("value") * 100, 0).cast("bigint").as("q"),
      unix_micros(col("ts")).as("us"))
    val bd = f.agg(min(col("us")).as("lo"), max(col("us")).as("hi"),
      min(col("q")).as("qlo"), max(col("q")).as("qhi"))
    val g = f.crossJoin(broadcast(bd))
      .select(col("event_type"),
        when(col("us") <= expr("(lo + hi) div 2"), 0).otherwise(1).as("cohort"),
        expr(s"((q - qlo) * $PSI_BINS) div (qhi - qlo + 1)").as("bin"))
    val cnt = g.groupBy(col("event_type"), col("bin"))
      .agg(count(when(col("cohort") === 0, 1)).as("ca0"),
        count(when(col("cohort") === 1, 1)).as("cb0"))
      .localCheckpoint() // tiny cell frame off one fact scan; spine + types read it
    val spine = cnt.select(col("event_type")).distinct()
      .crossJoin(spark.range(PSI_BINS).select(col("id").as("bin")))
    val sm = spine.join(cnt, Seq("event_type", "bin"), "left")
      .select(col("event_type"), col("bin"),
        (coalesce(col("ca0"), lit(0L)) + 1).as("a"),
        (coalesce(col("cb0"), lit(0L)) + 1).as("b"))
      .localCheckpoint() // consumed by totals and terms
    val tt = sm.groupBy(col("event_type").as("et"))
      .agg(sum(col("a")).as("na"), sum(col("b")).as("nb"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    def lq(c: Column): Column =
      floor(log(c) * lit(1.0e6)).cast("decimal(38,0)")
    val terms = sm.join(broadcast(tt), col("event_type") === col("et"))
      .select(col("event_type"), col("bin"), col("a"), col("b"),
        col("na"), col("nb"),
        ((dec(col("a")) * dec(col("nb")) - dec(col("b")) * dec(col("na")))
          * (lq(col("a").cast("double") * col("nb"))
            - lq(col("b").cast("double") * col("na")))).as("t_q"))
      .localCheckpoint() // two consumers: per-type total and output rows
    val tot = terms.groupBy(col("event_type").as("et2"))
      .agg(sum(col("t_q")).as("psi_q"))
    terms.join(broadcast(tot), col("event_type") === col("et2"))
      .select(col("event_type"), col("bin"),
        (col("a") - 1).cast("bigint").as("n_ref"),
        (col("b") - 1).cast("bigint").as("n_cur"),
        round(col("t_q").cast("double")
          / (col("na").cast("double") * col("nb").cast("double")) / 1.0e6, 9)
          .as("psi_bin"),
        round(col("psi_q").cast("double")
          / (col("na").cast("double") * col("nb").cast("double")) / 1.0e6, 9)
          .as("psi_total"))
      .orderBy("event_type", "bin")
  }

  /** Market-basket association rules over order baskets (basket = the
    * DISTINCT part brands in one order): pair support, per-direction
    * confidence, and lift for every brand pair above 1% relative
    * support — the co-occurrence mining a corpus curator runs to find
    * correlated sources/tags, and the classic frequent-itemset k=2 pass.
    *
    * Scale shape: the basket frame shuffles once on the order key, pairs
    * are generated INSIDE the row from the sorted distinct-item array
    * (flatten ∘ transform — no self-join, no explode-then-rejoin), so
    * per-basket fan-out is bounded by the ITEM-UNIVERSE choose 2 (brands:
    * ≤25·24/2=300 rows) — a hot order cannot go quadratic because the
    * basket is distinct-capped by construction (contrast g3's DEGREE_CAP,
    * which guards an unbounded key). Item counts broadcast to the pair
    * aggregate; the basket total rides a 1-row broadcast crossJoin. All
    * statistics are exact integers; lift/confidence are floor-divided
    * parts-per-million (all-positive, so Spark `div` truncation ==
    * DuckDB `//` floor — the dp13 seam does not arise). The support
    * threshold is RELATIVE (100·n_ab ≥ n), so the query means the same
    * thing at any scale factor. HUGEINT/decimal(38) carries the
    * 1e6·n_ab·n product past BIGINT at 100 TB row counts.
    */
  val dp19AssocRules: Q = Q.sql(
    "dp19_assoc_rules",
    "Brand-pair association rules (support/confidence/lift, ppm) over order baskets at >=1% relative support.",
    """WITH baskets AS (
      |  SELECT DISTINCT l_orderkey AS ok, p_brand AS item
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM baskets),
      |ic AS (SELECT item, COUNT(*) AS cnt FROM baskets GROUP BY item),
      |pairs AS (
      |  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_ab
      |  FROM baskets a JOIN baskets b ON a.ok = b.ok AND a.item < b.item
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT p.item_a, p.item_b, p.n_ab, ia.cnt AS n_a, ib.cnt AS n_b,
      |         CAST((1000000::HUGEINT * p.n_ab * n.n_orders) // (ia.cnt::HUGEINT * ib.cnt) AS BIGINT) AS lift_ppm,
      |         CAST((1000000::HUGEINT * p.n_ab) // ia.cnt AS BIGINT) AS conf_ab_ppm,
      |         CAST((1000000::HUGEINT * p.n_ab) // ib.cnt AS BIGINT) AS conf_ba_ppm
      |  FROM pairs p
      |  JOIN ic ia ON p.item_a = ia.item
      |  JOIN ic ib ON p.item_b = ib.item
      |  CROSS JOIN n
      |  WHERE 100 * p.n_ab >= n.n_orders)
      |SELECT item_a, item_b, n_ab, n_a, n_b, lift_ppm, conf_ab_ppm, conf_ba_ppm
      |FROM scored
      |ORDER BY lift_ppm DESC, item_a, item_b LIMIT 50""".stripMargin) { (spark, dir) =>
    // ONE fact scan and ONE full-fact shuffle: group straight to the
    // per-order sorted distinct-item array (collect_set dedups, so the
    // oracle's DISTINCT pre-pass and its extra (ok, item) shuffle are
    // folded into the same exchange). All three consumers (total, item
    // counts, pair mine) derive from the GROUPED frame, so the pinned
    // artifact is |orders| rows of ≤|brand-universe| arrays — bounded per
    // row — never the raw corpus-scale basket frame (the r11 sf100
    // lesson: corpus-sized localCheckpoints compete with the very
    // execution memory their consumers need).
    val grouped = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("item"))
      .groupBy(col("ok"))
      .agg(sort_array(collect_set(col("item"))).as("items"))
      .localCheckpoint()
    val nOrders = grouped.agg(count(lit(1)).as("n_orders"))
    val itemCounts = grouped.select(explode(col("items")).as("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("cnt"))
    // pair-mine inside the row: sorted distinct items -> all a<b pairs
    val pairs = grouped
      .select(explode(flatten(expr(
        "transform(items, (x, i) -> transform(slice(items, i + 2, size(items)), y -> struct(x AS item_a, y AS item_b)))"
      ))).as("p"))
      .select(col("p.item_a"), col("p.item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(itemCounts.select(col("item").as("item_a"), col("cnt").as("n_a"))), "item_a")
      .join(broadcast(itemCounts.select(col("item").as("item_b"), col("cnt").as("n_b"))), "item_b")
      .crossJoin(broadcast(nOrders))
      .filter(lit(100L) * col("n_ab") >= col("n_orders"))
      // DIV = integral division (truncation); all operands positive, so it
      // equals DuckDB's `//` floor — no rounded-decimal-divide seam
      .select(col("item_a"), col("item_b"), col("n_ab"), col("n_a"), col("n_b"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * n_ab * n_orders) DIV (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)").as("lift_ppm"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * n_ab) DIV n_a AS BIGINT)").as("conf_ab_ppm"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * n_ab) DIV n_b AS BIGINT)").as("conf_ba_ppm"))
      .orderBy(col("lift_ppm").desc, col("item_a"), col("item_b"))
      .limit(50)
  }

  val all: Seq[Q] = Seq(q1Agg, q2Filter, q3Join, q4MultiJoin, q5TopK, q6Window,
    q7Distinct, q8SetOps, q9SemiAnti, q10Rollup, q11CaseAgg, q12DateAgg,
    q13ScalarSubquery, q14Strings, q15Funnel, q16ApproxDistinct, q17SaltedAgg,
    q18AsofJoin, q19Percentile, q20Cube, q21Pivot, q22RangeJoin, q23StringAgg,
    q24JsonFuncs, q25ApproxQuantiles, q26MovingWindow, q27Lateral,
    q28GroupingSets, q29GapFill, q30Unpivot, q31SaltedJoin, q32LatestPerKey,
    q33RankFamily, q34CorrelatedSubquery, q35Scd2, q36IncrementalAgg,
    q37BloomJoin, q38PeakConcurrency, q39Distribution, q40Retention,
    q41Attribution, q42Transitions, q43GroupedTopK,
    dp1Profile, dp3Histogram, dp4Correlation, dp5Outliers, dp6KsTest,
    dp7ChiSquare, dp8Benford, dp9Expectations, dp10SkewAudit, dp11KmvSketch,
    dp12BloomProfile, dp13Moments, dp14QuantileSketch, dp15MutualInfo,
    dp16HllSketch, dp17CountMin, dp18PsiDrift, q44HierarchyFlatten,
    dp19AssocRules)
}
